#!/usr/bin/env python3
"""Build an sf1-scale bench corpus by 10x-replicating the sf0.1 tables.

Usage:
  python3 tools/make_sf1.py [srcDir] [dstDir] [n]

The driver generates sf0.001/0.01/0.1 only; the r12 verdict (#2) asked for
the bench gate evaluated at sf1 so per-query ratios stop measuring Spark's
~0.3-0.6s job floor. This builds that corpus the same way ReplicateCorpus
builds the SCALING.md replica probes — copy 0 is the identity, copy i
offsets every join key by i*10_000_000 so referential integrity holds
WITHIN each copy and copies never cross-join:

  customer.c_custkey / part.p_partkey / supplier.s_suppkey
  orders.o_orderkey+o_custkey / lineitem.l_orderkey+l_partkey+l_suppkey
  events.event_id+user_id / documents.doc_id / embeddings.vec_id

documents suffix every token with the copy index (internal near-dup
structure survives, cross-copy near-dups don't — duplicate DENSITY stays
the baseline's, pair growth ~N not N^2); embeddings circularly shift by
1+(i-1)%(dim-1) (decorrelates copies, preserves the component
distribution; shift never hits 0 so no cos~1 twins). Same contracts as
ReplicateCorpus.scala — this exists as a tool (not Spark) so the events
timestamp type round-trips bit-exactly for the DuckDB side. nation/region
are fixed dimensions at every TPC-H SF and are copied through unchanged.
"""
import os
import shutil
import sys

import duckdb

OFF = 10_000_000
OFFSETS = {
    "customer": ["c_custkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def copy_select(table, cols, i):
    outs = []
    for name, typ in cols:
        if i > 0 and name in OFFSETS[table]:
            outs.append(f"({name} + {i * OFF})::{typ} AS {name}")
        elif i > 0 and table == "documents" and name == "text":
            outs.append(f"regexp_replace(text, '(\\S+)', '\\1_{i}', 'g') AS text")
        elif i > 0 and table == "embeddings" and name == "embedding":
            # dim read once below; s in [1, dim-1] for every copy
            outs.append(f"list_concat(embedding[{{s}}+1:{{dim}}], "
                        f"embedding[1:{{s}}])::FLOAT[] AS embedding")
        else:
            outs.append(name)
    return ", ".join(outs)


def main():
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    dst = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft-sf1"
    n = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()

    for t in ["region", "nation"]:
        shutil.copyfile(f"{src}/{t}.parquet", f"{dst}/{t}.parquet")
        print(f"  {t}: copied")

    for t in OFFSETS:
        cols = [(r[0], r[1]) for r in con.sql(
            f"DESCRIBE SELECT * FROM '{src}/{t}.parquet'").fetchall()]
        dim = None
        if t == "embeddings":
            dim = con.sql(f"SELECT len(embedding) FROM '{src}/{t}.parquet' "
                          f"LIMIT 1").fetchone()[0]
        parts = []
        for i in range(n):
            sel = copy_select(t, cols, i)
            if t == "embeddings" and i > 0:
                sel = sel.format(s=1 + (i - 1) % (dim - 1), dim=dim)
            parts.append(f"SELECT {sel} FROM '{src}/{t}.parquet'")
        # ONE FILE PER COPY, under a directory named <t>.parquet: a
        # single-file table serializes Spark scans — one row group is one
        # task (SCALING.md's single-row-group floor at sf0.1; the
        # first sf1 cut reproduced it at 10x: text ops grew ~25x on 10x
        # data off a 1-RG documents file), and even multi-RG small files
        # stay at 1-2 splits under the 4 MB openCostInBytes floor. A real
        # 100 TB corpus is many files by construction — this is that
        # layout at bench scale. Spark reads the directory natively;
        # tools/duckdb_baseline.py globs it.
        tdir = f"{dst}/{t}.parquet"
        if os.path.isfile(tdir):
            os.remove(tdir)
        os.makedirs(tdir, exist_ok=True)
        rg = {"documents": 2048, "embeddings": 1024, "events": 65536}
        for i, sel in enumerate(parts):
            con.execute(f"COPY ({sel}) TO '{tdir}/part-{i:03d}.parquet' "
                        f"(FORMAT PARQUET, ROW_GROUP_SIZE {rg.get(t, 122880)})")
        rows = con.sql(
            f"SELECT count(*) FROM '{tdir}/*.parquet'").fetchone()[0]
        print(f"  {t}: {rows} rows in {len(parts)} files")
    print(f"SF1 CORPUS ({n}x {src}) -> {dst}")


if __name__ == "__main__":
    main()
