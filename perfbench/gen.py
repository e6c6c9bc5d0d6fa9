"""Seeded input generator for the graft benchmark.

Two kinds of input, both a pure function of (seed, size):

* ``corpus(dst, seed, sf)`` writes the ten parquet tables graft's query
  registry reads (TPC-H-shaped star schema plus ``events``, ``documents``
  and ``embeddings``), with the column types, value ranges and
  near-duplicate structure of the reference test corpus at scale factor
  ``sf``. Row counts follow that corpus: lineitem 6e6*sf, events 1e6*sf,
  documents and embeddings at least 500.
* ``series(dst, seed, n_compounds, n_samples)`` writes one reference-shaped
  JSON array per compound (the ``Tables.seriesSchema`` fields) plus
  ``series.csv``, the same records in one flat file for the selection
  model. Compounds share flask samples (same ``date`` + ``flask_number``),
  so selection keys collide across compounds the way they do in the
  reference data, and about 1% of points are planted outliers.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = np.array(["en", "es", "fr", "zh", "de"])
LANG_P = [0.44, 0.14, 0.13, 0.15, 0.14]
SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"])
PTYPES = np.array(["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"])
ADJ = np.array(["red", "old", "cold", "hot", "new", "large", "small", "blue"])
NOUN = np.array(["bolt", "anvil", "plate", "widget", "gear", "ring", "rod", "gizmo"])
EVENT_TYPES = np.array(["click", "signup", "error", "view", "purchase"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])

DAY_US = 86_400_000_000


def _days(rng, start, end, n):
    """n random whole-day timestamps in [start, end] as datetime64[us]."""
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int) + 1
    return (lo + rng.integers(0, span, n)).astype("datetime64[us]")


def _cents(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(dst, name, cols):
    pq.write_table(pa.table(cols), os.path.join(dst, f"{name}.parquet"))


def corpus(dst, seed, sf):
    os.makedirs(dst, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 20)
    n_ord = max(int(1_500_000 * sf), 100)
    n_line = max(int(6_000_000 * sf), 400)
    n_ev = max(int(1_000_000 * sf), 100)
    n_users = max(int(15_000 * sf), 5)
    n_docs = max(int(50_000 * sf), 500)
    n_emb = max(int(20_000 * sf), 500)

    _write(dst, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(dst, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    _write(dst, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)]})
    _write(dst, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    _write(dst, "part", {
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(ADJ[rng.integers(0, 8, n_part)], " "),
                              NOUN[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": PTYPES[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2)})
    _write(dst, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _cents(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, n_ord)]})
    _write(dst, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _cents(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line)})

    # events: time-ordered ids over January 2024, microsecond timestamps
    span_us = 30 * DAY_US
    ts = np.sort(rng.integers(0, span_us, n_ev)) + np.datetime64("2024-01-01", "us")
    _write(dst, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n_ev)],
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    # documents: random-word texts; ~5% are an earlier document plus a
    # trailing " dup" token (near-duplicate chains, as in the reference corpus)
    words = np.array(WORDS)
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 100)))]))
    _write(dst, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": LANGS[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    v = rng.standard_normal((n_emb, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    _write(dst, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32))})
    return {"sf": sf, "lineitem_rows": n_line, "events_rows": n_ev,
            "events_bytes": os.path.getsize(os.path.join(dst, "events.parquet"))}


def series(dst, seed, n_compounds, n_samples):
    """Per-compound JSON arrays sharing flask samples across compounds."""
    os.makedirs(dst, exist_ok=True)
    rng = np.random.default_rng(seed)
    t0 = 1_072_915_200  # 2004-01-01 UTC, epoch seconds
    years = 8
    # whole-minute-distinct sample times so every (minute, flask) key is unique
    minutes = np.sort(rng.choice(years * 365 * 1440, n_samples, replace=False))
    dates = (t0 + minutes * 60 + rng.integers(0, 60, n_samples)).astype(np.float64)
    flasks = np.array([f"{1000 + i}-{int(f)}" for i, f in
                       enumerate(rng.integers(0, 100, n_samples))])
    lat = np.round(rng.uniform(-80, 80, n_samples), 2)
    lon = np.round(rng.uniform(-180, 180, n_samples), 2)
    alt = np.round(rng.uniform(0, 5000, n_samples), 1)
    rows = []
    names = [f"compound {c}" for c in range(n_compounds)]
    for c, name in enumerate(names):
        keep = rng.random(n_samples) < 0.9
        phase = (dates - t0) / (365.25 * 86400) * 2 * np.pi
        base = 400 + 150 * np.sin(phase + c) + 20 * (dates - t0) / (365.25 * 86400)
        val = np.round(base + rng.normal(0, 15, n_samples), 2)
        out = rng.random(n_samples) < 0.01
        val[out] += np.round(rng.choice([-1, 1], out.sum()) * rng.uniform(400, 900, out.sum()), 2)
        recs = []
        for i in np.nonzero(keep)[0]:
            d = float(dates[i])
            tm = np.datetime64(int(d), "s").astype(object)
            recs.append({"date": d, "meas_date": d + 3600.0, "value": float(val[i]),
                         "flask_number": str(flasks[i]), "year": tm.year,
                         "month": tm.month, "day": tm.day, "lat": float(lat[i]),
                         "lon": float(lon[i]), "alt": float(alt[i])})
            rows.append((name, d, str(flasks[i]), float(val[i])))
        with open(os.path.join(dst, f"{name}.json"), "w") as f:
            json.dump(recs, f)
    with open(os.path.join(dst, "series.csv"), "w") as f:
        for r in rows:
            f.write(f"{r[0]},{r[1]!r},{r[2]},{r[3]!r}\n")
    return {"compounds": n_compounds, "samples": n_samples, "points": len(rows)}
