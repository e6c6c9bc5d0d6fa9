"""Tests of the benchmark's own checks: each checker rejects a planted wrong
answer, and inputs are a pure function of the seed.

Run from the repository root:  python3 -m pytest perfbench/tests
(or python3 -m unittest discover -s perfbench/tests)
"""
import filecmp
import json
import os
import shutil
import subprocess
import sys
import time
import unittest

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import build  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

SCRATCH = os.path.join(os.getcwd(), ".bench_build", "test")


def fresh(name):
    d = os.path.join(SCRATCH, name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


class OracleCheck(unittest.TestCase):
    def test_rejects_planted_wrong_answer(self):
        d = fresh("oracle")
        inp = os.path.join(d, "input")
        out = os.path.join(d, "outputs")
        gen.corpus(inp, 7, 0.001)
        sql = "SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1"
        con = duckdb.connect()
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{inp}/events.parquet'")
        for name, bump in (("q_right", 0), ("q_wrong", 1)):
            os.makedirs(os.path.join(out, name))
            con.sql(f"SELECT event_type, n + (CASE WHEN event_type = 'click' THEN {bump} "
                    f"ELSE 0 END) AS n FROM ({sql})").write_parquet(
                os.path.join(out, name, "part-0.parquet"))
        with open(os.path.join(out, "oracle_sql.json"), "w") as f:
            json.dump({"q_right": sql, "q_wrong": sql}, f)
        failed = run.oracle_failures(inp, out, time.monotonic() + 120)
        self.assertEqual(set(failed), {"q_wrong"})


class SelectionModelCheck(unittest.TestCase):
    def test_rejects_planted_wrong_answers(self):
        classes = build.build()
        tmp = fresh("selftest")
        p = subprocess.run(run.java_cmd(classes, tmp, "graft.bench.SelfTest", []),
                           capture_output=True, text=True, timeout=300)
        self.assertEqual(p.returncode, 0, p.stdout + p.stderr)
        self.assertIn("count: planted wrong answer rejected", p.stdout)
        self.assertIn("export: planted missing key rejected", p.stdout)
        self.assertIn("auto-QC: planted missing key rejected", p.stdout)


class Inputs(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        d = fresh("inputs")
        for sub in ("a", "b"):
            gen.series(os.path.join(d, sub, "series"), 5, 3, 50)
            gen.corpus(os.path.join(d, sub, "corpus"), 5, 0.001)
        for kind in ("series", "corpus"):
            a, b = os.path.join(d, "a", kind), os.path.join(d, "b", kind)
            names = sorted(os.listdir(a))
            _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
            self.assertEqual((mismatch, errors), ([], []), kind)

    def test_series_records_match_the_model_file(self):
        d = fresh("series")
        info = gen.series(d, 9, 3, 40)
        records = 0
        for f in os.listdir(d):
            if f.endswith(".json"):
                with open(os.path.join(d, f)) as fh:
                    records += len(json.load(fh))
        with open(os.path.join(d, "series.csv")) as fh:
            rows = fh.read().splitlines()
        self.assertEqual(records, len(rows))
        self.assertEqual(records, info["points"])


if __name__ == "__main__":
    unittest.main()
