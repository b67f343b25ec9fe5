"""Tests of the benchmark's own logic. Run from the checkout root:

    python3 -m unittest perfbench/test_perfbench.py

The attribution test builds the benchmark first if it is not built.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import duckdb  # noqa: E402

import gen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402


def scratch():
    d = os.path.join(ROOT, ".bench_work", "test")
    os.makedirs(d, exist_ok=True)
    return tempfile.mkdtemp(dir=d)


class GeneratorTest(unittest.TestCase):
    """At about sf0.001 (a tenth of the bundled sf0.01 orders), what the
    generator says it wrote is what DuckDB reads back from its CSVs."""

    @classmethod
    def setUpClass(cls):
        cls.dir = scratch()
        cls.sf = os.path.join(cls.dir, "sf")
        gen.derive_sf(cls.sf, 11, order_share=0.1)
        cls.base = os.path.join(cls.dir, "base")
        gen.make_base(cls.sf, cls.base, 11)
        cls.delta = os.path.join(cls.dir, "delta_a")
        gen.make_delta(cls.sf, cls.delta, 11, "a")

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.dir, ignore_errors=True)

    def test_sf_size_is_about_sf0001(self):
        n = duckdb.sql(f"SELECT count(*) FROM '{self.sf}/orders.parquet'").fetchone()[0]
        self.assertTrue(1300 <= n <= 1700, n)

    def test_rows_written_match_duckdb_counts(self):
        for d in (self.base, self.delta):
            manifest = json.loads(run._read(os.path.join(d, "manifest.json")))
            for f in gen.ETL_TABLES:
                n = duckdb.sql(f"SELECT count(*) FROM read_csv('{d}/{f}.csv', all_varchar=true, "
                               f"header=true)").fetchone()[0]
                self.assertEqual(n, manifest[f]["rows"], f)
            summary = gen.expect_batch(d)
            self.assertEqual(summary["rows_in"], {f: manifest[f]["rows"] for f in gen.ETL_TABLES})

    def test_planted_keep_last_winners(self):
        manifest = json.loads(run._read(os.path.join(self.base, "manifest.json")))
        con = duckdb.connect()
        gen._stage(con, self.base)
        checked = 0
        for f in gen.ETL_TABLES:
            keys, last = gen.KEYS[f], gen.COLUMNS[f][-1]
            raw = con.execute(f"SELECT * FROM {f}_raw").df()
            for *key, value in manifest[f]["winners"]:
                match = raw
                for k, v in zip(keys, key):
                    match = match[match[k].str.strip() == v]
                if len(match) != 2:  # another row shares the key: not a planted pair
                    continue
                where = " AND ".join(f'"{k}" = {int(v)}' for k, v in zip(keys, key))
                got = con.execute(f'SELECT CAST("{last}" AS VARCHAR) FROM {f}_clean '
                                  f"WHERE {where}").fetchall()
                want = value.strip()
                coerced = con.execute(f"SELECT CAST(TRY_CAST(NULLIF(trim(?), '') AS "
                                      f"{gen.TYPES.get(last, 'VARCHAR')}) AS VARCHAR)",
                                      [want]).fetchone()[0]
                self.assertEqual(got, [(coerced,)], (f, key))
                checked += 1
        self.assertGreaterEqual(checked, gen.MIN_PLANTED)

    def test_dirt_is_planted(self):
        s = gen.expect_batch(self.base)
        self.assertGreater(s["rejects"]["orders"], 0)
        self.assertGreater(s["rejects"]["order_details"], 0)
        for f in gen.ETL_TABLES:
            self.assertLess(s["clean"][f], s["rows_in"][f], f)
        self.assertEqual(s["counts"]["customer"], s["clean"]["customers"])
        self.assertEqual(s["counts"]["orders"], s["clean"]["orders"] - s["rejects"]["orders"])

    def test_merge_counts(self):
        s = gen.expect_batch(self.delta, self.base)
        base = gen.expect_batch(self.base)
        for t, m in s["merge"].items():
            self.assertGreater(m["inserted"], 0, t)
            self.assertGreater(m["updated"], 0, t)
            self.assertEqual(m["total"], base["counts"][t] + m["inserted"], t)

    def test_same_seed_same_inputs(self):
        again = os.path.join(self.dir, "again")
        gen.make_base(self.sf, again, 11)
        for f in gen.ETL_TABLES:
            with open(os.path.join(again, f"{f}.csv"), "rb") as a, \
                    open(os.path.join(self.base, f"{f}.csv"), "rb") as b:
                self.assertEqual(a.read(), b.read(), f)

    def test_refuses_flag_like_output_paths(self):
        for p in ("--help", "-o", os.path.join(self.dir, "--help")):
            with self.assertRaises(ValueError):
                gen.derive_sf(p, 1)
            with self.assertRaises(ValueError):
                gen.make_base(self.sf, p, 1)
        self.assertFalse(os.path.exists(os.path.join(self.dir, "--help")))


class PercentileTest(unittest.TestCase):
    def test_median_needs_ten_samples_beyond_it(self):
        self.assertIsNone(metrics.percentile(list(range(19)), 0.5))
        self.assertEqual(metrics.percentile(list(range(20)), 0.5), 9)

    def test_p90_withheld_below_a_hundred_samples(self):
        self.assertIsNone(metrics.percentile(list(range(99)), 0.9))
        self.assertEqual(metrics.percentile(list(range(100)), 0.9), 89)
        self.assertEqual(metrics.percentile(list(range(1000)), 0.9), 899)

    def test_empty(self):
        self.assertIsNone(metrics.percentile([], 0.5))

    def test_latency_summary_withholds(self):
        ops = [{"name": "q", "s": float(i)} for i in range(30)]
        s = metrics.latency_summary(ops)["q"]
        self.assertEqual((s["n"], s["p50_s"], s["p90_s"]), (30, 14.0, None))


class AttributionTest(unittest.TestCase):
    def test_stage_to_module(self):
        cp, opts = run.ensure_built()
        tmp = scratch()
        try:
            r = subprocess.run(["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
                                f"-Dspark.local.dir={tmp}"] + opts +
                               ["-cp", cp, "perfbench.SelfTest"], cwd=tmp,
                               stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                               timeout=300)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        self.assertIn("selftest ok", r.stdout)


class CommandTest(unittest.TestCase):
    def test_fails_without_the_engine_sources(self):
        """In a directory holding only BENCHMARK.json and perfbench/, the
        command exits non-zero and prints no result."""
        d = scratch()
        try:
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "etl",
                                "--seed", "1", "--seconds", "1", "--trace", "0"], cwd=d,
                               stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                               timeout=170)
        finally:
            shutil.rmtree(d, ignore_errors=True)
        self.assertNotEqual(r.returncode, 0)
        self.assertNotIn('"correct"', r.stdout)


if __name__ == "__main__":
    unittest.main()
