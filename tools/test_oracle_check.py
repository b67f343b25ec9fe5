"""Tests of tools/oracle_check.py on a tiny DuckDB-written fixture:

    python3 -m unittest tools/test_oracle_check.py
"""
import contextlib
import io
import json
import os
import shutil
import sys
import tempfile
import unittest
from unittest import mock

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import oracle_check  # noqa: E402

ORACLE = {
    "q_count": "SELECT count(*) AS n FROM region",
    "q_names": "SELECT r_name FROM region WHERE r_key > 0",
}


class OracleCheckTest(unittest.TestCase):
    def setUp(self):
        self.root = tempfile.mkdtemp(prefix="oracle_check_")
        self.sf = os.path.join(self.root, "sf")
        self.out = os.path.join(self.root, "out")
        os.makedirs(self.sf)
        os.makedirs(self.out)
        con = duckdb.connect()
        # every table the checker mounts must exist; only region has rows
        for t in oracle_check.TABLES:
            rows = ("SELECT * FROM (VALUES (0, 'AFRICA'), (1, 'ASIA'), (2, 'EUROPE'))"
                    " t(r_key, r_name)" if t == "region" else "SELECT 1 AS x")
            con.sql(f"COPY ({rows}) TO '{self.sf}/{t}.parquet' (FORMAT PARQUET)")
        with open(os.path.join(self.out, "oracle_sql.json"), "w") as f:
            json.dump(ORACLE, f)
        self.con = con

    def tearDown(self):
        shutil.rmtree(self.root)

    def spark_output(self, name, select):
        """Writes a result dir the way graft.Verify lays it out."""
        os.makedirs(os.path.join(self.out, name))
        self.con.sql(f"COPY ({select}) TO '{self.out}/{name}/part-0.parquet' (FORMAT PARQUET)")

    def check(self, only=None):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            code = oracle_check.main(self.sf, self.out, only)
        return code, buf.getvalue()

    def test_full_run_passes_when_every_query_matches(self):
        self.spark_output("q_count", "SELECT 3::BIGINT AS n")
        self.spark_output("q_names", "SELECT * FROM (VALUES ('EUROPE'), ('ASIA')) t(r_name)")
        code, text = self.check()
        self.assertEqual(code, 0, text)
        self.assertIn("ALL PASS", text)
        self.assertNotIn("subset", text)

    def test_full_run_reports_an_unrun_query_missing(self):
        self.spark_output("q_count", "SELECT 3::BIGINT AS n")
        code, text = self.check()
        self.assertEqual(code, 1)
        self.assertRegex(text, r"q_names\s+MISSING spark output")
        self.assertIn("1 FAILURES", text)

    def test_subset_run_checks_only_the_listed_queries(self):
        self.spark_output("q_count", "SELECT 3::BIGINT AS n")
        code, text = self.check({"q_count"})
        self.assertEqual(code, 0, text)
        self.assertNotIn("q_names", text.replace("subset", ""))
        self.assertIn("ALL PASS [subset 1/2: q_count]", text)

    def test_subset_still_compares_values(self):
        self.spark_output("q_count", "SELECT 4::BIGINT AS n")
        code, text = self.check({"q_count"})
        self.assertEqual(code, 1)
        self.assertRegex(text, r"q_count\s+FAIL col n")

    def test_listed_name_without_output_is_missing(self):
        self.spark_output("q_count", "SELECT 3::BIGINT AS n")
        code, text = self.check({"q_count", "q_names"})
        self.assertEqual(code, 1)
        self.assertRegex(text, r"q_names\s+MISSING spark output")
        self.assertIn("1 FAILURES [subset 2/2: q_count,q_names]", text)

    def test_listed_name_without_oracle_sql_fails(self):
        code, text = self.check({"q_unknown"})
        self.assertEqual(code, 1)
        self.assertRegex(text, r"q_unknown\s+MISSING oracle sql")

    def test_subset_comes_from_the_verify_filter_variable(self):
        with mock.patch.dict(os.environ, {"SPARK_GRAFT_ONLY": "q_count,q_names"}):
            self.assertEqual(oracle_check.only_from_env(), {"q_count", "q_names"})
        with mock.patch.dict(os.environ, {"SPARK_GRAFT_ONLY": ""}):
            self.assertIsNone(oracle_check.only_from_env())
        with mock.patch.dict(os.environ, {}, clear=True):
            self.assertIsNone(oracle_check.only_from_env())


if __name__ == "__main__":
    unittest.main()
