"""Tests of the benchmark's Python side.

Run from the root of a checkout:
  python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import datetime
import decimal
import io
import json
import os
import random
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import compare  # noqa: E402
import gendata  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402


class CanonTest(unittest.TestCase):
    # The same vectors are checked on the Spark side in FingerprintSpec.scala.
    def test_vectors(self):
        self.assertEqual(oracle.canon(None), "\\N")
        self.assertEqual(oracle.canon(True), "true")
        self.assertEqual(oracle.canon(42), "42")
        self.assertEqual(oracle.canon(0.1), "0.1")
        self.assertEqual(oracle.canon(1234567.891), "1234570")
        self.assertEqual(oracle.canon(-0.0), "0")
        self.assertEqual(oracle.canon(2.5e-7), "0.00000025")
        self.assertEqual(oracle.canon(decimal.Decimal("12.3400")), "12.34")
        self.assertEqual(oracle.canon(decimal.Decimal("5.000")), "5")
        self.assertEqual(oracle.canon("héllo"), "5:héllo")
        self.assertEqual(oracle.canon(datetime.datetime(2024, 1, 1, 0, 0, 1)), "t1704067201000000")
        self.assertEqual(oracle.canon(datetime.date(1970, 1, 11)), "d10")
        self.assertEqual(oracle.canon([1, 2]), "[1,2]")
        self.assertEqual(oracle.canon({"a": 1, "b": "x"}), "{1,1:x}")
        self.assertEqual(oracle.row_text(["b", "a"], (1.5, "z")), "1:z|1.5")


class FingerprintTest(unittest.TestCase):
    cols = ["id", "name", "score"]
    rows = [(1, "a", 0.5), (2, "b", 1.25), (3, None, -3.0)]

    def test_row_order_is_ignored(self):
        shuffled = self.rows[:]
        random.Random(1).shuffle(shuffled)
        self.assertEqual(oracle.fingerprint(self.cols, self.rows),
                         oracle.fingerprint(self.cols, shuffled))

    def test_one_changed_value_is_caught(self):
        changed = self.rows[:]
        changed[1] = (2, "b", 1.5)
        self.assertNotEqual(oracle.fingerprint(self.cols, self.rows),
                            oracle.fingerprint(self.cols, changed))

    def test_known_value(self):
        digest = oracle.row_digest("1:z|1.5")
        self.assertEqual(oracle.fingerprint(["b", "a"], [(1.5, "z")]), f"1:{digest:016x}")


class OracleCheckTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.dir = tempfile.mkdtemp()
        gendata.write(cls.dir, 0.001)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.dir)

    def result(self, fp):
        sql = "SELECT r_regionkey, r_name FROM region"
        return {"ops": {"q_region": {"oracle": sql, "fp": fp, "attempted": 3, "failed": 0},
                        "no_oracle": {"oracle": None, "fp": "1:00", "attempted": 3, "failed": 0}}}

    def test_matching_answer_passes(self):
        con = oracle.connect(self.dir)
        fp = oracle.oracle_fingerprint(con, "SELECT r_name, r_regionkey FROM region ORDER BY 1")
        failed, checked = run.oracle_check(self.result(fp), self.dir)
        self.assertEqual(failed, 0)
        self.assertEqual(checked, {"q_region": fp})

    def test_perturbed_fingerprint_fails_every_execution(self):
        con = oracle.connect(self.dir)
        rows, digest = oracle.oracle_fingerprint(con, "SELECT * FROM region").split(":")
        perturbed = f"{rows}:{(int(digest, 16) + 1) % (1 << 64):016x}"
        failed, _ = run.oracle_check(self.result(perturbed), self.dir)
        self.assertEqual(failed, 3)


class GendataTest(unittest.TestCase):
    def test_tables_are_deterministic(self):
        a, b = gendata.tables(0.001), gendata.tables(0.001)
        self.assertEqual(sorted(a), sorted(oracle.TABLES))
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)


class CompareTest(unittest.TestCase):
    bench = {"end_to_end": [{"name": "pass_s", "unit": "s", "better": "lower", "bound": 0.1}],
             "per_layer": [{"name": "exec.cpu_ms", "unit": "ms", "better": "lower"}]}

    def test_verdicts(self):
        parent = [10.0, 10.2, 9.8, 10.1, 9.9]
        self.assertEqual(compare.verdict(parent, [12.0] * 5, 0.1, True, 0, 5), "worse")
        self.assertEqual(compare.verdict(parent, [9.0] * 5, 0.1, True, 5, 5), "better")
        self.assertEqual(compare.verdict(parent, [10.0] * 5, 0.1, True, 2, 5), "unchanged")
        # nine tenths of the pairs must be won before a gain is claimed
        self.assertEqual(compare.verdict(parent, [9.0] * 5, 0.1, True, 4, 5), "unchanged")
        self.assertEqual(compare.verdict(parent, [11.0] * 5, 0.1, False, 5, 5), "better")

    def test_spread_wider_than_bound_is_unresolved(self):
        noisy = [8.0, 10.0, 12.0, 9.0, 11.0]
        self.assertEqual(compare.verdict(noisy, [10.0] * 5, 0.1, True, 3, 5), "unresolved")
        self.assertEqual(compare.verdict(noisy, [7.0] * 5, 0.1, True, 5, 5), "better")

    def write_runs(self, directory, pass_s, cpu_ms):
        os.makedirs(directory)
        for seed, (p, c) in enumerate(zip(pass_s, cpu_ms)):
            detail = {"detail": {"workload": "corpus", "seed": seed}}
            e2e = {"metrics": {"setup_s": {"value": 1.0, "unit": "s"},
                               "pass_s": {"value": p, "unit": "s"}}}
            layers = {"metrics": {"exec.cpu_ms": {"value": c, "unit": "ms"}}}
            for kind, res in (("e2e", e2e), ("layers", layers)):
                with open(os.path.join(directory, f"{kind}{seed}.out"), "w") as fh:
                    fh.write(json.dumps(detail) + "\n" + json.dumps(res) + "\n")

    def test_report_names_the_layer_that_moved(self):
        root = tempfile.mkdtemp()
        try:
            self.write_runs(os.path.join(root, "p"), [10.0, 10.1, 9.9, 10.0], [100, 101, 99, 100])
            self.write_runs(os.path.join(root, "c"), [12.0, 12.1, 11.9, 12.0], [150, 151, 149, 150])
            out = io.StringIO()
            compare.compare(os.path.join(root, "p"), os.path.join(root, "c"), self.bench, out)
            text = out.getvalue()
            self.assertIn("wins 0/4", text)
            self.assertIn("worse", text)
            self.assertIn("exec.cpu_ms", text)
            self.assertIn("+50%", text)
        finally:
            shutil.rmtree(root)


if __name__ == "__main__":
    unittest.main()
