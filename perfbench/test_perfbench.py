"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The end-to-end fault-injection tests build the engine on first use and run
the harness in smoke mode (sf0.001 inputs); set PERFBENCH_SKIP_E2E=1 to run
only the fast checks.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402


class CompareTest(unittest.TestCase):
    want = pd.DataFrame({"premium_id": [1, 2, 3], "entry_type": ["a", "b", None],
                         "amount": [1.25, 2.5, np.nan]})

    def test_equal_up_to_row_order_and_tiny_float_noise(self):
        got = self.want.iloc[::-1].copy()
        got["amount"] = got["amount"] + 1e-12
        self.assertIsNone(oracle.compare(got, self.want))

    def test_perturbed_value_trips(self):
        got = self.want.copy()
        got.loc[1, "amount"] = 2.51
        self.assertIn("amount", oracle.compare(got, self.want))

    def test_dropped_row_trips(self):
        self.assertIn("rows", oracle.compare(self.want.iloc[1:], self.want))

    def test_changed_key_trips(self):
        got = self.want.copy()
        got.loc[0, "premium_id"] = 9
        self.assertIn("premium_id", oracle.compare(got, self.want))

    def test_null_mask_trips(self):
        got = self.want.copy()
        got.loc[0, "amount"] = np.nan
        self.assertIn("null mask", oracle.compare(got, self.want))

    def test_column_set_trips(self):
        self.assertIn("columns", oracle.compare(self.want.rename(columns={"amount": "x"}),
                                                self.want))


class MetricRulesTest(unittest.TestCase):
    def test_tail_keeps_ten_units_beyond(self):
        xs = [float(i) for i in range(40)]
        v, p = run.tail(xs)
        self.assertEqual(p, 75.0)
        self.assertGreaterEqual(sum(1 for x in xs if x > v), 10)

    def test_tail_never_below_median(self):
        v, p = run.tail([3.0, 1.0, 2.0])
        self.assertEqual((v, p), (2.0, 50.0))

    def _op(self, name, group, secs, error=None, traced=False):
        return {"name": name, "group": group, "seconds": secs, "traced": traced,
                "error": error, "output": None}

    def test_thrown_operation_fails_and_is_never_timed(self):
        res = {"workload": "gl_full",
               "ops": [self._op("gl_full", 0, 5.0), self._op("gl_full", 1, 0.1, "boom")]}
        units, _ = run.check(res, {})
        self.assertEqual([u["ok"] for u in units], [True, False])
        self.assertEqual(run.batches("gl_full", units), [(0, False, 5.0)])

    def test_bad_ledger_fails_its_whole_cycle(self):
        ops = [self._op("delta", 0, 0.5), self._op("delta", 0, 0.6),
               self._op("ledger", 0, 0.0, error="mismatch"),
               self._op("delta", 1, 0.5), self._op("ledger", 1, 0.0)]
        units, _ = run.check({"workload": "gl_delta", "ops": ops}, {})
        self.assertEqual([u["ok"] for u in units], [False, False, True])
        self.assertEqual(run.batches("gl_delta", units), [(1, False, 0.5)])

    def test_batch_time_takes_the_fastest_untraced_batch(self):
        units, _ = run.check({"workload": "gl_full", "ops": [
            self._op("gl_full", 0, 6.5), self._op("gl_full", 1, 5.0, traced=True),
            self._op("gl_full", 2, 6.0)]}, {})
        done = run.batches("gl_full", units)
        self.assertEqual(run.batch_time("gl_full", units, done), 6.0)

    def test_ops_pass_composes_each_querys_fastest_time(self):
        # pass 0 is slow in its first half, pass 1 in its second; pass 2
        # is traced and pass 3 incomplete, so neither counts
        n = len(run.ITERATIVE)
        ops = [self._op(q, 0, 2.0 if i < n // 2 else 1.0) for i, q in enumerate(run.ITERATIVE)]
        ops += [self._op(q, 1, 1.0 if i < n // 2 else 3.0) for i, q in enumerate(run.ITERATIVE)]
        ops += [self._op(q, 2, 0.1, traced=True) for q in run.ITERATIVE]
        ops += [self._op(run.ITERATIVE[0], 3, 0.1)]
        units, _ = run.check({"workload": "ops_iterative", "ops": ops}, {})
        done = run.batches("ops_iterative", units)
        self.assertEqual(run.batch_time("ops_iterative", units, done), float(n))

    def test_incomplete_pass_is_not_a_batch(self):
        ops = [self._op(q, 0, 1.0) for q in run.ITERATIVE[:-1]]
        units, _ = run.check({"workload": "ops_iterative", "ops": ops}, {})
        self.assertEqual(run.batches("ops_iterative", units), [])


class GeneratorTest(unittest.TestCase):
    def test_affine_map_is_an_in_range_bijection(self):
        import random
        m = gen.affine_bijection(1500, random.Random(3))
        self.assertEqual(sorted(m.tolist()), list(range(1500)))

    def test_seeded_copy_is_deterministic_and_keeps_key_tuples_distinct(self):
        base = os.path.join(HERE, "base", "sf0.001")
        os.makedirs(run.WORK, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=run.WORK) as d:
            gen.generate(base, os.path.join(d, "a"), 5)
            gen.generate(base, os.path.join(d, "b"), 5)
            gen.generate(base, os.path.join(d, "c"), 6)
            read = lambda k, t: pq.read_table(os.path.join(d, k, f"{t}.parquet"))  # noqa: E731
            src = pq.read_table(os.path.join(base, "lineitem.parquet"))
            a, b, c = (read(k, "lineitem") for k in "abc")
            self.assertTrue(a.equals(b))
            self.assertFalse(a.equals(c))
            self.assertTrue(a.schema.equals(src.schema, check_metadata=True))
            li = a.to_pandas()
            key = ["l_orderkey", "l_linenumber", "l_suppkey", "l_partkey"]
            self.assertEqual(li.duplicated(key).sum(), src.to_pandas().duplicated(key).sum())
            orders = set(read("a", "orders").column("o_orderkey").to_pylist())
            self.assertTrue(set(li["l_orderkey"]) <= orders)
            parts = set(read("a", "part").column("p_partkey").to_pylist())
            self.assertTrue(set(li["l_partkey"]) <= parts)


@unittest.skipIf(os.environ.get("PERFBENCH_SKIP_E2E") == "1", "PERFBENCH_SKIP_E2E=1")
class FaultInjectionTest(unittest.TestCase):
    """Smoke runs of the real harness with an injected fault."""

    def bench(self, *extra, workload="gl_full"):
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                            "--seed", "3", "--seconds", "0", "--smoke"] + list(extra),
                           cwd=os.path.dirname(HERE), stdout=subprocess.PIPE, text=True,
                           timeout=900)
        self.assertEqual(r.returncode, 0)
        return json.loads(r.stdout.strip().splitlines()[-1])

    def test_smoke_run_is_correct(self):
        d = self.bench()
        self.assertTrue(d["correct"])
        self.assertEqual(d["failed"], 0)
        self.assertGreater(d["metrics"]["batch_s"]["value"], 0)

    def test_gl_delta_smoke_run_keeps_the_batch_identity(self):
        # one cycle of 4 deltas; the final ledger is checked against the full batch
        d = self.bench("--trace", "1", workload="gl_delta")
        self.assertTrue(d["correct"])
        self.assertEqual(d["attempted"], 4)
        self.assertGreater(d["metrics"]["domain.delta_s"]["value"], 0)
        self.assertGreater(d["metrics"]["ledger.tasks"]["value"], 0)

    def test_gl_delta_wrong_ledger_fails_every_delta(self):
        d = self.bench("--fault", "perturb:gl_delta", workload="gl_delta")
        self.assertFalse(d["correct"])
        self.assertEqual(d["failed"], d["attempted"])

    def test_thrown_operation_counts_as_failed(self):
        d = self.bench("--fault", "throw:gl_full")
        self.assertFalse(d["correct"])
        self.assertEqual(d["failed"], d["attempted"])
        self.assertIsNone(d["metrics"]["batch_s"]["value"])

    def test_perturbed_result_trips_the_oracle(self):
        d = self.bench("--fault", "perturb:gl_full")
        self.assertFalse(d["correct"])
        self.assertEqual(d["failed"], d["attempted"])


if __name__ == "__main__":
    unittest.main()
