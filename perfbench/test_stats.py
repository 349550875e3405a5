"""Self-check of the benchmark's own statistics and failure accounting.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import statistics
import unittest

import stats


def op(name, wall, error=None, check=None, module="m"):
    return {"op": name, "module": module, "wall_s": wall, "error": error,
            "check": check, "counters": None}


def record(passes, trace=False, setup=3.0, heap=100.0):
    return {"workload": "batch", "seed": 1, "trace": trace, "setup_s": setup,
            "inputs_s": 0.0, "shape": None, "retained_heap_mb": heap, "probes": [],
            "context": {}, "passes": [
                {"pass": i, "kind": "cold" if i == 0 else "warm", "traced": False,
                 "checked": i == 0, "wall_s": sum(o["wall_s"] for o in ops), "ops": ops}
                for i, ops in enumerate(passes)]}


class Quantiles(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_quartiles_match_statistics_quantiles(self):
        xs = [10, 1, 7, 3, 9, 4, 2, 8, 6, 5]
        self.assertEqual(stats.quartiles(xs), tuple(statistics.quantiles(xs, n=4)))
        # exclusive method: positions (n+1)p = 2.75, 5.5, 8.25
        self.assertEqual(stats.quartiles(xs), (2.75, 5.5, 8.25))

    def test_iqr_frac(self):
        xs = [10, 1, 7, 3, 9, 4, 2, 8, 6, 5]
        self.assertAlmostEqual(stats.iqr_frac(xs), (8.25 - 2.75) / 5.5)
        self.assertEqual(stats.iqr_frac([2.0] * 10), 0.0)


class Tail(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 1..100
        v, pct, n = stats.tail(xs)
        self.assertEqual((v, pct, n), (90, 90.0, 100))
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_highest_such_percentile(self):
        xs = [float(x) for x in range(1, 31)]
        v, pct, n = stats.tail(xs)
        self.assertEqual(v, 20.0)
        self.assertAlmostEqual(pct, 100 * 20 / 30)
        # the next sample up has only nine beyond it
        self.assertEqual(sum(1 for x in xs if x > 21.0), 9)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 0.5, 10.0, 11.0]
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))
        self.assertEqual(stats.tail(xs)[0], 1.0)

    def test_too_few_samples_gives_the_maximum(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))
        self.assertEqual(stats.tail([1.0] * 10), (1.0, 100.0, 10))
        with self.assertRaises(ValueError):
            stats.tail([])


class Accounting(unittest.TestCase):
    EXPECTED = {"a": {"rows": 2, "digest": "x"}, "b": {"rows": 1, "digest": "y"}}

    def test_clean_run(self):
        r = record([[op("a", 1.0), op("b", 2.0)],
                    [op("a", 0.5, check={"rows": 2, "digest": "x"}),
                     op("b", 1.0, check={"rows": 1, "digest": "y"})]])
        self.assertEqual(stats.accounting(r, self.EXPECTED), (4, 0, []))

    def test_errors_and_wrong_outputs_count(self):
        r = record([[op("a", 1.0, error="boom"), op("b", 2.0)],
                    [op("a", 0.5, check={"rows": 3, "digest": "x"}),
                     op("b", 1.0, check={"rows": 1, "digest": "z"})],
                    [op("a", 0.5), op("b", 1.0)]])
        attempted, failed, names = stats.accounting(r, self.EXPECTED)
        self.assertEqual((attempted, failed), (6, 3))
        self.assertEqual(names, ["pass 0: a", "pass 1: a", "pass 1: b"])

    def test_unrecorded_expectation_fails(self):
        r = record([[op("c", 1.0, check={"rows": 1, "digest": "q"})]])
        self.assertEqual(stats.accounting(r, self.EXPECTED)[1], 1)

    def test_in_jvm_verdicts(self):
        r = record([[op("kmeans", 1.0, check={"ok": True}),
                     op("gemm", 1.0, check={"ok": False})]])
        self.assertEqual(stats.accounting(r, {})[:2], (2, 1))

    def test_fail_frac_and_correct(self):
        r = record([[op("a", 1.0)], [op("a", 1.0, check={"rows": 9, "digest": "x"})]])
        s = stats.summarize(r, self.EXPECTED)
        self.assertFalse(s["contract"]["correct"])
        self.assertEqual(s["fail_frac"], 0.5)
        self.assertEqual((s["contract"]["attempted"], s["contract"]["failed"]), (2, 1))


class EndToEnd(unittest.TestCase):
    def test_metrics_come_from_untraced_warm_passes(self):
        r = record([[op("a", 5.0), op("b", 7.0)],
                    [op("a", 1.0), op("b", 3.0)],
                    [op("a", 2.0), op("b", 2.0)],
                    [op("a", 1.5), op("b", 4.5)]])
        r["passes"].append({"pass": 4, "kind": "warm", "traced": True, "checked": False,
                            "wall_s": 100.0, "ops": [op("a", 50.0), op("b", 50.0)]})
        m, extra = stats.end_to_end(r)
        self.assertEqual(m["setup_s"], (3.0, "s"))
        self.assertEqual(m["cold_pass_s"], (12.0, "s"))
        self.assertEqual(m["warm_pass_s"], (4.0, "s"))
        self.assertEqual(m["op_p50_s"], (2.0, "s"))
        self.assertEqual(m["retained_heap_mb"], (100.0, "MB"))
        self.assertEqual((extra["op_tail_s"], extra["op_samples"]), (4.5, 6))

    def test_contract_shape(self):
        r = record([[op("a", 5.0)], [op("a", 1.0, check={"rows": 2, "digest": "x"})]])
        c = stats.summarize(r, {"a": {"rows": 2, "digest": "x"}})["contract"]
        self.assertEqual(set(c), {"correct", "attempted", "failed", "metrics"})
        for v in c["metrics"].values():
            self.assertEqual(set(v), {"value", "unit"})


if __name__ == "__main__":
    unittest.main()
