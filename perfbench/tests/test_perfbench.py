"""Self-tests of the benchmark itself.

    python3 -m unittest discover -s perfbench/tests -v

Run from the repository root. The injection tests each make a short
pipeline run (about a minute each, plus a one-time build).
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402


def bench(*extra):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         "pipeline", "--seed", "5", "--seconds", "1", "--trace", "0",
         *extra], capture_output=True, text=True, check=True).stdout
    return json.loads(out.strip().splitlines()[-1])


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            a = gen.generate(os.path.join(d, "a"), 3, 2)
            gen.generate(os.path.join(d, "b"), 3, 2)
            gen.generate(os.path.join(d, "c"), 4, 2)
            da, db, dc = (gen.tree_digest(os.path.join(d, x)) for x in "abc")
        self.assertEqual(da, db)
        self.assertNotEqual(da, dc)
        docs = a["documents"]
        self.assertEqual(docs["distinct_texts_per_copy"],
                         gen.BASE_DOCS - gen.EXACT_DUPS)
        self.assertEqual(docs["near_dup_pairs_per_copy"], gen.NEAR_DUPS)
        parts = [f for f in a["files"] if f["file"].startswith("documents")]
        self.assertEqual(len(parts), 2)
        self.assertTrue(all(f["row_groups"] == 4 for f in parts))


class MetricsTest(unittest.TestCase):
    @staticmethod
    def op(i, p, t0, t1, err=None, name=None):
        return {"id": i, "pass": p, "kind": "lookup",
                "name": name or f"q{i}", "t0": t0, "t_built": t0, "t1": t1,
                "error": err}

    def result(self, workload, ops, batches=()):
        return {"workload": workload, "session_s": [1.0, 0.1, 0.2],
                "setup_s": [1.0], "retained_heap_mb": 10.0, "ops": ops,
                "batches": list(batches)}

    def test_failed_or_wrong_operation_is_never_timed(self):
        op = self.op
        ops = [op(0, 0, 0.0, 100.0, name="a"), op(1, 1, 0.0, 200.0, name="a"),
               op(2, 2, 0.0, 300.0, name="a"), op(3, 1, 0.0, 50.0, name="b"),
               op(4, 2, 0.0, 1e9, "IllegalStateException: boom", name="b"),
               op(5, 2, 0.0, 1e9, name="b")]
        res = self.result("serve", ops)
        m = run.end_to_end(res, [0.5], [1, 2], wrong={5})
        self.assertEqual(m["pass_s"][0], 0.275)
        # geometric mean of the per-path medians: sqrt(250 * 50)
        self.assertAlmostEqual(m["op_latency_ms"][0], (250 * 50) ** 0.5)
        self.assertAlmostEqual(m["setup_s"][0], 0.5 + 0.2 + 1.0)

    def test_batches_of_a_wrong_operation_are_never_timed(self):
        op = self.op
        ops = [op(0, 1, 0.0, 100.0), op(1, 2, 200.0, 300.0),
               op(2, 2, 300.0, 400.0)]
        batches = [{"start": s, "durations": {"triggerExecution": d}}
                   for s, d in [(10.0, 40), (20.0, 60), (210.0, 5000),
                                (350.0, 70)]]
        res = self.result("pipeline", ops, batches)
        self.assertEqual(run.end_to_end(res, [0.5], [1, 2])
                         ["op_latency_ms"][0], 65)
        m = run.end_to_end(res, [0.5], [1, 2], wrong={1})
        self.assertEqual(m["op_latency_ms"][0], 60)
        self.assertEqual(m["pass_s"][0], 0.1)


class InjectionTest(unittest.TestCase):
    def test_injected_failure_counts_and_is_not_timed(self):
        r = bench("--inject", "fail")
        self.assertFalse(r["correct"])
        self.assertEqual(r["failed"], 1)

    def test_injected_wrong_result_is_caught(self):
        r = bench("--inject", "wrong")
        self.assertFalse(r["correct"])
        self.assertEqual(r["failed"], 1)


if __name__ == "__main__":
    unittest.main()
