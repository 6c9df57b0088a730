"""Self-tests of the benchmark itself. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests -v

They use the smoke configuration (tiny sizes), so they check wiring and
correctness checks, not speed. The first test to run builds the program.
"""
import json
import subprocess
import sys
import unittest

BENCHMARK = json.load(open("BENCHMARK.json"))
WORKLOADS = [w["name"] for w in BENCHMARK["workloads"]]


def run(workload, *extra, seed=7):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
                        "--seconds", "1", *extra], capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, lines[-1] if lines else "", p.stderr


class SameSeedSameInputs(unittest.TestCase):
    def test_generated_inputs_repeat_byte_for_byte(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                a = run(w, "--digest-inputs", seed=11)
                b = run(w, "--digest-inputs", seed=11)
                c = run(w, "--digest-inputs", seed=12)
                self.assertEqual(a[0], 0, a[2][-2000:])
                self.assertEqual(a[1], b[1])
                self.assertNotEqual(a[1], c[1])


class SmokeEmitsEveryMetric(unittest.TestCase):
    def check(self, trace, metrics):
        expected = {m["name"]: m["unit"] for m in metrics}
        for w in WORKLOADS:
            with self.subTest(workload=w, trace=trace):
                code, last, err = run(w, "--smoke", "--trace", str(trace))
                self.assertEqual(code, 0, err[-3000:])
                r = json.loads(last)
                self.assertEqual(set(r), {"correct", "attempted", "failed", "metrics"})
                self.assertTrue(r["correct"])
                self.assertGreaterEqual(r["attempted"], 1)
                self.assertEqual(r["failed"], 0)
                self.assertEqual({k: v["unit"] for k, v in r["metrics"].items()}, expected)

    def test_end_to_end(self):
        self.check(0, BENCHMARK["end_to_end"])

    def test_per_layer(self):
        self.check(1, BENCHMARK["per_layer"])


class CorruptedOutputFails(unittest.TestCase):
    def test_error_rate_reaches_one(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                code, last, err = run(w, "--smoke", "--corrupt")
                self.assertNotEqual(code, 0)
                r = json.loads(last)
                self.assertFalse(r["correct"])
                self.assertEqual(r["failed"], r["attempted"])


if __name__ == "__main__":
    unittest.main()
