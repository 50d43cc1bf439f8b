"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

Run from the root of a checkout. The generator tests take seconds; the
counter test builds the program as run.py does and runs the traced
secpipe_batch workload twice (a few minutes).
"""
import hashlib
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402


# Every generator, the stream one (window of 4 s) too.
GENERATORS = dict(gen.GENERATORS, soc_stream=lambda seed, work: gen.stream(seed, work, 4))


def generate(workload, seed):
    """sha256 over every generated file, path and bytes."""
    with tempfile.TemporaryDirectory() as work:
        GENERATORS[workload](seed, work)
        h = hashlib.sha256()
        for root, _, files in sorted(os.walk(work)):
            for name in sorted(files):
                path = os.path.join(root, name)
                h.update(os.path.relpath(path, work).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
        return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def test_same_seed_gives_identical_bytes(self):
        for workload in GENERATORS:
            with self.subTest(workload=workload):
                self.assertEqual(generate(workload, 7), generate(workload, 7))

    def test_other_seed_gives_other_inputs(self):
        for workload in GENERATORS:
            with self.subTest(workload=workload):
                self.assertNotEqual(generate(workload, 7), generate(workload, 8))


# Counts that do not depend on timing. Shuffle bytes are left out: the
# reduce side fetches map outputs in whatever order they arrive, so the
# next stage compresses the same records in another order and its byte
# count moves by a fraction of a percent between identical runs.
EXACT = ["spark.jobs", "spark.stages", "spark.tasks", "spark.shuffle_write_records",
         "spark.shuffle_read_records", "plan.queries"]


def traced_secpipe(seed):
    """The result line of a traced run, and its check lines."""
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "secpipe_batch",
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        stdout=subprocess.PIPE, text=True, check=True)
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-1]), "\n".join(l for l in lines if l.startswith("check:"))


class CounterTest(unittest.TestCase):
    def test_exact_counters_repeat_with_the_same_seed(self):
        (first, checks1), (second, checks2) = traced_secpipe(5), traced_secpipe(5)
        self.assertTrue(first["correct"], checks1)
        self.assertTrue(second["correct"], checks2)
        for name in EXACT:
            with self.subTest(metric=name):
                self.assertEqual(first["metrics"][name]["value"],
                                 second["metrics"][name]["value"])


if __name__ == "__main__":
    unittest.main()
