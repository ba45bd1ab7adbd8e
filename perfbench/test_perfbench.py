"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The generator and checker tests take seconds. The traced-run determinism
test builds the engine and runs each workload traced twice (several
minutes); it runs only when PERFBENCH_SLOW=1.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def _eventstore(self, seed, name):
        out = os.path.join(self.tmp, name)
        gen.eventstore(seed, out, aggregates=300, n_ops=40, append_commits=5)
        return gen.digest(out)

    def _tables(self, seed, name):
        out = os.path.join(self.tmp, name)
        gen.suite_tables(seed, out, docs=60, embeddings=40, events=500, users=20)
        return gen.digest(out)

    def test_same_seed_same_inputs(self):
        self.assertEqual(self._eventstore(7, "a"), self._eventstore(7, "b"))
        self.assertEqual(self._tables(7, "c"), self._tables(7, "d"))
        rows = ["r%d" % i for i in range(10)]
        self.assertEqual(gen.row_order(7, rows), gen.row_order(7, rows))

    def test_other_seed_other_inputs(self):
        self.assertNotEqual(self._eventstore(7, "a"), self._eventstore(8, "b"))
        self.assertNotEqual(self._tables(7, "c"), self._tables(8, "d"))
        rows = ["r%d" % i for i in range(10)]
        self.assertNotEqual(gen.row_order(7, rows), gen.row_order(8, rows))

    def test_op_mix_and_answers(self):
        out = os.path.join(self.tmp, "es")
        gen.eventstore(3, out, aggregates=300, n_ops=40, append_commits=5)
        with open(os.path.join(out, "ops.tsv")) as f:
            ops = [l.rstrip("\n").split("\t") for l in f]
        kinds = [o[0] for o in ops]
        self.assertEqual(len(kinds), 40)
        self.assertEqual({k: kinds.count(k) for k in set(kinds)},
                         {"load": 28, "page": 4, "replay": 4, "append": 4})
        # a load after an append of the same aggregate sees the appended events
        counts = {}
        for o in ops:
            if o[0] == "load":
                counts.setdefault(o[1], []).append(int(o[2]))
        self.assertTrue(all(a <= b for c in counts.values() for a, b in zip(c, c[1:])))


class CheckerTest(unittest.TestCase):
    def setUp(self):
        self.df = pd.DataFrame({"id": [1, 2, 3, 4], "v": ["a", "b", "c", "d"], "x": [0.5, 1.5, 2.5, 3.5]})
        self.want = oracle.fingerprint(self.df)

    def test_identical_output_passes(self):
        self.assertIsNone(oracle.compare(self.want, self.df.copy()))
        # column order does not matter, as in tools/hashcheck.py
        self.assertIsNone(oracle.compare(self.want, self.df[["x", "id", "v"]]))

    def test_dropped_row_fails(self):
        self.assertIsNotNone(oracle.compare(self.want, self.df.drop(index=2).reset_index(drop=True)))

    def test_reordered_rows_fail(self):
        swapped = self.df.iloc[[0, 2, 1, 3]].reset_index(drop=True)
        self.assertIsNotNone(oracle.compare(self.want, swapped))

    def test_changed_value_fails(self):
        changed = self.df.copy()
        changed.loc[3, "x"] = 3.25
        self.assertIsNotNone(oracle.compare(self.want, changed))


DETERMINISTIC = ["spark.jobs", "spark.tasks", "write.files", "write.bytes", "stream.batches"]


@unittest.skipUnless(os.environ.get("PERFBENCH_SLOW") == "1", "set PERFBENCH_SLOW=1 to run")
class TracedDeterminismTest(unittest.TestCase):
    def _traced(self, workload):
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                            "--seed", "11", "--seconds", "1", "--trace", "1"],
                           cwd=os.path.dirname(HERE), capture_output=True, text=True)
        self.assertEqual(r.returncode, 0, r.stderr[-2000:])
        result = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertTrue(result["correct"], r.stdout)
        return {k: result["metrics"][k]["value"] for k in DETERMINISTIC}

    def test_two_traced_runs_agree(self):
        for workload in ("eventstore_ops", "composed_rows", "kernel_rows"):
            with self.subTest(workload=workload):
                self.assertEqual(self._traced(workload), self._traced(workload))


if __name__ == "__main__":
    unittest.main()
