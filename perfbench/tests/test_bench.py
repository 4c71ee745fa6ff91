"""The benchmark's own tests: loud query selection, failures counted as
failures, the timing arithmetic, and a refusal to run without the engine.

Run from the repository root:  python3 -m unittest discover -s perfbench/tests
(about two minutes; builds the engine first if needed).
"""
import json
import os
import shutil
import statistics
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import build  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

SCRATCH = os.path.join(BENCH, ".work", "tests")


def launch(built, data, work, queries, passes=1):
    """The benchmark JVM on `data`, as run.py launches it."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "run.json")
    cmd = run.jvm_command(*built, work) + [
        "--data", data, "--work", work,
        "--out", out, "--cores", "2", "--passes", str(passes),
        "--trace", "0", "--seed", "0",
        "--check-dir", os.path.join(work, "outputs"),
        "--spans", os.path.join(work, "spans.json"), "--queries", queries]
    r = subprocess.run(cmd, cwd=work, capture_output=True, text=True,
                       timeout=300)
    return r, out


class JvmTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.built = build.ensure_built()
        cls.data = os.path.join(SCRATCH, "data")
        if not os.path.exists(os.path.join(cls.data, "events.parquet")):
            gen.generate(cls.data, 0, 0.001)


class SelectionTest(JvmTest):
    """Unknown or empty query lists abort the JVM before anything runs."""

    def launch(self, queries):
        return launch(self.built, self.data, os.path.join(SCRATCH, "select"),
                      queries)

    def test_unknown_name_aborts(self):
        r, out = self.launch("q01_agg_pricing,q9999_no_such_query")
        self.assertEqual(r.returncode, 3)
        self.assertIn("q9999_no_such_query", r.stderr + r.stdout)
        self.assertFalse(os.path.exists(out))

    def test_empty_selection_aborts(self):
        r, out = self.launch("")
        self.assertEqual(r.returncode, 3)
        self.assertFalse(os.path.exists(out))


class FailureTest(JvmTest):
    """A query that throws is a failure, and its time is never counted:
    q55 reads the embeddings table, which this copy of the inputs lacks."""

    def test_throwing_query_is_failed_not_fast(self):
        data = os.path.join(SCRATCH, "data-no-embeddings")
        shutil.rmtree(data, ignore_errors=True)
        shutil.copytree(self.data, data,
                        ignore=shutil.ignore_patterns("embeddings.parquet"))
        passes = 2
        r, out = launch(self.built, data, os.path.join(SCRATCH, "fail"),
                        "q01_agg_pricing,q55_cosine_knn", passes)
        self.assertEqual(r.returncode, 0, r.stderr[-2000:])
        with open(out) as f:
            res = json.load(f)
        items = res["items"]
        bad = [i for i in items if i["name"] == "q55_cosine_knn"]
        good = [i for i in items if i["name"] == "q01_agg_pricing"]
        # every timed pass and the correctness pass report it as failed
        self.assertEqual(len(bad), passes)
        self.assertTrue(all(not i["ok"] and i["error"] for i in bad))
        self.assertTrue(res["queries"]["q55_cosine_knn"]["error"])
        self.assertTrue(all(i["ok"] for i in good))
        self.assertFalse(res["queries"]["q01_agg_pricing"]["error"])
        # its time enters neither wall_s nor the latency samples
        wall, samples = run.timing(items)
        self.assertAlmostEqual(
            wall, statistics.median(i["s"] for i in good), delta=1e-9)
        self.assertEqual(sorted(samples), sorted(i["s"] for i in good))


class TimingTest(unittest.TestCase):
    def test_tail_has_ten_samples_beyond(self):
        xs = list(range(1, 41))
        v, pct = run.tail_of(xs)
        self.assertEqual(sum(x > v for x in xs), 10)
        self.assertEqual(pct, 75.0)
        self.assertEqual(run.tail_of(list(range(10))), (None, None))

    def test_wall_sums_item_medians(self):
        items = [
            {"name": "a", "s": s, "ok": True, "batches": []}
            for s in (1.0, 9.0, 2.0)] + [
            {"name": "b", "s": 5.0, "ok": False, "batches": []},
            {"name": "c", "s": 4.0, "ok": True, "batches": [1.5, 2.5]}]
        wall, samples = run.timing(items)
        self.assertEqual(wall, 2.0 + 4.0)
        self.assertEqual(sorted(samples), [1.0, 1.5, 2.0, 2.5, 9.0])


class BareDirectoryTest(unittest.TestCase):
    """With only BENCHMARK.json and the benchmark's files, the command
    fails without printing a result."""

    def test_fails_without_engine_sources(self):
        bare = os.path.join(SCRATCH, "bare")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(BENCH, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns(".build", ".work",
                                                      "__pycache__"))
        with open(os.path.join(bare, "BENCHMARK.json")) as f:
            cmd = json.load(f)["command"]
        r = subprocess.run(cmd + ["--workload", "many_small", "--seed", "1",
                                  "--seconds", "10", "--trace", "0"],
                           cwd=bare, capture_output=True, text=True,
                           timeout=180)
        self.assertNotEqual(r.returncode, 0)
        self.assertEqual(r.stdout.strip(), "")
        shutil.rmtree(bare)


if __name__ == "__main__":
    unittest.main()
