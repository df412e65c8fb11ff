"""Tests of the benchmark's own logic.

    python3 -m unittest perfbench/test_bench.py       # from the repository root

The first two classes are pure Python. `SeededInputs` and `MetricNames`
build the program and start the benchmark JVM (about a minute each).
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


class TailPercentile(unittest.TestCase):
    def test_picks_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 101))  # 100 samples
        p, value, n = run.tail_percentile(xs)
        self.assertEqual((p, value, n), (90, 90, 100))
        self.assertEqual(sum(x > value for x in xs), 10)

    def test_order_does_not_matter(self):
        xs = [float(x) for x in range(200, 0, -1)]
        self.assertEqual(run.tail_percentile(xs)[:2], (95, 190.0))

    def test_twenty_samples_give_the_median(self):
        self.assertEqual(run.tail_percentile(range(20))[0], 50)

    def test_refuses_below_ten_beyond_the_median(self):
        self.assertIsNone(run.tail_percentile(range(19)))
        self.assertIsNone(run.tail_percentile([1.0, 2.0]))
        self.assertIsNone(run.tail_percentile([]))


class ReportedNames(unittest.TestCase):
    FAKE = {"setup_s": [3.0, 1.0, 2.0], "peak_rss_mb": 100.0, "loop_cpu_s": 4.0,
            "ops": [{"wall_s": 2.0, "docs": 10, "failed": False},
                    {"wall_s": 1.0, "docs": 10, "failed": False},
                    {"wall_s": 9.0, "docs": 0, "failed": True}]}

    def test_end_to_end_names_match_the_contract(self):
        e2e = run.end_to_end(self.FAKE)
        self.assertEqual(set(e2e), {m["name"] for m in BENCH["end_to_end"]})
        self.assertEqual(e2e["setup_s"], 2.0)
        self.assertEqual(e2e["docs_per_s"], 7.5)

    def test_every_end_to_end_metric_is_bounded(self):
        for m in BENCH["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25, m["name"])
        setup = [m for m in BENCH["end_to_end"] if m["name"] == "setup_s"][0]
        self.assertEqual(setup["bound"], max(m["bound"] for m in BENCH["end_to_end"]))


def jvm(*args):
    classes = build.build(ROOT)
    tmp = os.path.join(ROOT, build.BUILD_DIR, "test-tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", *run.JVM_OPTS, f"-Djava.io.tmpdir={tmp}",
            "-cp", f"{classes}:{build.classpath()}"] + list(args))
    return subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)


class SeededInputs(unittest.TestCase):
    def test_seeds_give_disjoint_ids_distinct_texts_same_sizes(self):
        p = jvm("perfbench.SelfCheck", "--data", run.DATA, "--seeds", "1,2")
        self.assertEqual(p.returncode, 0, p.stdout + p.stderr[-3000:])
        lines = [line for line in p.stdout.splitlines() if line.startswith("check ")]
        self.assertEqual(len(lines), 3 * 3, p.stdout)  # 3 workloads x 3 properties
        self.assertTrue(all(line.endswith(" ok") for line in lines), p.stdout)


class MetricNames(unittest.TestCase):
    def test_traced_runs_emit_exactly_the_per_layer_names(self):
        """Every layer sample a workload's traced run records is a per-layer
        metric of BENCHMARK.json, and every per-layer metric is recorded by
        at least one workload."""
        declared = {m["name"] for m in BENCH["per_layer"]}
        emitted = set()
        work = os.path.join(ROOT, build.BUILD_DIR, "test-work")
        for w in BENCH["workloads"]:
            out = os.path.join(work, f"{w['name']}.json")
            p = jvm("perfbench.Main", "--workload", w["name"], "--seed", "7", "--trace", "1",
                    "--data", run.DATA, "--work", os.path.join(work, w["name"]), "--out", out)
            self.assertEqual(p.returncode, 0, p.stderr[-3000:])
            with open(out) as f:
                names = set(json.load(f)["layers"])
            self.assertEqual(names - declared, set(), w["name"])
            emitted |= names
        subprocess.run(["rm", "-rf", work], check=True)
        self.assertEqual(declared - emitted, set())


if __name__ == "__main__":
    unittest.main()
