"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench/tests -v

- the same seed writes byte-identical inputs and ground truth
- a result with one item dropped fails the ground-truth check
- in a traced iteration every Spark job is attributed to exactly one
  layer span (and the traced outputs equal the untraced ones)

Each test runs the benchmark's JVM at a small input scale.
"""
import filecmp
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import build  # noqa: E402
import run  # noqa: E402

WORK = os.path.join(ROOT, ".bench_work", "tests")


def jvm(args, work):
    os.makedirs(work, exist_ok=True)
    cmd = run.java(build.build(), work, args + ["--work", work], heap="2g")
    return subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=600)


def tree(d):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.relpath(os.path.join(base, f), d) for f in files]
    return sorted(out)


class DeclaredMetrics(unittest.TestCase):
    def test_benchmark_json_matches_run_py(self):
        path = os.path.join(ROOT, "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json")
        with open(path) as f:
            spec = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]],
                         run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]],
                         run.PER_LAYER)
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS))


class DeterministicInputs(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        for wl in run.WORKLOADS:
            with self.subTest(workload=wl):
                dirs = [os.path.join(WORK, f"gen-{wl}-{k}") for k in (1, 2, 3)]
                for d, seed in zip(dirs, (7, 7, 8)):
                    shutil.rmtree(d, ignore_errors=True)
                    r = jvm(["--mode", "gen", "--workload", wl, "--seed", str(seed),
                             "--scale", "0.05"], d)
                    self.assertEqual(r.returncode, 0, r.stderr[-2000:])
                files = [f for f in tree(dirs[0]) if not f.startswith(("tmp", "spark-local"))]
                self.assertIn("truth.txt", files)
                self.assertEqual(files, [f for f in tree(dirs[1])
                                         if not f.startswith(("tmp", "spark-local"))])
                _, mismatch, errors = filecmp.cmpfiles(dirs[0], dirs[1], files,
                                                       shallow=False)
                self.assertEqual((mismatch, errors), ([], []))
                # another seed gives other inputs
                self.assertFalse(filecmp.cmp(os.path.join(dirs[0], "truth.txt"),
                                             os.path.join(dirs[2], "truth.txt"),
                                             shallow=False))


class ChecksAndTracing(unittest.TestCase):
    def test_selftest(self):
        for wl in run.WORKLOADS:
            with self.subTest(workload=wl):
                d = os.path.join(WORK, f"selftest-{wl}")
                shutil.rmtree(d, ignore_errors=True)
                r = jvm(["--mode", "selftest", "--workload", wl, "--seed", "3",
                         "--scale", "0.05"], d)
                lines = [ln for ln in r.stdout.splitlines() if ln.startswith("SELFTEST")]
                checks = {ln.split()[2]: ln.split()[3] for ln in lines}
                self.assertEqual(checks, {
                    "intact_output_passes": "ok",
                    "dropped_item_fails": "ok",
                    "jobs_attributed_to_one_layer": "ok",
                    "traced_output_matches": "ok",
                }, "\n".join(lines) + r.stderr[-2000:])
                self.assertEqual(r.returncode, 0)


if __name__ == "__main__":
    unittest.main()
