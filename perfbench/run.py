#!/usr/bin/env python3
"""graft's benchmark: one closed-loop workload per invocation.

    python3 perfbench/run.py --workload ingest_cog --seed 1 --seconds 10 --trace 0

Builds the library and the benchmark from source (perfbench/build.py), times
the session set-up of a fresh JVM, runs the workload (generated
inputs from --seed, an untimed first-iteration record, then timed
iterations for --seconds), checks every iteration against the generator's
ground truth, and prints every metric by name with its unit. The last
stdout line is one JSON object: correct, attempted, failed, metrics —
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
Exits nonzero on any mismatch or error. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("ingest_cog", "ingest_catalog", "curate_corpus")

END_TO_END = [
    ("setup_s", "s"),
    ("ops_per_s", "1/s"),
    ("first_iter_s", "s"),
]

PER_LAYER = [
    ("items_per_s", "1/s"), ("reingest_items_per_s", "1/s"),
    ("docs_per_s", "1/s"), ("ops_failed_frac", "ratio"),
    ("peak_rss_mb", "MB"),
    ("cogify.s", "s"), ("cogify.files", "count"), ("cogify.errors", "count"),
    ("cogify.mb_in", "MB"), ("cogify.mb_out", "MB"),
    ("cogify.task_max_over_median", "ratio"), ("raster_scan.s", "s"),
    ("discover.s", "s"), ("discover.rows_out", "count"),
    ("cmr.pages", "count"), ("cmr.granules", "count"),
    ("expr.extract_dates.s", "s"), ("expr.cmr_geometry.s", "s"),
    ("build.s", "s"), ("build.items", "count"), ("build.quarantined", "count"),
    ("multiasset.s", "s"), ("multiasset.shuffle_mb", "MB"),
    ("publish.s", "s"), ("publish.mb_written", "MB"),
    ("publish.files_written", "count"), ("publish.bytes_per_item", "B"),
    ("transfer.s", "s"), ("transfer.eligible", "count"),
    ("transfer.skipped", "count"), ("transfer.skip_ratio", "ratio"),
    ("upsert.s", "s"), ("upsert.replaced", "count"),
    ("upsert.mb_rewritten", "MB"), ("upsert.write_amplification", "ratio"),
    ("gate.s", "s"), ("gate.docs_out", "count"),
    ("exact_dedup.s", "s"), ("exact_dedup.removed", "count"),
    ("expr.minhash.s", "s"), ("near_dedup.s", "s"),
    ("near_dedup.candidate_pairs", "count"),
    ("near_dedup.confirmed_pairs", "count"),
    ("near_dedup.pair_precision", "ratio"), ("near_dedup.recall", "ratio"),
    ("near_dedup.removed", "count"), ("near_dedup.lost_to_cap", "count"),
    ("near_dedup.pair_stage_max_over_median", "ratio"),
    ("classify.s", "s"), ("curate.s", "s"), ("plan.s", "s"),
    ("materializer.calls", "count"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.task_s", "s"), ("spark.gc_s", "s"),
    ("spark.shuffle_write_mb", "MB"), ("spark.shuffle_read_mb", "MB"),
    ("spark.spill_mb", "MB"), ("spark.core_idle_frac", "ratio"),
    ("spark.stage_max_over_median", "ratio"),
    ("spark.input_rows_read_per_row", "ratio"),
    ("spark.error_events", "count"), ("host.canary_s", "s"),
    ("trace.overhead_frac", "ratio"), ("trace.unattributed_jobs", "count"),
]

RUN_TIMEOUT_S = 150       # the whole command must end within 180 s
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def java(classpath, work, args, heap="2g"):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [f"--add-opens={p}=ALL-UNNAMED" for p in JDK_OPENS]
    return (["java", f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + opens + ["-cp", ":".join(classpath), "perfbench.Main"] + args)


def launch(cmd, log, timeout):
    """Run one JVM to completion; stdout lines are returned, stderr goes to
    `log`. The process is killed (and waited for) on timeout."""
    with open(log, "a") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err,
                             text=True, cwd=ROOT)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.communicate()
            raise
    return p.returncode, out.splitlines()


def tagged(lines, tag):
    found = [ln[len(tag) + 1:] for ln in lines if ln.startswith(tag + " ")]
    return found[-1] if found else None


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload!r}; one of {', '.join(WORKLOADS)}")
    try:
        classpath = build.build()
    except build.BuildError as e:
        fail(f"build failed: {e}")

    work = os.path.join(ROOT, ".bench_work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    log = os.path.join(work, "jvm.log")

    args = ["--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work]
    try:
        rc, out = launch(java(classpath, work, args), log, RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s; see {log}")
    raw = tagged(out, "PERFBENCH_RESULT")
    if rc != 0 or raw is None:
        fail(f"run failed (rc={rc}); see {log}")
    r = json.loads(raw)
    values = dict(r["end_to_end"], **r["per_layer"])
    declared = END_TO_END if a.trace == 0 else PER_LAYER
    missing = [n for n, _ in declared if n not in values]
    if missing:
        fail(f"metrics not produced: {missing}")
    metrics = {n: {"value": values[n], "unit": u} for n, u in declared}

    print(f"workload {a.workload} seed {a.seed}: {r['timed_iterations']} timed + "
          f"{r['traced_iterations']} traced iterations (one closed-loop client)")
    for n, m in metrics.items():
        print(f"{n} {m['value']:.6g} {m['unit']}")
    if not r["correct"]:
        with open(log) as f:
            for line in f:
                if line.startswith("[perfbench]"):
                    print(line.rstrip()[:2000], file=sys.stderr)
    print(json.dumps({"correct": bool(r["correct"]), "attempted": int(r["attempted"]),
                      "failed": int(r["failed"]), "metrics": metrics}))
    sys.exit(0 if r["correct"] else 1)


if __name__ == "__main__":
    main()
