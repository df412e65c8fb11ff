"""Benchmark entry point: builds the program, runs one workload in one
benchmark JVM, checks its outputs, and prints the metrics.

    python3 perfbench/run.py --workload ingest_resume --seed 1 --seconds 5 --trace 0

Run from the repository root. The last line of standard output is one JSON
object {"correct", "attempted", "failed", "metrics"}: the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1. The lines
before it are diagnostics (host noise, the metrics under the names the
workload note uses, tracing overhead). See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

DATA = "perfbench/data/documents.parquet"
RUN_LIMIT_S = 175
# Fixed heap (a steadier RSS), the build's collector, and the module opens
# Spark needs on JDK 17 when it is not started by spark-submit.
JVM_OPTS = ["-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData"] + [
    arg for pkg in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for arg in ("--add-opens", f"java.base/{pkg}=ALL-UNNAMED")]


def tail_percentile(values, min_beyond=10):
    """The highest whole percentile p >= 50 whose nearest-rank value has at
    least `min_beyond` samples ranked above it, as (p, value, n); None when
    even the median has fewer than that many beyond it."""
    xs = sorted(values)
    n = len(xs)
    best = None
    for p in range(50, 100):
        rank = -(-p * n // 100)  # ceil(p * n / 100), 1-based
        if rank >= 1 and n - rank >= min_beyond:
            best = (p, xs[rank - 1], n)
    return best


def cpu_times():
    with open("/proc/stat") as f:
        fields = f.readline().split()[1:]
    vals = [int(v) for v in fields[:8]]
    return sum(vals), vals[7]  # total jiffies, steal jiffies


def median_or_zero(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(result):
    """The BENCHMARK.json end-to-end metrics of one run."""
    ops = [o for o in result["ops"] if not o["failed"]]
    return {
        "setup_s": statistics.median(result["setup_s"]),
        "docs_per_s": median_or_zero([o["docs"] / o["wall_s"] for o in ops]),
        "peak_rss_mb": result["peak_rss_mb"],
    }


def tracing_overhead(history_path, workload, build_id):
    """Per end-to-end metric: the median over this build's traced runs of
    the workload minus the median over its untraced runs."""
    runs = {0: [], 1: []}
    with open(history_path) as f:
        for line in f:
            h = json.loads(line)
            if h["workload"] == workload and h.get("build") == build_id:
                runs[h["trace"]].append(h["end_to_end"])
    if not runs[0] or not runs[1]:
        return {"note": f"needs untraced and traced runs; have {len(runs[0])} and {len(runs[1])}"}
    out = {"untraced_runs": len(runs[0]), "traced_runs": len(runs[1])}
    for k in runs[1][-1]:
        un = statistics.median([r[k] for r in runs[0]])
        tr = statistics.median([r[k] for r in runs[1]])
        out[k] = {"traced_minus_untraced": tr - un, "untraced_median": un, "traced_median": tr}
    return out


def workload_view(workload, result, e2e, failed_frac):
    """The workload's end-to-end figures under the names the workload note
    uses, each with its unit."""
    walls = [o["wall_s"] for o in result["ops"] if not o["failed"]]
    view = {"setup_s": (e2e["setup_s"], "s"), "peak_rss_mb": (e2e["peak_rss_mb"], "MB"),
            "ops_failed_frac": (failed_frac, "1")}
    if workload == "ingest_resume":
        view["ingest_docs_per_s"] = (e2e["docs_per_s"], "docs/s")
        view["snapshot_bytes_per_doc"] = (result["extra"]["snapshot_bytes_per_doc"], "B/doc")
    elif workload == "curate_corpus":
        view["curate_docs_per_s"] = (e2e["docs_per_s"], "docs/s")
    elif workload == "curate_stream":
        view["shard_p50_s"] = (median_or_zero(walls), "s")
        t = tail_percentile(walls)
        view["shard_tail_s"] = ((t[1], "s", f"p{t[0]} of {t[2]} shards") if t else
                                (None, "s", f"refused: {len(walls)} shards, fewer than 10 beyond the median"))
        view["state_bytes_per_keeper"] = (result["extra"]["state_bytes_per_keeper"], "B/keeper")
    return {k: {"value": v[0], "unit": v[1], **({"note": v[2]} if len(v) > 2 else {})}
            for k, v in view.items()}


def check_fingerprints(cache_path, key, fingerprints):
    """Each operation's fingerprint must equal the one an earlier run of the
    same workload and seed recorded; returns the indices that differ."""
    cache = {}
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cache = json.load(f)
    old = cache.get(key, [])
    bad = [i for i, (a, b) in enumerate(zip(old, fingerprints)) if a != b]
    if len(fingerprints) > len(old):
        cache[key] = fingerprints
        with open(cache_path + ".tmp", "w") as f:
            json.dump(cache, f)
        os.replace(cache_path + ".tmp", cache_path)
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    # accepted so every benchmark takes the same arguments: a run makes the
    # workload's fixed operation count, which takes longer than this on the
    # reference host
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()
    t_start = time.time()
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if a.workload not in [w["name"] for w in bench["workloads"]]:
        sys.exit(f"unknown workload {a.workload}")
    if not os.path.exists(os.path.join(root, DATA)):
        sys.exit(f"missing {DATA}: run from the repository root")
    try:
        classes = build.build(root)
    except Exception as e:  # no program to build: fail without a result
        sys.exit(f"build failed: {e}")

    out_dir = os.path.join(root, build.BUILD_DIR)
    work = os.path.join(out_dir, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result_path = os.path.join(work, "result.json")
    log_path = os.path.join(out_dir, f"jvm-{a.workload}.log")
    load_at_launch = os.getloadavg()
    total0, steal0 = cpu_times()
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={work}",
           "-cp", f"{classes}:{build.classpath()}", "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--trace", str(a.trace), "--data", DATA, "--work", work, "--out", result_path]
    with open(log_path, "w") as log:
        try:
            proc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                                  timeout=max(10, RUN_LIMIT_S - (time.time() - t_start)))
        except subprocess.TimeoutExpired:
            sys.exit(f"benchmark JVM timed out; log: {log_path}")
    total1, steal1 = cpu_times()
    if proc.returncode != 0 or not os.path.exists(result_path):
        sys.exit(f"benchmark JVM failed ({proc.returncode}); log: {log_path}")
    with open(result_path) as f:
        result = json.load(f)
    shutil.rmtree(work, ignore_errors=True)
    if a.trace:
        with open(os.path.join(out_dir, f"spans-{a.workload}.json"), "w") as f:
            json.dump(result["spans"], f)

    with open(os.path.join(out_dir, "classes.stamp")) as f:
        build_id = f.read()[:16]
    bad_fp = check_fingerprints(os.path.join(out_dir, "fingerprints.json"),
                                f"{a.workload}:{a.seed}:{build_id}", result["fingerprints"])
    checks = dict(result["checks"])
    checks["fingerprints_repeat"] = not bad_fp
    ops = result["ops"]
    attempted = len(ops) + len(checks)
    failed = sum(o["failed"] for o in ops) + sum(not ok for ok in checks.values())
    correct = failed == 0 and not result["errors"] and len(ops) > 0

    e2e = end_to_end(result)
    history = os.path.join(out_dir, "history.jsonl")
    with open(history, "a") as f:
        f.write(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                            "build": build_id, "end_to_end": e2e}) + "\n")
    diag = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "host": {"steal_frac": (steal1 - steal0) / max(1, total1 - total0),
                 "loadavg_at_launch": load_at_launch, "cores": result["cores"],
                 "executor_cpu_s": result["loop_cpu_s"], "loop_wall_s": result["loop_wall_s"]},
        "ops": len(ops), "op_walls_s": [round(o["wall_s"], 4) for o in ops],
        "setup_runs_s": result["setup_s"],
        "checks": checks, "fingerprint_mismatches": bad_fp, "errors": result["errors"],
        "end_to_end": workload_view(a.workload, result, e2e, failed / attempted),
    }
    print(json.dumps({"diagnostics": diag}))

    if a.trace == 0:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    else:
        print(json.dumps({"tracing_overhead": tracing_overhead(history, a.workload, build_id)}))
        layers = result["layers"]
        metrics = {m["name"]: {"value": median_or_zero(layers.get(m["name"], [])), "unit": m["unit"]}
                   for m in bench["per_layer"]}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
