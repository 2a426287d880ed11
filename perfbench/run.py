#!/usr/bin/env python3
"""graft benchmark: one command, three seeded workloads.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 1 --trace 0

Run from the repository root.  The first run compiles the library and
the benchmark into .bench_build/ (or $CARGO_TARGET_DIR); every run
stages its seeded inputs under .bench_work/, runs one benchmark JVM,
checks every output for correctness outside the timed region, prints a
report and, as the last line of stdout, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics.  The exit code is non-zero when
any check fails.  Workloads, metric meanings and the layer -> end-to-end
predictions are documented in perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

sys.dont_write_bytecode = True
import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ["analytics", "lake_lifecycle", "curate_ingest"]
DEADLINE_S = 170  # the whole run, build excluded

# Spark 4 on JDK 17 outside spark-submit needs these (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def jvm_command(classes, work, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    extra = os.environ.get("SPARK_GRAFT_JAVA_OPTS", "").split()
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    return (["java"] + opens +
            ["-Xmx3g", "-Xss4m", f"-Djava.io.tmpdir={work}/tmp",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
            extra + ["-cp", cp, "graft.perfbench.Main"] + args)


def run_jvm(cmd, log_path, timeout):
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        log("error: run from the repository root (src/main/scala/graft not found)")
        return 2
    spec = json.load(open(os.path.join(root, "BENCHMARK.json")))
    classes = build.build(root)

    t_start = time.time()
    bench_dir = os.path.join(root, ".bench_work")
    work = os.path.join(bench_dir, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    stage = os.path.join(work, "stage")
    os.makedirs(os.path.join(work, "tmp"))
    try:
        t0 = time.time()
        plan = gen.stage(a.seed, a.workload, stage, bench_dir)
        stage_s = time.time() - t0
        digest = gen.digest(stage)
        result_path = os.path.join(work, "result.json")
        cmd = jvm_command(classes, work, [
            "--workload", a.workload, "--stage", stage, "--work", work,
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--out", result_path])
        os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count())
        rc = run_jvm(cmd, os.path.join(work, "jvm.log"),
                     DEADLINE_S - (time.time() - t_start))
        if rc != 0 or not os.path.exists(result_path):
            tail = open(os.path.join(work, "jvm.log")).read()[-4000:]
            log(tail)
            log(f"error: benchmark JVM {'timed out' if rc is None else f'exited {rc}'}")
            return 3
        result = json.load(open(result_path))
        t0 = time.time()
        checks = check.run(a.workload, stage, plan, result)
        result["outside_check_s"] = time.time() - t0
        if a.trace:
            spans = os.path.join(work, "spans.jsonl")
            if os.path.exists(spans):
                shutil.copy(spans, os.path.join(bench_dir, f"spans-{a.workload}.jsonl"))
        return report(a, spec, result, checks, digest, stage_s, bench_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(a, spec, result, checks, digest, stage_s, bench_dir):
    e2e = result["end_to_end"]
    setup_s = statistics.median(result["setup_reps_s"])
    wrong = sum(c[3] for c in checks)
    attempted = int(result["attempted"])
    failed = int(result["failed_ops"]) + wrong
    correct = failed == 0 and all(c[1] for c in checks)

    st = result["stamp"]
    print(f"# workload={a.workload} seed={a.seed} seconds={a.seconds} "
          f"trace={a.trace} input_digest={digest} tables=generated sf0.1 "
          f"shape, data seed {gen.DATA_SEED}")
    print("# box: " + " ".join(f"{k}={v}" for k, v in st.items()))
    print(f"# staging {stage_s:.2f} s, session start {result['session_s']:.2f} s, "
          f"setup reps {['%.2f' % x for x in result['setup_reps_s']]} s, "
          f"warm-up {result['warmup_s']:.2f} s, timed {result['timed_s']:.2f} s, "
          f"checks {result['check_s']:.2f} + {result['outside_check_s']:.2f} s")
    names = ISSUE_NAMES[a.workload]
    n = int(e2e.get("samples", 0))
    for key, (label, unit) in names.items():
        if key not in e2e:
            continue
        note = ""
        if key.startswith("op_"):
            note = f" (n={n})"
        elif f"{key.split('_p50')[0]}_samples" in e2e:
            note = f" (n={int(e2e[key.split('_p50')[0] + '_samples'])})"
        if key == "op_p90_s":
            beyond = n - int(0.9 * n) - 1
            note = (f" (n={n}; {beyond} samples beyond p90"
                    f"{'' if beyond >= 10 else ': too few, not gated'})")
        print(f"{label:<42} {e2e[key]:.6g} {unit}{note}")
    print(f"{'setup_s':<42} {setup_s:.6g} s (median of {len(result['setup_reps_s'])})")
    print(f"{'live_heap_mb':<42} {e2e['live_heap_mb']:.6g} MB")
    print(f"{'error_rate':<42} {failed / max(1, attempted):.6g} ratio "
          f"({failed} of {attempted})")
    for name, ok, detail, w in checks:
        print(f"check {'ok  ' if ok else 'FAIL'} {name}: {detail}")

    if a.trace:
        metrics = {m["name"]: {"value": float(result["layers"].get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in spec["per_layer"]}
        last = os.path.join(bench_dir, f"e2e-{a.workload}.json")
        if os.path.exists(last):
            base = json.load(open(last))["throughput_per_s"]
            over = 1.0 - e2e["throughput_per_s"] / base
            print(f"tracing overhead: throughput {e2e['throughput_per_s']:.4g} vs "
                  f"{base:.4g} untraced 1/s ({over:+.1%})")
        else:
            print("tracing overhead: no untraced run of this workload recorded yet")
    else:
        values = dict(e2e, setup_s=setup_s)
        metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
        with open(os.path.join(bench_dir, f"e2e-{a.workload}.json"), "w") as f:
            json.dump(e2e, f)
    with open(os.path.join(bench_dir, f"ops-{a.workload}.json"), "w") as f:
        json.dump(result["ops"], f)
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


# The issue-level metric names each generic end-to-end metric stands for.
ISSUE_NAMES = {
    "analytics": {
        "throughput_per_s": ("queries_per_s", "1/s"),
        "op_p50_s": ("query_p50_s", "s"),
        "op_p90_s": ("query_p90_s", "s"),
        "lake_read_p50_s": ("lake_read_p50_s", "s"),
    },
    "lake_lifecycle": {
        "throughput_per_s": ("statements_per_s", "1/s"),
        "op_p50_s": ("commit_p50_s", "s"),
        "op_p90_s": ("commit_p90_s", "s"),
        "read_after_write_p50_s": ("read_after_write_p50_s", "s"),
        "write_amp": ("write_amp", "ratio"),
        "space_amp": ("space_amp", "ratio"),
    },
    "curate_ingest": {
        "throughput_per_s": ("ingest_docs_per_s", "1/s"),
        "op_p50_s": ("ingest_batch_p50_s", "s"),
        "op_p90_s": ("ingest_batch_p90_s", "s"),
        "curate_docs_per_s": ("curate_docs_per_s", "1/s"),
    },
}

if __name__ == "__main__":
    sys.exit(main())
