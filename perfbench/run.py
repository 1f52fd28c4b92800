"""Run one benchmark workload against the engine and print its result.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload live|lifecycle|batch --seed N \
      --seconds S --trace 0|1
  python3 perfbench/run.py --selfcheck

Builds the engine and the benchmark from source when needed (see
perfbench/build.py), runs the workload in one JVM with Spark at
local[<cores>], and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are BENCHMARK.json's end_to_end list, with --trace 1 its per_layer list.
The JVM's full record (every metric, the checks and, when traced, the
spans) is kept under .bench_out/ for perfbench/summary.py.

Exit codes: 0 all checks passed; 1 a correctness check failed or a
metric is missing; 2 the checkout cannot be built or run.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
WORKLOADS = ("live", "lifecycle", "batch")
JVM_TIMEOUT_S = 170


def java_cmd(main_args, work):
    opens = [a for p in JAVA_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens + [
        # keep every file the JVM writes inside the checkout
        "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}",
        # a fixed heap and young generation, so peak RSS follows the live
        # data rather than the collector's adaptive sizing
        "-Xms3g", "-Xmx3g", "-Xmn768m", "-XX:+UseG1GC",
        # Hadoop's local filesystem shells out per file; vfork keeps that
        # cheap and reliable from a large JVM
        "-Djdk.lang.Process.launchMechanism=vfork",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-Dlog4j2.level=ERROR",
        "-cp", build.classpath(), "graft.perfbench.Main"] + main_args)


def run_jvm(args, log):
    with open(log, "w") as fh:
        p = subprocess.Popen(args, stdout=fh, stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None


def fail(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true")
    a = ap.parse_args()

    if not os.path.isfile("BENCHMARK.json"):
        fail(2, "run from the root of a checkout (BENCHMARK.json not found)")
    spec = json.load(open("BENCHMARK.json"))
    build.build()
    os.makedirs(".bench_out", exist_ok=True)

    if a.selfcheck:
        rc = run_jvm(java_cmd(["--selfcheck"], os.path.abspath(".bench_out")),
                     ".bench_out/selfcheck.log")
        print(open(".bench_out/selfcheck.log").read())
        sys.exit(0 if rc == 0 else 1)
    if a.workload is None or a.seed is None or a.seconds is None:
        fail(2, "--workload, --seed and --seconds are required")

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(".bench_work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(".bench_out", tag + ".json")
    log = os.path.join(".bench_out", tag + ".log")
    if os.path.exists(out):
        os.remove(out)
    t0 = time.time()
    rc = run_jvm(java_cmd([
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--cores", str(os.cpu_count() or 1),
        "--work", os.path.abspath(work), "--out", os.path.abspath(out)],
        os.path.abspath(work)), log)
    shutil.rmtree(work, ignore_errors=True)
    if rc is None:
        fail(1, f"{tag}: JVM exceeded {JVM_TIMEOUT_S} s (log: {log})")
    if not os.path.exists(out):
        fail(1, f"{tag}: JVM exited {rc} without a result (log: {log})")
    rec = json.load(open(out))
    rec["run_wall_s"] = time.time() - t0
    json.dump(rec, open(out, "w"))

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    source = rec["layers"] if a.trace else rec["e2e"]
    metrics, missing = {}, []
    for m in wanted:
        v = source.get(m["name"])
        if v is None:
            missing.append(m["name"])
        else:
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    result = {"correct": bool(rec["correct"]) and not missing,
              "attempted": int(rec["attempted"]),
              "failed": int(rec["failed"]), "metrics": metrics}
    for c in rec["checks"]:
        print(f"perfbench: check failed: {c}", file=sys.stderr)
    if missing:
        print(f"perfbench: metrics not measured: {', '.join(missing)}",
              file=sys.stderr)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] and rc == 0 else 1)


if __name__ == "__main__":
    main()
