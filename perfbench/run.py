#!/usr/bin/env python3
"""graft's benchmark: one command for every workload.

    python3 perfbench/run.py --workload <query_suite|etl_hourly>
        --seed <n> --seconds <s> --trace <0|1>

Builds graft and the benchmark's JVM program from source (cached after
the first run in a checkout), generates the workload's inputs from the
seed, runs the workload in one JVM with Spark `local[nproc]`, checks
every output against a computation made apart from graft, and prints
one JSON line: end-to-end metrics with `--trace 0`, per-layer metrics
with `--trace 1`.  Each workload's timed phase is a fixed number of ops,
so `--seconds` is accepted but sizes nothing.  See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import workloads  # noqa: E402

BENCH = build.BENCH
ROOT = build.ROOT
WORK = os.path.join(BENCH, ".work")
RUN_LIMIT_S = 165  # a run, build excluded, must end well within 180 s
CHILD_ENV = dict(os.environ, OMP_NUM_THREADS="1", OPENBLAS_NUM_THREADS="1",
                 ARROW_DEFAULT_MEMORY_POOL="system")

# JDK 17 module openings Spark needs outside spark-submit (the same list
# build.sbt passes to forked runs)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

END_TO_END = [("setup_s", "s"), ("work_s", "s"), ("cpu_s", "s"),
              ("op_p50_ms", "ms"), ("op_tail_ms", "ms"), ("live_heap_mb", "MiB")]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def jvm(classpath, work, args, deadline):
    """Runs the workload's JVM; returns its parsed result.json."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={tmp}",
            "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties")]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", ":".join(classpath), "perfbench.GraftBench"]
           + [f"{k}={v}" for k, v in args.items()])
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        # set-up time runs from here to the first timed op
        p = subprocess.Popen(cmd + [f"launch_ns={time.time_ns()}"], stdout=log,
                             stderr=subprocess.STDOUT, cwd=work)
        rc = wait(p, deadline)
    res = os.path.join(work, "result.json")
    if rc is None:
        fail(f"the workload JVM ran past its time limit; log: {log_path}")
    if rc != 0 or not os.path.isfile(res):
        tail = open(log_path).read()[-3000:]
        fail(f"the workload JVM exited with {rc}:\n{tail}")
    return json.load(open(res))


def wait(p, deadline):
    """Waits for `p` until `deadline`; kills it past that. Returns its
    exit code, or None if it was killed."""
    try:
        return p.wait(timeout=max(5, deadline - time.time()))
    except subprocess.TimeoutExpired:
        return None
    finally:
        # past the deadline, or on SIGTERM or Ctrl-C in this process
        if p.poll() is None:
            p.kill()
            p.wait()


def child(step, workload, work, deadline, *extra):
    """Runs `workloads.py <step>` (input generation or the output check)
    in a process of its own, with one thread per native library and
    Arrow on the system allocator, so DuckDB, Arrow and NumPy never load
    into this process. A child that a signal ends, a crash in a native
    library rather than a verdict, runs once more; the second crash
    fails the run."""
    cmd = [sys.executable, os.path.join(BENCH, "workloads.py"), step, workload,
           work] + [str(x) for x in extra]
    for attempt in (1, 2):
        # its output goes to stderr: stdout ends with the result line
        rc = wait(subprocess.Popen(cmd, env=CHILD_ENV, stdout=sys.stderr), deadline)
        if rc is None:
            fail(f"{step} ran past its time limit")
        if rc >= 0:
            break
        print(f"[perfbench] {step} was ended by signal {-rc} (attempt {attempt})",
              file=sys.stderr)
    if rc != 0:
        fail(f"{step} exited with {rc}")


def latency_stats(ops):
    """Median and tail op latency. The tail is the highest percentile
    with at least ten ops beyond it: with n ops, the (n-10)-th smallest
    latency, i.e. percentile 100*(n-10)/n."""
    ms = sorted(o["ms"] for o in ops if o["ok"])
    if len(ms) < 11:
        return statistics.median(ms), ms[-1], 100.0
    return statistics.median(ms), ms[len(ms) - 11], 100.0 * (len(ms) - 10) / len(ms)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.ALL))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True,
                    help="accepted; the op counts are fixed")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still kills and waits for the process it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(WORK, a.workload)
    try:
        classpath = build.build()
    except build.BuildError as e:
        fail(str(e))
    deadline = time.time() + RUN_LIMIT_S
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    child("prepare", a.workload, work, deadline, a.seed)
    plan = json.load(open(os.path.join(work, "plan.json")))
    args = dict(plan["args"], workload=a.workload, work=work, trace=a.trace,
                cores=len(os.sched_getaffinity(0)))
    result = jvm(classpath, work, args, deadline)
    child("check", a.workload, work, deadline)
    verdict = json.load(open(os.path.join(work, "verdict.json")))
    ok = verdict["ok"]
    if not ok:
        print(f"[perfbench] check failed: {verdict['why']}", file=sys.stderr)
    ops = result["ops"]
    failed = sum(1 for o in ops if not o["ok"])
    for o in ops:
        if not o["ok"]:
            print(f"[perfbench] op {o['id']} {o['name']} failed: {o['err']}",
                  file=sys.stderr)
    if a.trace:
        metrics = {m["name"]: {"value": result["layers"].get(m["name"], 0.0),
                               "unit": m["unit"]}
                   for m in json.load(open(os.path.join(ROOT, "BENCHMARK.json")))["per_layer"]}
        with open(os.path.join(work, "trace_summary.json"), "w") as fh:
            json.dump(result["layers"], fh, indent=1, sort_keys=True)
    else:
        p50, tail, pct = latency_stats(ops)
        vals = dict(setup_s=result["setup_s"], work_s=result["work_s"],
                    cpu_s=result["cpu_s"], op_p50_ms=p50, op_tail_ms=tail,
                    live_heap_mb=result["live_heap_mb"])
        metrics = {k: {"value": vals[k], "unit": u} for k, u in END_TO_END}
        print(f"[perfbench] {a.workload}: {len(ops)} ops, tail = p{pct:.1f}",
              file=sys.stderr)
    print(json.dumps({"correct": bool(ok), "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
