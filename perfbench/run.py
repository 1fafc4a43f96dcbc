#!/usr/bin/env python3
"""Serving benchmark for the graft engine: a closed loop with one 3DF
client per run. Each epoch sends one wire message (transact + advance) and
waits until every interest's QueryDiff is rendered; outputs are checked
against a plain-Scala reference model of the workload's rules.

    python3 perfbench/run.py --workload serve_small --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The first run compiles the engine and the
benchmark (see build.py). --trace 0 prints the end-to-end metrics; --trace 1
prints the per-layer metrics of a traced run at local[--cores] plus the
counts of a local[1] leg. The last stdout line is the JSON result.
"""
import argparse
import json
import os
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

# Run shape: untimed warm-up epochs (epoch time falls by about a quarter
# over the first four while JIT and codegen caches fill), the least number
# of timed epochs (the run also lasts at least --seconds), late subscribers
# after the timed epochs, and traced epochs (interleaved with as many
# untraced ones) for --trace 1. Sized so that 22 runs of each workload in
# BENCHMARK.json fit in 3420 s on a busy 4-core host. reach_recursive
# (2-3 s epochs, 66-76 s runs) does not fit next to them and is not listed
# there; it stays runnable for profiling the recursion layer.
RUN_SHAPE = dict(min_epochs=10, warmup=4, subscribes=5, trace_epochs=3)
WORKLOADS = {
    "serve_small": RUN_SHAPE,
    "bitemporal_corrections": RUN_SHAPE,
    "reach_recursive": dict(RUN_SHAPE, warmup=5),
}
SETUP_REPS = 2
# The local[1] leg reports counts only: one set-up, one traced epoch.
SINGLE_CORE_SHAPE = dict(min_epochs=1, warmup=0, subscribes=0, trace_epochs=1)
SINGLE_CORE_COUNTS = ["spark.jobs", "spark.stages", "spark.tasks",
                      "spark.empty_task_frac", "spark.shuffle_write_bytes",
                      "engine.diff_rows"]
JVM_TIMEOUT_S = 165
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def host_sample():
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:9]]
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    return cpu, load1


def host_context(start, end):
    d = [b - a for a, b in zip(start[0], end[0])]
    total = max(1, sum(d))
    return {"host.steal_frac": d[7] / total, "host.iowait_frac": d[4] / total,
            "host.load1_start": start[1], "host.load1_end": end[1]}


def run_jvm(classpath, work, wl, args, cores, trace, shape, setup_reps,
            inject_drop, deadline):
    tag = f"{wl}-s{args.seed}-c{cores}-t{int(trace)}"
    out = os.path.join(work, f"{tag}.result.json")
    if os.path.exists(out):
        os.remove(out)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-Xss4m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", wl, "--seed", str(args.seed),
            "--seconds", str(args.seconds),
            "--trace", "1" if trace else "0",
            "--cores", str(cores), "--launch-ms", str(int(time.time() * 1000)),
            "--out", out, "--spans", os.path.join(work, f"{tag}.spans.jsonl"),
            "--setup-reps", str(setup_reps), "--warmup", str(shape["warmup"]),
            "--min-epochs", str(shape["min_epochs"]),
            "--trace-epochs", str(shape["trace_epochs"]),
            "--subscribes", str(shape["subscribes"]),
            "--inject-drop", "1" if inject_drop else "0"]
    log = os.path.join(work, f"{tag}.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=lf, start_new_session=True)

        def stop(*_):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit(f"perfbench: {tag} stopped (log: {log})")
        signal.signal(signal.SIGTERM, stop)
        try:
            p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            stop()
        except KeyboardInterrupt:
            stop()
    if p.returncode != 0 or not os.path.exists(out):
        tail = open(log).read()[-3000:]
        raise SystemExit(f"perfbench: {tag} exited {p.returncode}\n{tail}")
    with open(out) as f:
        return json.load(f)


def check_counts(work, wl, seed, cores, counts):
    """Compare a traced run's per-epoch jobs/stages/tasks/diff_rows with the
    previous traced run of the same workload, seed and core count."""
    path = os.path.join(work, "counts", f"{wl}-s{seed}-c{cores}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    mismatched = 0
    if os.path.exists(path):
        with open(path) as f:
            prev = json.load(f)
        n = max(len(prev), len(counts))
        mismatched = sum(1 for i in range(n)
                         if i >= len(prev) or i >= len(counts) or prev[i] != counts[i])
        state = "identical" if mismatched == 0 else f"{mismatched} epochs differ (FLAG)"
        print(f"counts local[{cores}] vs previous traced run: {state}")
    with open(path, "w") as f:
        json.dump(counts, f)
    return mismatched


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--cores", type=int, default=os.cpu_count())
    ap.add_argument("--inject-drop", type=int, choices=[0, 1], default=0,
                    help="drop one drained diff, to show the output check fails")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    classpath = build.build()
    work = build.WORK
    wl = args.workload
    deadline = time.time() + JVM_TIMEOUT_S
    start = host_sample()
    shape = WORKLOADS[wl]
    res = run_jvm(classpath, work, wl, args, args.cores, args.trace == 1,
                  shape, SETUP_REPS, args.inject_drop == 1, deadline)
    metrics = dict(res["metrics"])
    attempted, failed = res["attempted"], res["failed"]
    if args.trace:
        metrics["check.count_mismatch_epochs"] = check_counts(
            work, wl, args.seed, args.cores, res["counts"])
        one = run_jvm(classpath, work, wl, args, 1, True, SINGLE_CORE_SHAPE, 1,
                      False, deadline)
        attempted += one["attempted"]
        failed += one["failed"]
        for k in SINGLE_CORE_COUNTS:
            metrics[f"c1.{k}"] = one["metrics"][k]
        metrics["c1.check.count_mismatch_epochs"] = check_counts(
            work, wl, args.seed, 1, one["counts"])
    host = host_context(start, host_sample())
    print("host " + json.dumps(host))
    print(f"epochs {res['epochs']} subscribes {res['subscribes']} "
          f"setup reps {res['setup_reps_s']} "
          f"session {res['session_s']:.3f}s")
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    if args.trace:
        metrics.update(host)
        for k in sorted(metrics):
            if not k.endswith(".sum"):
                print(f"  {k:34s} p50 {metrics[k]!s:>14}  sum {metrics.get(k + '.sum', '')}")
    out = {}
    for m in wanted:
        v = metrics.get(m["name"])
        if v is None:
            raise SystemExit(f"perfbench: metric {m['name']} missing from the run")
        out[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))


if __name__ == "__main__":
    main()
