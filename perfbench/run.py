#!/usr/bin/env python3
"""The benchmark command.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source (perfbench/build.py), writes the seeded
inputs (perfbench/gen.py), runs one measuring JVM (perfbench/src), and
prints one JSON line: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 they are the
per-layer ones, and the run's spans are kept in .bench_build/traces.

`--overhead` instead runs the workload untraced and traced with the same
seed and prints each end-to-end metric's traced minus untraced value.
Everything the run writes stays under .bench_build in the checkout.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen  # noqa: E402
import report  # noqa: E402

WORKLOADS = ["triple_serve", "triple_ingest", "gate_sf01"]
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def measure(workload, seed, seconds, traced, all_entries=False):
    """Runs one measuring JVM; returns its raw result dict."""
    classes = build.build()
    run_dir = os.path.join(build.BUILD, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs, work, tmp = (os.path.join(run_dir, d) for d in ("inputs", "work", "tmp"))
    for d in (inputs, work, tmp):
        os.makedirs(d)
    gen.generate(workload, seed, inputs, build.ROOT, all_entries)
    out = os.path.join(run_dir, "raw.json")
    # -XX:-UsePerfData: the JVM would otherwise write its perf data to the
    # system temp directory, outside the checkout
    cmd = ([build.java(), "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + tmp,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
              "perfbench.Main", "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", "1" if traced else "0",
              "--inputs", inputs, "--out", out, "--work", work])
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                             cwd=run_dir, start_new_session=True)
        try:
            p.wait(timeout=None if all_entries else JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise RuntimeError("measuring JVM timed out")
    if p.returncode != 0 or not os.path.exists(out):
        tail = open(os.path.join(run_dir, "jvm.log")).read()[-3000:]
        raise RuntimeError("measuring JVM failed (exit %d):\n%s" % (p.returncode, tail))
    with open(out) as f:
        raw = json.load(f)
    traces = os.path.join(build.BUILD, "traces")
    os.makedirs(traces, exist_ok=True)
    shutil.copy(out, os.path.join(traces, "%s-%d-%s.json" % (
        workload, seed, "traced" if traced else "untraced")))
    shutil.rmtree(run_dir, ignore_errors=True)
    return raw


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--overhead", action="store_true")
    ap.add_argument("--all-entries", action="store_true",
                    help="gate_sf01 over all gate entries, not only the measured pass's")
    a = ap.parse_args()
    try:
        if a.overhead:
            plain = report.end_to_end(measure(a.workload, a.seed, a.seconds, False))
            traced = report.end_to_end(measure(a.workload, a.seed, a.seconds, True))
            print(json.dumps({k: {"untraced": plain[k], "traced": traced[k],
                                  "overhead": traced[k] - plain[k]} for k in plain}))
            return 0
        raw = measure(a.workload, a.seed, a.seconds, bool(a.trace), a.all_entries)
    except (RuntimeError, OSError, ValueError) as e:
        print("benchmark failed: %s" % e, file=sys.stderr)
        return 2
    for f in raw.get("failures", []):
        print("check failed: %s" % f, file=sys.stderr)
    print(json.dumps(report.result_line(raw, bool(a.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
