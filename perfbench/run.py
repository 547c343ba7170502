#!/usr/bin/env python3
"""Benchmark: builds the program from source, runs one seeded workload in a
fresh JVM on local[4], checks its outputs, and prints one JSON line of
metrics last.

Usage (from the repository root):
  python3 perfbench/run.py --workload bulk_local|stream_remote|query_mix \
      --seed N --seconds S --trace 0|1

--trace 0 prints the end-to-end metrics of BENCHMARK.json; --trace 1 runs
the traced variant and prints the per-layer metrics. Every figure of the run
is also written to .bench_run/{run,trace}-<workload>-seed<N>.json.
See perfbench/README.md for what each metric measures.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402
import oracle  # noqa: E402
import tables  # noqa: E402

WORKLOADS = ("bulk_local", "stream_remote", "query_mix")
RUN_TIMEOUT_S = 170

# Spark on JDK 17 needs these outside spark-submit
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def metric_specs(trace):
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    return spec["per_layer" if trace else "end_to_end"]


def run_jvm(classes, args, work, deadline):
    main_dir, bench_dir, jars = classes
    cmd = (["java", "-XX:-UsePerfData", "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={work}/tmp"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{bench_dir}:{main_dir}:{jars}/*", "perfbench.Main"] + args)
    proc = subprocess.Popen(cmd, stdout=sys.stderr, cwd=work, start_new_session=True)
    try:
        return proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 3)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def cpu_ticks():
    """(ticks stolen by the hypervisor, all ticks) since boot."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        classes = build.build()
    except build.BuildError as e:
        fail(f"build failed: {e}", 2)
    specs = metric_specs(a.trace)

    runs = os.path.join(ROOT, ".bench_run")
    work = os.path.join(runs, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    deadline = time.time() + RUN_TIMEOUT_S
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    try:
        t0 = time.time()
        steal0 = cpu_ticks()
        # the set-up is timed from here: inputs, then a fresh JVM
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--out", out, "--work", work,
                "--t0-ms", str(int(t0 * 1000))]
        tables_dir = os.path.join(work, "tables")
        if a.workload == "query_mix":
            tables.generate(tables_dir, a.seed)
            args += ["--tables", tables_dir]
        code = run_jvm(classes, args, work, deadline)
        if code != 0 or not os.path.exists(out):
            fail(f"benchmark JVM exited with {code}")
        res = json.load(open(out))
        if a.workload == "query_mix":
            bad, checked = oracle.check(tables_dir, os.path.join(work, "results"))
            res["failed"] += len(bad)
            res["correct"] = res["correct"] and not bad
            res["detail"]["oracle_checked"] = checked
        steal1 = cpu_ticks()
        res["detail"]["cpu_steal_pct"] = (
            100.0 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = {}
    for spec in specs:
        m = res["metrics"].get(spec["name"])
        if m is not None and m["value"] is not None:
            metrics[spec["name"]] = {"value": m["value"], "unit": m["unit"]}
        elif a.trace:
            # a layer this workload does not exercise (or had no sample of)
            metrics[spec["name"]] = {"value": 0.0, "unit": spec["unit"]}
        else:
            fail(f"metric {spec['name']} was not measured")
    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "wall_s": time.time() - t0, "metrics": res["metrics"], "detail": res["detail"]}
    path = os.path.join(runs, f"{'trace' if a.trace else 'run'}-{a.workload}-seed{a.seed}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1)
    print(f"perfbench: all figures of this run written to {path}", file=sys.stderr)
    print(json.dumps({"correct": bool(res["correct"]) and res["failed"] == 0,
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
