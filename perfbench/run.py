#!/usr/bin/env python3
"""graft benchmark: one workload run, from the root of a checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see perfbench/README.md): extract_batch, query_profile. The run
builds the program from source if needed (build.py), then starts one JVM at
local[nproc / 2] that generates the workload's inputs from --seed, times the
workload for --seconds in a closed loop and checks every output. It prints
as its last stdout line one JSON object with `correct`, `attempted`, `failed`
and `metrics`: the end-to-end metrics of BENCHMARK.json with --trace 0, its
per-layer metrics with --trace 1. A traced run also
writes its spans and per-layer self-time table under <build dir>/trace/.
A correctness mismatch, a failed build or a run over its time limit exits
non-zero without a result line.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("extract_batch", "query_profile")
TIME_LIMIT_S = 170
# module opens Spark needs on JDK 17 outside spark-submit, as in build.sbt
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
HEAP_MB = 2048


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def java_cmd(classpath, args):
    """The JVM options build.sbt gives the program (module opens, a fixed
    ParallelGC heap with a large young generation, and a code cache big
    enough for Spark's generated classes) at a fixed 2 GB heap, without
    pre-touching it."""
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    young = min(HEAP_MB - 128, max(256, HEAP_MB // 2))
    return (["java"] + opens + [
        f"-Xmx{HEAP_MB}m", f"-Xms{HEAP_MB}m", f"-Xmn{young}m", "-XX:+UseParallelGC",
        "-XX:ReservedCodeCacheSize=1g",
        f"-Djava.io.tmpdir={args['tmp']}", "-cp", ":".join(classpath), "perfbench.Main"]
        + [x for k, v in args.items() if k != "tmp" for x in (f"--{k}", str(v))])


def cpu_ticks():
    """Host CPU counters (user, nice, system, idle, iowait, irq, softirq,
    steal, ...) from /proc/stat, or None where there is none."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None


def revision():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except OSError:
        pass
    with open(os.path.join(build.build_dir(ROOT), "classes.sha256")) as f:
        return "sources-sha256:" + f.read().strip()


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    classpath = build.build(ROOT)
    start = time.time()

    work = os.path.join(build.build_dir(ROOT), "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))

    result_file = os.path.join(work, "result.json")
    cmd = java_cmd(classpath, {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "work": work, "out": result_file, "start-ms": int(start * 1000),
        "tmp": os.path.join(work, "tmp")})
    ticks0 = cpu_ticks()
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=ROOT)
    try:
        rc = proc.wait(timeout=max(1.0, TIME_LIMIT_S - (time.time() - start)))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"{a.workload}: over the {TIME_LIMIT_S} s limit, killed")
    log(f"+{time.time() - start:.1f}s JVM exited {rc}")
    ticks1 = cpu_ticks()
    # CPU time the hypervisor gave to other guests during the run: when it is
    # high, every timing of the run is slow
    steal = None
    if ticks0 and ticks1 and len(ticks0) > 7:
        d = [b - a for a, b in zip(ticks0, ticks1)]
        steal = d[7] / max(1, sum(d))
    if rc != 0:
        raise SystemExit(f"{a.workload}: JVM exited {rc}")
    with open(result_file) as f:
        res = json.load(f)

    if a.workload == "query_profile":
        problems = oracle.check(os.path.join(work, "query", "corpus"),
                                   os.path.join(work, "query", "out"), sorted(res["inputs"]["rows"]))
        for name, why in problems:
            log(f"oracle mismatch {name}: {why}")
        res["correct"] = res["correct"] and not problems
    if not res["correct"]:
        raise SystemExit(f"{a.workload}: output is not correct, no result")

    measured = {m["name"]: m for m in res["metrics"]}
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    names = {w["name"] for w in spec["end_to_end"] + spec["per_layer"]}
    unknown = sorted(set(measured) - names)
    if unknown:
        raise SystemExit(f"metrics missing from BENCHMARK.json: {unknown}")
    metrics = {}
    for w in wanted:
        m = measured.get(w["name"])
        if m is None and not a.trace:
            raise SystemExit(f"{a.workload} did not measure {w['name']}")
        if m is not None and m["unit"] != w["unit"]:
            raise SystemExit(f"{w['name']}: unit {m['unit']} != {w['unit']}")
        # a per-layer metric of a layer this workload never calls reads 0
        metrics[w["name"]] = {"value": m["value"] if m else 0, "unit": w["unit"]}

    context = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
               "cpus": res["cpus"], "spark_cores": res["spark_cores"], "host_steal_share": steal, "rev": revision(),
               "setup_rounds_s": res["setup_rounds_s"], "setup_steal": res["setup_steal"],
               "inputs": res["inputs"],
               "metrics": {k: v["value"] for k, v in measured.items()}}
    if a.trace:
        trace_dir = os.path.join(build.build_dir(ROOT), "trace")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{a.workload}-seed{a.seed}.json"), "w") as f:
            json.dump({**context, "layers": res["layers"], "spans": res["spans"]}, f)
        print(f"self time by layer, {a.workload}, local[{res['spark_cores']}], seed {a.seed}:")
        for row in res["layers"]:
            print(f"  {row['layer']:<10} spans {row['spans']:>5}  total {row['total_s']:9.3f} s"
                  f"  self {row['self_s']:9.3f} s")
    print(json.dumps(context))
    print(json.dumps({"correct": True, "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
