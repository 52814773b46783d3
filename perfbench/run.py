#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload score_islands --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. The first run builds the engine and
the benchmark program from source (perfbench/build.py). The JVM and the Spark
master are sized from the host: local[<cpus>] and a heap of half of
MemTotal, clamped to 2-8 GiB (SPARK_DRIVER_MEM is set to the same
value). With --trace 0 the last stdout line carries the end-to-end
metrics, with --trace 1 the per-layer metrics of a traced run. The full
record of each run (tree, seed, cpus, heap, steal, iowait, counters,
latencies) goes to .bench_out/<workload>-seed<seed>-trace<t>.json.
See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("score_islands", "lake_lookup")
OUT_DIR = ".bench_out"
RUN_TIMEOUT_S = 170

# The names users know the throughput metrics by, per workload.
NAMED = {
    "score_islands": {"throughput_per_s": "pairs_per_s", "rows_per_s": "island_rows_per_s"},
    "lake_lookup": {"throughput_per_s": "lookups_per_s", "rows_per_s": "rows_returned_per_s"},
}

# What SparkSession needs on JDK 17 when it is not started by spark-submit.
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", p + "=ALL-UNNAMED")]


def heap_gb():
    """Half of MemTotal in GiB, clamped to [2, 8]."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
        return max(2, min(8, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        return 2


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def contract_metrics(trace):
    """Names of the metrics BENCHMARK.json asks for, or None (print every
    metric) when the file is not there."""
    try:
        with open("BENCHMARK.json") as f:
            spec = json.load(f)
    except (OSError, ValueError):
        return None
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def counter_repeat(artifact_path, tree, counters):
    """Compares this run's counters with those of the previous traced
    run of the same workload and seed on the same tree, if any."""
    try:
        with open(artifact_path) as f:
            prev = json.load(f)
    except (OSError, ValueError):
        return None
    if prev.get("tree") != tree:
        return None
    before = prev.get("counters") or {}
    differ = {k: {"previous": before.get(k), "now": v,
                  "spread": abs(v - before[k]) if None not in (v, before.get(k)) else None}
              for k, v in counters.items() if before.get(k) != v}
    return {"repeat_exactly": not differ, "differ": differ}


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    try:
        cp = build.build()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(OUT_DIR, "work", tag)
    tmp = os.path.join(OUT_DIR, "tmp", tag)
    for d in (work, tmp):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    result_file = os.path.join(OUT_DIR, tag + ".result.json")
    if os.path.exists(result_file):
        os.remove(result_file)
    heap = heap_gb()
    n = cpus()
    # A fixed heap size: G1 does not shrink and regrow it during the run.
    cmd = ["java", f"-Xms{heap}g", f"-Xmx{heap}g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.abspath(tmp)}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", *ADD_OPENS,
           "-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", a.trace, "--work", work,
           "--cpus", str(n), "--out", result_file]
    env = dict(os.environ, SPARK_DRIVER_MEM=f"{heap}g")
    with open(os.path.join(OUT_DIR, tag + ".log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, start_new_session=True)
        try:
            rc = p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            print(f"[perfbench] {tag}: no result within {RUN_TIMEOUT_S} s", file=sys.stderr)
            return 3
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    if not os.path.exists(result_file):
        print(f"[perfbench] {tag}: the benchmark JVM exited {rc} without a result; see {log.name}", file=sys.stderr)
        return rc or 4
    with open(result_file) as f:
        out = json.load(f)
    result, detail = out["result"], out["detail"]
    wanted = contract_metrics(a.trace == "1")
    if wanted is not None:
        missing = [k for k in wanted if k not in result["metrics"]]
        if missing:
            print(f"[perfbench] {tag}: the run reported no {missing}", file=sys.stderr)
            return 5
        result["metrics"] = {k: result["metrics"][k] for k in wanted}

    artifact_path = os.path.join(OUT_DIR, tag + ".json")
    tree = build.stamp(build.sources())
    artifact = {"tree": tree, "workload": a.workload, "seed": a.seed,
                "seconds": a.seconds, "trace": a.trace == "1", "cpus": n, "heap_gb": heap,
                "steal_s": detail["steal_s"], "iowait_s": detail["iowait_s"],
                "result": result, "detail": detail, "counters": detail.get("counters")}
    if a.trace == "1":
        artifact["counter_repeat"] = counter_repeat(artifact_path, tree, detail["counters"])
    with open(artifact_path, "w") as f:
        json.dump(artifact, f, indent=1)

    e2e = detail["end_to_end"]
    names = NAMED[a.workload]
    shown = [f"{names.get(k, k)}={v['value']:.6g} {v['unit']}" for k, v in e2e.items()]
    shown.insert(3, f"(op_tail_s is p{round(100 * detail['tail_percentile'])}, "
                    f"{detail['tail_samples_beyond']} of {detail['ops']} ops beyond)")
    shown.append(f"fail_frac={detail['fail_frac']:.6g}")
    print(f"[perfbench] {tag}: " + ", ".join(shown))
    if not result["correct"]:
        print(f"[perfbench] {tag}: incorrect: {detail['failures']}", file=sys.stderr)
    print(json.dumps(result))
    return 0 if result["correct"] and rc == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
