"""Replica benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload backlog_drain --seed 1 --seconds 15 --trace 0

Run from the repository root. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics of ``BENCHMARK.json``, with
``--trace 1`` its per-layer metrics from a traced run. Lines before it
give the environment, every metric's sample count and the tail
percentiles. ``--scale tiny`` runs a small input for self-tests.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
SETUP_REPS = 3
# Untimed operations after set-up: the JIT keeps speeding operations up
# for about half a minute after the first one (120,000-row point reads
# 650 -> 400 ms, 60,000-doc drains 4.6 -> 2.3 s on a 4-core box), so
# measuring at once would measure how far compilation got.
SOAK_S = {"full": 6.0, "tiny": 0.0}


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated ``q``-th percentile (0..100)."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values: list[float]) -> tuple[float, float] | None:
    """(percentile, value): the highest percentile with at least ten
    samples beyond it, or None when there are too few samples."""
    n = len(values)
    if n < 20:
        return None
    q = 100.0 * (1 - 10.0 / n)
    return q, percentile(values, q)


def peak_rss_mb() -> float:
    """Summed VmHWM of this process and its descendants (the JVM)."""
    parents: dict[int, int] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                parents[int(pid)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        p = frontier.pop()
        for child, parent in parents.items():
            if parent == p and child not in tree:
                tree.add(child)
                frontier.append(child)
    total_kb = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def pin_environment(state: str) -> int:
    """Fix parallelism to the visible CPUs and keep scratch files in ``state``."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(state, "tmp")
    local = os.path.join(state, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return cpus


def host_spin_ms() -> float:
    """Median time of a fixed pure-Python loop. The figure moves with how
    fast this host runs at the moment (on a shared VM it has drifted by
    1.7x within half an hour), so runs on a contended host can be told
    apart."""
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        total = 0
        for i in range(200_000):
            total += i
        times.append((time.perf_counter() - t0) * 1e3)
    return statistics.median(times)


def cpu_ticks() -> tuple[int, int]:
    """(all, stolen) CPU ticks since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit. The gateway JVM ends
    when its stdin closes; PySpark keeps the process in the private
    ``SparkContext._gateway.proc``."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def environment(spark, cpus: int) -> dict:
    import pyspark

    return {"nproc": cpus, "pyspark": pyspark.__version__,
            "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
            "python": sys.version.split()[0]}


def heap_live_mb(spark) -> float:
    """JVM heap in use after a full collection: what the engine retains.
    Taken right after set-up, a fixed amount of work; at the end of the run
    it would grow with the number of operations a faster engine fits in."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20


def end_to_end(ops, setup_s: float, storage: list[float], heap_mb: float) -> tuple[dict, dict]:
    """The BENCHMARK.json end-to-end metrics, plus sample counts and tails."""
    writes = [o for o in ops if o.kind == "write"]
    reads = [o.read_ms for o in ops if o.read_ms]
    fresh = [o.ms for o in writes]
    metrics = {
        "setup_s": (setup_s, "s"),
        "apply_events_per_s": (statistics.median(o.events / (o.write_ms / 1e3) for o in writes), "1/s"),
        "freshness_p50_ms": (statistics.median(fresh), "ms"),
        "read_p50_ms": (statistics.median(reads), "ms"),
        "storage_bytes_per_live_row": (statistics.median(storage), "B"),
        "heap_live_mb": (heap_mb, "MB"),
    }
    info = {"write_p50_ms": statistics.median(o.write_ms for o in writes),
            "samples": {"writes": len(writes), "reads": len(reads),
                        "point": sum(o.kind == "point" for o in ops),
                        "agg": sum(o.kind == "agg" for o in ops)}}
    for name, values in (("freshness_tail_ms", fresh), ("read_tail_ms", reads),
                         ("write_tail_ms", [o.write_ms for o in writes])):
        t = tail(values)
        info[name] = None if t is None else {"percentile": round(t[0], 2),
                                             "value": t[1], "samples": len(values)}
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}, info


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "arango_clickhouse_replica_spark")):
        print("run from the repository root: the engine package is missing",
              file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    sys.path.insert(0, root)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    state = os.path.join(root, ".perfbench_state",
                         f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(state, ignore_errors=True)
    cpus = pin_environment(state)
    spin_before = host_spin_ms()
    spark = None
    try:
        from arango_clickhouse_replica_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0

        # Set-up = session start + generate/preload (repeated into fresh
        # dirs, median taken; the last repetition is measured) + the first
        # operation of each kind, which pays one-time compile costs.
        reps, workload = [], None
        for i in range(SETUP_REPS):
            if workload is not None:
                workload.close()
                shutil.rmtree(workload.dir, ignore_errors=True)
            t0 = time.perf_counter()
            workload = WORKLOADS[args.workload](spark, os.path.join(state, f"rep{i}"),
                                                args.seed, args.scale)
            workload.setup()
            reps.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        workload.warm_up()
        warm_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(reps) + warm_s
        heap_mb = heap_live_mb(spark)
        soak = []
        deadline = time.perf_counter() + SOAK_S[args.scale]
        while time.perf_counter() < deadline:
            soak.append(workload.op())
        workload.storage_samples.clear()
        ticks0 = cpu_ticks()

        if args.trace:
            from spans import traced_run

            spans_path = os.path.join(root, ".perfbench_out",
                                      f"spans-{args.workload}-s{args.seed}-{os.getpid()}.jsonl")
            result, info = traced_run(workload, args.seconds, session_s, spans_path)
            ops = info.pop("ops")
        else:
            ops = []
            deadline = time.perf_counter() + args.seconds
            # every metric needs at least one write and one read sample
            while (time.perf_counter() < deadline or not any(o.kind == "write" for o in ops)
                   or not any(o.read_ms for o in ops)):
                ops.append(workload.op())
            result, info = end_to_end(ops, setup_s, workload.storage_samples, heap_mb)
            info["peak_rss_mb"] = peak_rss_mb()
        ticks1 = cpu_ticks()
        workload.close()
        final_ok, detail = workload.check()
        failed = sum(not o.ok for o in soak + ops) + (not final_ok)
        attempted = len(soak) + len(ops) + 1
        print(json.dumps({"environment": environment(spark, cpus), "workload": args.workload,
                          "seed": args.seed, "scale": args.scale,
                          "setup_reps_s": reps, "session_start_s": session_s,
                          "warm_up_s": warm_s, "soak_ops": len(soak),
                          "final_check": detail, "failed_ratio": failed / attempted,
                          "host_spin_ms": [spin_before, host_spin_ms()],
                          "cpu_steal_share": (ticks1[1] - ticks0[1]) / max(ticks1[0] - ticks0[0], 1),
                          **info}))
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(state, ignore_errors=True)
        parent = os.path.dirname(state)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": result}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
