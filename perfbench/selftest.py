"""Self-tests of the benchmark, on tiny inputs. Run from the repository root:

    python3 perfbench/selftest.py

1. Every workload in BENCHMARK.json runs end to end through ``run.py``
   (``--scale tiny``), untraced and traced, and prints exactly the
   metrics BENCHMARK.json lists, correct.
2. ``run.py`` exits non-zero without a result where the engine is absent.
3. The correctness check fails when one winning row is corrupted, and
   separately when one deleted key is brought back, in a produced target.
4. ``trickle_merge_write`` (not in BENCHMARK.json) is run and its check
   reported: it fails while ``BucketedMergeSink`` loses rows.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()


def run_cli(cwd: str, *args: str) -> subprocess.CompletedProcess:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), *args]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def check_cli(bench: dict, workload: str, trace: int) -> None:
    out = run_cli(ROOT, "--workload", workload, "--seed", "3", "--seconds", "4",
                  "--trace", str(trace), "--scale", "tiny")
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    assert result["correct"] and result["failed"] == 0, result
    listed = bench["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == \
        {m["name"]: m["unit"] for m in listed}, sorted(result["metrics"])
    print(f"ok  {workload} --trace {trace}: {result['attempted']} ops, all correct")


def check_refuses_without_engine() -> None:
    bare = os.path.join(ROOT, ".perfbench_state", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        out = run_cli(bare, "--workload", "backlog_drain", "--seed", "1",
                      "--seconds", "1", "--trace", "0")
        assert out.returncode != 0 and '"correct"' not in out.stdout, out
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("ok  exits non-zero without a result when the engine is missing")


def inject(workload, row: tuple, deleted: bool, name: str) -> str:
    """Append one target row, as a later pipeline batch would."""
    import gen

    path = os.path.join(workload.target_dir, f"part-selftest-{name}.parquet")
    gen.write_target_parquet([(row, deleted)], path)
    return path


def check_detects_corruption(spark, cls) -> None:
    w = cls(spark, os.path.join(ROOT, ".perfbench_state", f"selftest-{cls.name}"), 5, "tiny")
    try:
        w.setup()
        w.warm_up()
        w.op()
        w.close()
        ok, detail = w.check()
        assert ok, detail
        top = max(r[0][5] for r in w.ref.rows.values()) + 1
        live = next(r for r, deleted in w.ref.rows.values() if not deleted)
        gone = next(r for r, deleted in w.ref.rows.values() if deleted)
        for label, row in (("corrupt-winner", (live[0], live[1] + "-corrupt") + live[2:5] + (top,)),
                           ("undelete", gone[:5] + (top,))):
            path = inject(w, row, False, label)
            ok, detail = w.check()
            assert not ok, f"{label} went unnoticed"
            os.remove(path)
            print(f"ok  {cls.name}: check reports {label}: {detail}")
        assert w.check()[0]
    finally:
        w.close()
        shutil.rmtree(w.dir, ignore_errors=True)


def report_merge_sink(spark) -> None:
    from workloads import TrickleMergeWrite

    w = TrickleMergeWrite(spark, os.path.join(ROOT, ".perfbench_state", "selftest-trickle"),
                          5, "tiny")
    try:
        w.setup()
        w.warm_up()
        w.op()
        w.close()
        ok, detail = w.check()
        print(f"{'ok ' if ok else 'bad'} trickle_merge_write (not in BENCHMARK.json): {detail}")
    finally:
        w.close()
        shutil.rmtree(w.dir, ignore_errors=True)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for w in bench["workloads"]:
        for trace in (0, 1):
            check_cli(bench, w["name"], trace)
    check_refuses_without_engine()

    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    import run
    from workloads import WORKLOADS

    state = os.path.join(ROOT, ".perfbench_state", f"selftest-{os.getpid()}")
    run.pin_environment(state)
    from arango_clickhouse_replica_spark.session import get_spark

    spark = get_spark("perfbench-selftest")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        for w in bench["workloads"]:
            check_detects_corruption(spark, WORKLOADS[w["name"]])
        report_merge_sink(spark)
    finally:
        run.stop_spark(spark)
        shutil.rmtree(state, ignore_errors=True)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
