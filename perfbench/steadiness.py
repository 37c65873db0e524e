"""Steadiness report: run one workload N times, each with its own seed,
and print every metric's median, quartiles and relative spread
((q3 - q1) / median, quartiles as ``statistics.quantiles(n=4)`` gives
them) next to its bound in BENCHMARK.json.

    python3 perfbench/steadiness.py --workload backlog_drain --runs 10

Run from the repository root. The last line is JSON with every run's
values, so two reports can be compared.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    """(metric values, the info line) of one run."""
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        raise SystemExit(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    if not result["correct"]:
        raise SystemExit(f"seed {seed}: incorrect result {result}")
    info = next(json.loads(x) for x in reversed(lines) if x.startswith('{"environment"'))
    return {k: v["value"] for k, v in result["metrics"].items()}, info


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3 - q1) / median)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"] + bench["per_layer"]}
    runs = []
    for i in range(args.runs):
        seed = args.first_seed + i
        values, info = run_once(args.workload, seed, bench["run_seconds"], args.trace)
        runs.append(values)
        spin = "/".join(f"{v:.0f}" for v in info["host_spin_ms"])
        print(f"seed {seed}: " + ", ".join(f"{k}={v:.4g}" for k, v in values.items())
              + f"; host spin {spin} ms", flush=True)
    print(f"{'metric':45} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
    for name in runs[0]:
        med, q1, q3, rel = spread([r[name] for r in runs])
        bound = bounds.get(name)
        flag = "" if bound is None else ("ok" if rel <= bound / 3 else
                                         "WIDE" if rel > bound else "near")
        print(f"{name:45} {med:12.4f} {q1:12.4f} {q3:12.4f} {rel:8.3f} "
              f"{'' if bound is None else bound:>6} {flag}")
    print(json.dumps({"workload": args.workload, "runs": runs}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
