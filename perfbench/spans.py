"""Span recorder and the traced run (``--trace 1``).

A span is (name, start, end, parent, run id, op id) plus counts. Spans
stay in memory and are written as JSON lines when the run ends. Each
span runs under its own Spark job group, so the jobs, stages and tasks
it launched are counted exactly from ``SparkContext.statusTracker()``.

The traced run first runs the workload untraced for half of its time,
which gives the untraced operation times, the streaming progress figures
and the Spark work per operation, then runs ``traced_op`` for the other
half. Tracing overhead is the traced minus the untraced operation time.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

from workloads import Op, dir_bytes


class SparkCounts:
    """Jobs, stages and tasks launched under a Spark job group."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.tracker = sc.statusTracker()
        self.seen: set[int] = set()

    def enter(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def collect(self, groups: list[str]) -> tuple[int, int, int]:
        jobs = [j for g in groups for j in self.tracker.getJobIdsForGroup(g)
                if j not in self.seen]
        self.seen.update(jobs)
        stages = [s for j in jobs
                  for s in (getattr(self.tracker.getJobInfo(j), "stageIds", None) or [])]
        tasks = 0
        for s in stages:
            info = self.tracker.getStageInfo(s)
            tasks += info.numTasks if info is not None else 0
        return len(jobs), len(stages), tasks


class Recorder:
    """In-memory spans of one run; the outermost span of each op is ``op``."""

    def __init__(self, run_id: str, counts: SparkCounts) -> None:
        self.run_id = run_id
        self.counts = counts
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.op_id = -1

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        if not self.stack:
            self.op_id += 1
        rec = {"id": sid, "name": name, "parent": self.stack[-1] if self.stack else None,
               "run_id": self.run_id, "op": self.op_id, "start": time.perf_counter(),
               "end": None, "attrs": {}}
        self.spans.append(rec)
        self.stack.append(sid)
        self.counts.enter(f"span-{self.run_id}-{sid}")
        try:
            yield rec["attrs"]
        finally:
            rec["end"] = time.perf_counter()
            jobs, stages, tasks = self.counts.collect([f"span-{self.run_id}-{sid}"])
            rec["attrs"].update(jobs=jobs, stages=stages, tasks=tasks)
            self.stack.pop()
            if self.stack:
                self.counts.enter(f"span-{self.run_id}-{self.stack[-1]}")

    def count(self, **values) -> None:
        """Add counts to the current op's root span."""
        attrs = self.spans[self.stack[0]]["attrs"]
        for k, v in values.items():
            attrs[k] = attrs.get(k, 0) + v if isinstance(v, (int, float)) else v

    def self_seconds(self) -> dict[int, float]:
        """Span id -> duration minus the time its (sequential) children cover."""
        out = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]] -= s["end"] - s["start"]
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def traced_run(workload, seconds: float, session_s: float, spans_path: str):
    """Returns (per-layer metrics, info with the ops run)."""
    counts = SparkCounts(workload.spark.sparkContext)
    untraced, work = [], []
    deadline = time.perf_counter() + seconds / 2
    while not untraced or time.perf_counter() < deadline:
        group = f"op-{len(untraced)}"
        counts.enter(group)
        untraced.append(workload.op())
        work.append(counts.collect([group] + workload.stream_groups()))
    workload.close()  # traced ops call the layers directly, not through the stream

    rec = Recorder(f"{workload.name}-s{workload.seed}-{os.getpid()}", counts)
    traced = []
    deadline = time.perf_counter() + seconds / 2
    while not traced or time.perf_counter() < deadline:
        root = len(rec.spans)
        with rec.span("op"):
            ok = workload.traced_op(rec)
        traced.append((rec.spans[root], ok))
    rec.write(spans_path)

    self_s = rec.self_seconds()
    by_name: dict[str, list[float]] = {}
    for s in rec.spans:
        by_name.setdefault(s["name"], []).append(self_s[s["id"]])
    roots = [r for r, _ in traced]
    tot = {}
    for r in roots:
        for k, v in r["attrs"].items():
            if isinstance(v, (int, float)):
                tot[k] = tot.get(k, 0) + v

    def layer(name: str) -> float:
        return _median(by_name.get(name, []))

    def kind(root: dict) -> str:
        return root["attrs"].get("kind", "write")

    # traced minus untraced time and the layers' share, per op kind
    overhead, share, weight = 0.0, 0.0, 0
    for k in {kind(r) for r in roots}:
        base = _median(o.ms for o in untraced if o.kind == k)
        mine = [r for r in roots if kind(r) == k]
        if not base:
            continue
        layer_s = [sum(self_s[s["id"]] for s in rec.spans
                       if s["op"] == r["op"] and s["parent"] is not None) for r in mine]
        overhead += len(mine) * (_median((r["end"] - r["start"]) * 1e3 for r in mine) - base)
        share += len(mine) * _median(layer_s) * 1e3 / base
        weight += len(mine)

    progress = [p for o in untraced for p in o.progress]
    dur = [p["durationMs"] for p in progress]
    rows_per_winner = workload.rows_per_winner()
    compact_s = 0.0
    if workload.compacts:
        t0 = time.perf_counter()
        workload.pipe.compact()
        compact_s = time.perf_counter() - t0
    merge = [s["attrs"] for s in rec.spans if s["name"] == "streaming.merge_sink.apply_batch"]
    metrics = {
        "session.start_s": (session_s, "s"),
        "sources.envelopes_read_s": (layer("sources.read_envelopes_jsonl")
                                     or layer("sources.read_parquet"), "s"),
        "sources.bytes_per_event": (_ratio(tot.get("input_bytes", 0), tot.get("envelopes", 0)), "B"),
        "schema.dsl.compile_s": (layer("schema.dsl.compile_mapping"), "s"),
        "schema.dsl.apply_s": (layer("schema.dsl.apply"), "s"),
        "schema.dsl.reject_ratio": (_ratio(tot.get("dsl_rejected", 0), tot.get("dsl_in", 0)), "ratio"),
        "operators.cdc.preprocess_s": (layer("operators.cdc.preprocess_envelopes"), "s"),
        "operators.cdc.keep_ratio": (_ratio(tot.get("preprocess_out", 0), tot.get("envelopes", 0)), "ratio"),
        "operators.cdc.latest_state_s": (layer("operators.cdc.latest_state"), "s"),
        "operators.cdc.rows_scanned_per_row_returned": (rows_per_winner, "ratio"),
        "streaming.monitor.observe_s": (layer("streaming.monitor.observe"), "s"),
        "streaming.pipeline.append_s": (layer("streaming.pipeline.append"), "s"),
        "streaming.pipeline.scan_s": (layer("streaming.pipeline.raw"), "s"),
        "streaming.pipeline.add_batch_ms": (_median(d.get("addBatch", 0) for d in dur), "ms"),
        "streaming.pipeline.trigger_overhead_ms": (
            _median(d.get("triggerExecution", 0) - d.get("addBatch", 0) for d in dur), "ms"),
        "streaming.pipeline.batches_per_write": (
            _median(len(o.progress) for o in untraced if o.kind == "write"), "count"),
        "streaming.pipeline.compact_s": (compact_s, "s"),
        "streaming.pipeline.target_files": (dir_bytes(workload.target_dir)[1], "count"),
        "spark.jobs_per_op": (_median(w[0] for w in work), "count"),
        "spark.stages_per_op": (_median(w[1] for w in work), "count"),
        "spark.tasks_per_op": (_median(w[2] for w in work), "count"),
        "tracing.overhead_ms": (_ratio(overhead, weight), "ms"),
        "tracing.layer_share": (_ratio(share, weight), "ratio"),
    }
    if merge:
        metrics.update({
            "streaming.merge_sink.apply_s": (layer("streaming.merge_sink.apply_batch"), "s"),
            "streaming.merge_sink.buckets_touched_ratio": (
                _median(_ratio(m["buckets_touched"], m["n_buckets"]) for m in merge), "ratio"),
            "streaming.merge_sink.bytes_rewritten_per_input_byte": (
                _median(_ratio(m["bytes_rewritten"], m["input_bytes"]) for m in merge), "ratio"),
            "streaming.merge_sink.spark_jobs_per_batch": (_median(m["jobs"] for m in merge), "count"),
        })
    ops = untraced + [Op(kind(r), (r["end"] - r["start"]) * 1e3, ok) for r, ok in traced]
    info = {"ops": ops, "untraced_ops": len(untraced), "traced_ops": len(traced),
            "spans": len(rec.spans), "spans_file": spans_path,
            "layer_self_s": {k: _median(v) for k, v in sorted(by_name.items())}}
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}, info
