"""Tick-gap detection (streaming/monitor.py, SURVEY §2.10 A2): the
'ticks lost asked for X but got Y' alarm of the reference's WAL tail
(publisher.py:140-141), driven through both direct observe() calls and a
real gapped envelope stream via CdcPipeline."""

import os

import pytest
from pyspark.sql import functions as F

from arango_clickhouse_replica_spark.schema.dsl import TableMapping
from arango_clickhouse_replica_spark.sources.cdc_envelopes import (
    synthetic_event_envelopes,
)
from arango_clickhouse_replica_spark.streaming import CdcPipeline
from arango_clickhouse_replica_spark.streaming.merge_sink import BucketedMergeSink
from arango_clickhouse_replica_spark.streaming.monitor import TickGapMonitor


def _env(spark, ticks):
    rows = [(t, 2300, "c1", {"k": str(t)}) for t in ticks]
    return spark.createDataFrame(
        rows, "tick long, type int, cuid string, data map<string,string>"
    )


def test_contiguous_batches_no_gap(spark):
    mon = TickGapMonitor()
    assert mon.observe(_env(spark, [1, 2, 3]), 0) is None
    assert mon.observe(_env(spark, [4, 5]), 1) is None
    assert mon.gaps == [] and mon.last_tick == 5


def test_gap_between_batches_detected(spark):
    mon = TickGapMonitor()
    mon.observe(_env(spark, [1, 2, 3]), 0)
    gap = mon.observe(_env(spark, [8, 9]), 1)
    assert gap is not None
    assert (gap.expected_from, gap.observed_from, gap.missing) == (4, 8, 4)
    assert mon.gaps == [gap]
    assert mon.last_tick == 9


def test_empty_batch_is_ignored(spark):
    mon = TickGapMonitor()
    mon.observe(_env(spark, [1, 2]), 0)
    assert mon.observe(_env(spark, []), 1) is None
    assert mon.last_tick == 2 and mon.gaps == []


def test_gap_alarm_fires_through_pipeline(spark, sf_dir, tmp_path):
    """A gapped envelope directory drives the monitor via foreachBatch."""
    env_dir = str(tmp_path / "env")
    os.makedirs(env_dir)
    env = synthetic_event_envelopes(spark, sf_dir).filter(F.col("data").isNotNull())
    lo = env.filter(F.col("tick") <= 20)
    hi = env.filter(F.col("tick") > 1000)  # ticks 21..1000 lost
    lo.coalesce(1).write.mode("append").parquet(env_dir)
    first_files = set(os.listdir(env_dir))

    alarms = []
    mon = TickGapMonitor(on_gap=alarms.append)
    pipe = CdcPipeline(
        spark,
        target_dir=str(tmp_path / "target"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        keys=["event_id"],
        tick_monitor=mon,
    )
    pipe.run_until_drained(env_dir, env.schema)
    assert mon.gaps == []  # first range alone is gap-free at its start

    hi.coalesce(1).write.mode("append").parquet(env_dir)
    assert set(os.listdir(env_dir)) != first_files
    pipe.run_until_drained(env_dir, env.schema)
    assert len(mon.gaps) >= 1
    assert alarms == mon.gaps
    assert mon.gaps[0].expected_from == 21
    assert mon.gaps[0].observed_from > 1000


def test_batch_progress_records(spark):
    """Per-batch progress (the reference's 'processed X-Y: overall N docs'
    log, publisher.py:155-156) accumulates alongside gap detection."""
    mon = TickGapMonitor()
    mon.observe(_env(spark, [1, 2, 3]), 0)
    mon.observe(_env(spark, []), 1)
    mon.observe(_env(spark, [8, 9]), 2)
    assert [(p.batch_id, p.tick_from, p.tick_to, p.n_envelopes)
            for p in mon.progress] == [(0, 1, 3, 3), (2, 8, 9, 2)]


_TXN_ENV = (
    "tick long, type int, cuid string, tid string, "
    "data struct<event_id:long, value:double>"
)
# Two batches of raw envelopes with txn markers (2200/2201) and
# tombstones (null data); T2 is cut by the batch boundary, so the
# txn_atomic gate defers its first row into batch 1's pending union.
_BATCHES = [
    [
        (1, 2200, "c", "T1", None),
        (2, 2300, "c", "T1", (1, 1.0)),
        (3, 2300, "c", "T1", None),  # tombstone
        (4, 2201, "c", "T1", None),
        (5, 2200, "c", "T2", None),
        (6, 2300, "c", "T2", (2, 2.0)),
        (7, 2302, "c", None, (1, 1.0)),
    ],
    [
        (8, 2300, "c", "T2", (3, 3.0)),
        (9, 2201, "c", "T2", None),
        (10, 2300, "c", None, (4, 4.0)),
        (11, 2300, "c", None, None),  # tombstone
    ],
]


def _pipe_for_mode(spark, tmp_path, mode, mon):
    kwargs = {}
    if mode == "merge_sink":
        kwargs["merge_sink"] = BucketedMergeSink(
            spark, str(tmp_path / "target"), keys=["event_id"], n_buckets=4
        )
    elif mode == "txn_atomic":
        kwargs["txn_atomic"] = True
    elif mode == "mapped":
        kwargs["mapping"] = TableMapping.from_dict({
            "primary_key": ["event_id"],
            "properties": {"event_id": {"type": "int"}, "value": {"type": "float"}},
        })
        kwargs["dead_letter_dir"] = str(tmp_path / "dead")
    return CdcPipeline(
        spark,
        target_dir=str(tmp_path / "target"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        keys=["event_id"],
        tick_monitor=mon,
        **kwargs,
    )


@pytest.mark.parametrize("mode", ["append", "merge_sink", "txn_atomic", "mapped"])
def test_pipeline_monitor_sees_each_raw_envelope_once(spark, tmp_path, mode):
    """The probe folded into the batch's write sees the RAW batch: every
    envelope once, markers and tombstones included, pending txn rows
    unioned in by the txn_atomic gate excluded."""
    env_dir = str(tmp_path / "env")
    mon = TickGapMonitor()
    pipe = _pipe_for_mode(spark, tmp_path, mode, mon)
    want = []
    for batch_id, rows in enumerate(_BATCHES):
        batch = spark.createDataFrame(rows, _TXN_ENV)
        batch.coalesce(1).write.mode("append").parquet(env_dir)
        pipe.run_until_drained(env_dir, batch.schema)
        ticks = [r[0] for r in rows]
        want.append((batch_id, min(ticks), max(ticks), len(rows)))
    assert [(p.batch_id, p.tick_from, p.tick_to, p.n_envelopes)
            for p in mon.progress] == want
    assert mon.gaps == [] and mon.last_tick == 11
    alive = {r.event_id for r in pipe.latest_alive().collect()}
    assert alive == {2, 3, 4}


@pytest.mark.parametrize("mode", ["append", "mapped"])
def test_tick_monitor_adds_no_spark_job(spark, tmp_path, mode):
    """Applying a batch with a tick monitor runs no more Spark jobs than
    the same batch without one: the probe rides the batch's own write."""
    sc = spark.sparkContext
    batch = spark.createDataFrame(_BATCHES[0], _TXN_ENV)

    def jobs(name, mon):
        pipe = _pipe_for_mode(spark, tmp_path / name, mode, mon)
        group = f"monitor-guard-{mode}-{name}"
        sc.setJobGroup(group, group)
        try:
            pipe._apply_batch(batch, 0)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    without = jobs("plain", None)
    mon = TickGapMonitor()
    assert jobs("monitored", mon) <= without
    assert [(p.tick_from, p.tick_to, p.n_envelopes) for p in mon.progress] == [(1, 7, 7)]
