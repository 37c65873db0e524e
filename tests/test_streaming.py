"""End-to-end Structured Streaming CDC tests: file-based envelope stream ->
foreachBatch apply -> append-only target -> merge-on-read latest views.
Mirrors the reference's producer->consumer flow with checkpoint-based
progress instead of Redis ticks / Kafka commits."""

import os

import pytest
from pyspark.sql import functions as F

from arango_clickhouse_replica_spark.operators.cdc import latest_alive
from arango_clickhouse_replica_spark.sources.cdc_envelopes import synthetic_event_envelopes
from arango_clickhouse_replica_spark.streaming import CdcPipeline


@pytest.fixture
def dirs(tmp_path):
    d = {
        "env": str(tmp_path / "envelopes"),
        "target": str(tmp_path / "target"),
        "ckpt": str(tmp_path / "ckpt"),
    }
    os.makedirs(d["env"])
    return d


def _write_envelopes(spark, sf_dir, env_dir, n_files=3):
    env = synthetic_event_envelopes(spark, sf_dir)
    env.repartition(n_files).write.mode("append").parquet(env_dir)
    return env.schema


def test_stream_matches_batch_pipeline(spark, sf_dir, dirs):
    schema = _write_envelopes(spark, sf_dir, dirs["env"])
    pipe = CdcPipeline(
        spark,
        target_dir=dirs["target"],
        checkpoint_dir=dirs["ckpt"],
        keys=["event_id"],
        initial_tick=0,
    )
    pipe.run_until_drained(dirs["env"], schema)

    # batch-computed expectation over the same envelopes
    from arango_clickhouse_replica_spark.operators.cdc import preprocess_envelopes

    batch = latest_alive(
        preprocess_envelopes(
            spark.read.schema(schema).parquet(dirs["env"]), initial_tick=0
        ),
        keys=["event_id"],
    )
    got = {(r.event_id, r.value) for r in pipe.latest_alive().collect()}
    want = {(r.event_id, r.value) for r in batch.collect()}
    assert got == want and len(got) > 0


def test_stream_restart_is_idempotent(spark, sf_dir, dirs):
    """New files after a restart are processed exactly once; re-delivered
    envelopes are absorbed by version dedup (T2/T3)."""
    schema = _write_envelopes(spark, sf_dir, dirs["env"])
    pipe = CdcPipeline(
        spark,
        target_dir=dirs["target"],
        checkpoint_dir=dirs["ckpt"],
        keys=["event_id"],
        initial_tick=0,
    )
    pipe.run_until_drained(dirs["env"], schema)
    first = {(r.event_id, r.value) for r in pipe.latest_alive().collect()}

    # restart with the same checkpoint: nothing new -> state unchanged
    pipe.run_until_drained(dirs["env"], schema)
    assert {(r.event_id, r.value) for r in pipe.latest_alive().collect()} == first

    # write a late update for one key and restart again
    one = (
        spark.read.schema(schema).parquet(dirs["env"])
        .filter(F.col("type") == 2300)
        .orderBy("tick")
        .limit(1)
    )
    bump = one.withColumn("tick", F.col("tick") + 1_000_000).withColumn(
        "data", F.col("data").withField("value", F.lit(9999.0))
    )
    bump.write.mode("append").parquet(dirs["env"])
    pipe.run_until_drained(dirs["env"], schema)
    updated = {r.event_id: r.value for r in pipe.latest_alive().collect()}
    bumped_key = one.collect()[0].data.event_id
    assert updated[bumped_key] == 9999.0


def test_compact_preserves_latest_state(spark, sf_dir, dirs):
    schema = _write_envelopes(spark, sf_dir, dirs["env"])
    pipe = CdcPipeline(
        spark,
        target_dir=dirs["target"],
        checkpoint_dir=dirs["ckpt"],
        keys=["event_id"],
        initial_tick=0,
    )
    pipe.run_until_drained(dirs["env"], schema)
    before = {(r.event_id, r.value) for r in pipe.latest_alive().collect()}
    raw_before = pipe.raw().count()
    pipe.compact()
    after = {(r.event_id, r.value) for r in pipe.latest_alive().collect()}
    assert after == before
    assert pipe.raw().count() < raw_before  # duplicates physically removed


def test_schema_evolution_across_restarts(spark, tmp_path):
    """A field added to the source collection between runs must surface in
    latest() (null-backfilled for pre-evolution rows) — parquet footers in
    the append-only target disagree after evolution, so raw() merges them."""
    from arango_clickhouse_replica_spark.streaming import CdcPipeline

    pipe = CdcPipeline(
        spark,
        target_dir=str(tmp_path / "target"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        keys=["id"],
    )
    v1 = spark.createDataFrame(
        [(1, 2300, "c1", (10, "a"))],
        "tick long, type int, cuid string, data struct<id:long, name:string>",
    )
    v2 = spark.createDataFrame(
        [(2, 2300, "c1", (20, "b", "x@y.z"))],
        "tick long, type int, cuid string, "
        "data struct<id:long, name:string, email:string>",
    )
    pipe._apply_batch(v1, batch_id=0)
    pipe._apply_batch(v2, batch_id=1)

    rows = {r.id: r for r in pipe.latest().collect()}
    assert set(rows) == {10, 20}
    assert rows[20].email == "x@y.z"
    assert rows[10].email is None  # pre-evolution row, null-backfilled


def _counting_compile(monkeypatch):
    """Count compile_mapping calls made by the pipeline."""
    from arango_clickhouse_replica_spark.streaming import pipeline

    calls = []
    real = pipeline.compile_mapping

    def counted(*args, **kwargs):
        calls.append(args)
        return real(*args, **kwargs)

    monkeypatch.setattr(pipeline, "compile_mapping", counted)
    return calls


_CONTACTS = "tick long, type int, cuid string, data struct<id:long, name:string>"
_CONTACTS_V2 = (
    "tick long, type int, cuid string, "
    "data struct<id:long, name:string, email:string>"
)


def _contacts_mapping(**extra):
    from arango_clickhouse_replica_spark.schema.dsl import TableMapping

    return TableMapping.from_dict(
        {
            "primary_key": ["id"],
            "properties": {
                "id": {"type": "int"},
                "name": {"type": "str"},
                "email": {"type": "str"},
                **extra,
            },
        }
    )


def test_mapping_compiles_once_per_stream(spark, tmp_path, monkeypatch):
    """Batches with the same mapping object and input schema reuse one
    compiled mapping instead of recompiling per micro-batch."""
    calls = _counting_compile(monkeypatch)
    env_dir = str(tmp_path / "env")
    for t in range(3):
        spark.createDataFrame(
            [(t + 1, 2300, "c1", (t, f"n{t}"))], _CONTACTS
        ).coalesce(1).write.mode("append").parquet(env_dir)
    pipe = CdcPipeline(
        spark,
        target_dir=str(tmp_path / "target"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        keys=["id"],
        mapping=_contacts_mapping(),
    )
    q = pipe.start(env_dir, spark.read.parquet(env_dir).schema,
                   max_files_per_trigger=1)
    q.awaitTermination()
    assert len(q.recentProgress) == 3
    assert len(calls) == 1
    assert {r.id for r in pipe.latest_alive().collect()} == {0, 1, 2}


def test_replaced_mapping_recompiles(spark, tmp_path, monkeypatch):
    """Assigning a new mapping between batches recompiles, and the next
    batch is mapped by the new rules."""
    calls = _counting_compile(monkeypatch)
    pipe = CdcPipeline(
        spark,
        target_dir=str(tmp_path / "target"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        keys=["id"],
        mapping=_contacts_mapping(),
    )
    pipe._apply_batch(
        spark.createDataFrame([(1, 2300, "c1", (10, "a"))], _CONTACTS), batch_id=0
    )
    pipe.mapping = _contacts_mapping(label={"type": "str", "ref": "name"})
    pipe._apply_batch(
        spark.createDataFrame([(2, 2300, "c1", (20, "b"))], _CONTACTS), batch_id=1
    )
    assert len(calls) == 2
    rows = {r.id: r for r in pipe.latest().collect()}
    assert rows[20].label == "b"
    assert rows[10].label is None  # written before the new rule existed


def test_changed_input_schema_recompiles(spark, tmp_path, monkeypatch):
    """A source that gains a field the mapping refers to recompiles: a
    stale compile would still treat the field as statically absent."""
    calls = _counting_compile(monkeypatch)
    pipe = CdcPipeline(
        spark,
        target_dir=str(tmp_path / "target"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        keys=["id"],
        mapping=_contacts_mapping(),
    )
    pipe._apply_batch(
        spark.createDataFrame([(1, 2300, "c1", (10, "a"))], _CONTACTS), batch_id=0
    )
    pipe._apply_batch(
        spark.createDataFrame([(2, 2300, "c1", (20, "b", "x@y.z"))], _CONTACTS_V2),
        batch_id=1,
    )
    assert len(calls) == 2
    rows = {r.id: r for r in pipe.latest().collect()}
    assert rows[20].email == "x@y.z"
    assert rows[10].email is None
