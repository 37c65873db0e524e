"""Structured Streaming CDC pipeline (SURVEY §2.8, §3.5).

Collapses the reference's producer/consumer loops (WAL poll ->
Kafka -> per-table consumer thread -> bulk insert,
replication/producer/publisher.py:129-163 +
replication/consumer/loader.py:89-169) into one streaming query per
table:

    readStream (file or Kafka envelope source)
      -> foreachBatch: preprocess (P1-P3, D1/D2) [+ mapping DSL]
      -> APPEND to the columnar target table

The target stays append-only — exactly ClickHouse ReplacingMergeTree's
write path — and reads go through the ``latest_state``/``latest_alive``
merge-on-read views (M1/M2). ``compact()`` rewrites winners periodically
(M3), using a temp-dir + atomic swap like the reference's snapshot loader
(K4, replication/replicator/store.py:25-27,87-89).

What the checkpoint replaces (T2/T3/T6): the Redis ``last-tick`` token
(publisher.py:24-46), manual Kafka commits (loader.py:147-157), and the
replay/ack protocol (reader.py:37-60) — source offsets + the idempotent
version-dedup make redelivery a no-op. ``Trigger.AvailableNow`` is the
drain-and-stop backlog probe (S6, broker.py:25-32).

Scale notes: the apply is a narrow stage (no shuffle); appends are
partition-parallel; per-key ordering is irrelevant by design (M5) because
the merge is version-based, so arbitrary source parallelism is safe — the
reference needed 1 Kafka partition per topic for ordering; we do not.
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..operators.cdc import latest_alive, latest_state, preprocess_envelopes
from ..schema.dsl import CompiledMapping, TableMapping, compile_mapping
from .merge_sink import BucketedMergeSink
from .monitor import TickGapMonitor


class CdcPipeline:
    """One replicated table: envelope stream in, latest-state views out."""

    def __init__(
        self,
        spark: SparkSession,
        *,
        target_dir: str,
        checkpoint_dir: str,
        keys: Sequence[str],
        mapping: TableMapping | None = None,
        tracked_cuids: Sequence[str] | None = None,
        initial_tick: int | None = None,
        dead_letter_dir: str | None = None,
        tick_monitor: "TickGapMonitor | None" = None,
        merge_sink: "BucketedMergeSink | None" = None,
        txn_atomic: bool = False,
    ) -> None:
        self.spark = spark
        self.target_dir = target_dir
        self.checkpoint_dir = checkpoint_dir
        self.keys = list(keys)
        self.mapping = mapping
        self.tracked_cuids = tracked_cuids
        self.initial_tick = initial_tick
        self.dead_letter_dir = dead_letter_dir
        self.tick_monitor = tick_monitor
        self.merge_sink = merge_sink
        # r12 (VERDICT r11 item 5): apply on transaction boundaries — a
        # micro-batch never exposes part of a WAL transaction. Document
        # rows gate on their tid's terminator (2201/2202, reader.py:9-14);
        # unterminated rows persist in a pending buffer unioned into the
        # next batch. Requires `tid` on the envelope wire.
        self.txn_atomic = txn_atomic
        # (mapping, input schema, compiled): compiling costs ~1k py4j round
        # trips, so it is paid once, not per micro-batch.
        self._compiled: tuple[TableMapping, T.StructType, CompiledMapping] | None = None

    # -- txn-atomic pending buffer -------------------------------------------

    def _pending_root(self) -> str:
        return os.path.join(self.checkpoint_dir, "txn_pending")

    def _pending_ids(self) -> list[int]:
        import pathlib

        root = pathlib.Path(self._pending_root())
        if not root.is_dir():
            return []
        return sorted(
            int(p.name.split("=", 1)[1])
            for p in root.glob("batch_id=*")
            if p.is_dir()
        )

    def pending(self) -> DataFrame | None:
        """The rows currently deferred (latest pending generation)."""
        ids = self._pending_ids()
        if not ids:
            return None
        return self.spark.read.parquet(
            os.path.join(self._pending_root(), f"batch_id={ids[-1]}")
        )

    def _txn_gate(self, batch: DataFrame, batch_id: int) -> DataFrame:
        """Union the pending buffer in, split on txn outcome, persist the
        new deferred set (idempotent per-batch overwrite — a retried
        batch rewrites the SAME generation), return the applyable rows.

        The pending write is bounded by transactions in flight at the
        batch cut. Generations older than batch_id-2 are pruned: a
        foreachBatch retry only ever re-runs the latest batch, which
        reads generation batch_id-1."""
        from ..operators.cdc import txn_atomic_split

        prior = [i for i in self._pending_ids() if i < batch_id]
        if prior:
            batch = batch.unionByName(
                self.spark.read.parquet(
                    os.path.join(
                        self._pending_root(), f"batch_id={prior[-1]}"
                    )
                ),
                allowMissingColumns=True,
            )
        split = txn_atomic_split(batch)
        split.deferred.write.mode("overwrite").parquet(
            os.path.join(self._pending_root(), f"batch_id={batch_id}")
        )
        for i in prior[:-1]:
            if i < batch_id - 2:
                shutil.rmtree(
                    os.path.join(self._pending_root(), f"batch_id={i}"),
                    ignore_errors=True,
                )
        return split.applyable

    # -- write path ---------------------------------------------------------

    def _compiled_mapping(self, schema: T.StructType) -> CompiledMapping:
        """``self.mapping`` compiled against ``schema``; recompiled only
        when the mapping object is replaced (e.g. by
        ``apply_migration_plan``) or the input schema changes."""
        cached = self._compiled
        if cached is None or cached[0] is not self.mapping or cached[1] != schema:
            cached = (self.mapping, schema, compile_mapping(self.mapping, schema))
            self._compiled = cached
        return cached[2]

    def _apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        observation = None
        if self.tick_monitor is not None and "tick" in batch.columns:
            # A2: tick-continuity probe on the RAW batch (pre-filter —
            # txn markers occupy ticks too), publisher.py:140-141 analog.
            # Observed metrics ride along the batch's first action instead
            # of running an aggregate job of their own.
            observation = Observation()
            batch = batch.observe(observation, *self.tick_monitor.metrics())
        # The batch may feed several actions (dead-letter write, txn
        # pending write, merge-sink bucket probe, target write) — pin it
        # so the source read + transform run once, not once per action.
        # Pinning also makes the observed node run once: later actions,
        # and the txn gate's two reads, scan the cache.
        multi_action = (
            self.mapping is not None and self.dead_letter_dir is not None
        ) or self.merge_sink is not None or self.txn_atomic
        # Keep the persisted handle in its own name: _txn_gate rebinds
        # `batch` to a derived frame, and unpersisting THAT is a no-op on
        # the pinned raw batch (a cache leak growing every micro-batch).
        raw = batch
        if multi_action:
            raw = batch.persist()
            batch = raw
        try:
            if self.txn_atomic and "tid" in batch.columns:
                batch = self._txn_gate(batch, batch_id)
            rows = preprocess_envelopes(
                batch,
                tracked_cuids=self.tracked_cuids,
                initial_tick=self.initial_tick,
            )
            if self.mapping is not None:
                schema = rows.schema
                compiled = self._compiled_mapping(schema)
                # Re-attach _ver/_deleted when the mapping does not declare
                # them: without _ver, latest() raises; without _deleted,
                # latest_alive() silently stops filtering soft deletes.
                declared = {p.name for p in self.mapping.properties}
                meta = [c for c in ("_ver", "_deleted")
                        if c not in declared and c in schema.names]
                result = compiled.apply(rows, passthrough=meta)
                rows = result.valid
                if self.dead_letter_dir is not None:
                    # Idempotent per-batch path: a retried/replayed batch
                    # OVERWRITES its own dead letters instead of appending
                    # duplicates (rejected rows carry no _ver to dedup on).
                    result.rejected.write.mode("overwrite").parquet(
                        os.path.join(self.dead_letter_dir, f"batch_id={batch_id}")
                    )
            if self.merge_sink is not None:
                # merge-on-WRITE: versions resolved now, reads are plain scans
                self.merge_sink.apply_batch(rows, batch_id)
            else:
                rows.write.mode("append").parquet(self.target_dir)
            if observation is not None:
                # Every path above ran at least one action over the
                # observed batch, so the metrics are filled.
                m = observation.get
                self.tick_monitor.record(batch_id, m["mn"], m["mx"], m["n"])
        finally:
            if multi_action:
                raw.unpersist()

    def start(
        self,
        envelope_dir: str,
        envelope_schema: T.StructType,
        *,
        available_now: bool = True,
        max_files_per_trigger: int | None = None,
    ) -> StreamingQuery:
        reader = self.spark.readStream.schema(envelope_schema)
        if max_files_per_trigger is not None:  # backpressure (T1/T4 analog)
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        stream = reader.parquet(envelope_dir)
        writer = (
            stream.writeStream.foreachBatch(self._apply_batch)
            .option("checkpointLocation", self.checkpoint_dir)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def run_until_drained(self, envelope_dir: str, envelope_schema: T.StructType) -> None:
        q = self.start(envelope_dir, envelope_schema, available_now=True)
        q.awaitTermination()

    def start_kafka(
        self,
        *,
        bootstrap_servers: str,
        topics: str,
        data_schema: T.DataType,
        starting_offsets: str = "earliest",
        max_offsets_per_trigger: int | None = None,
        available_now: bool = False,
    ) -> StreamingQuery:
        """The production source: Kafka envelope topics (S5) through the
        same foreachBatch apply. Offsets checkpoint exactly like the file
        source; ``maxOffsetsPerTrigger`` is the poll-batch backpressure
        knob (settings.yaml:43 analog). Requires a reachable broker —
        construction is lazy, connection happens at start."""
        from ..sources.kafka import decode_envelopes, kafka_stream_reader

        raw = kafka_stream_reader(
            self.spark,
            bootstrap_servers=bootstrap_servers,
            topics=topics,
            starting_offsets=starting_offsets,
            max_offsets_per_trigger=max_offsets_per_trigger,
        ).load()
        stream = decode_envelopes(raw, data_schema).drop(
            "key", "topic", "partition", "offset"
        )
        writer = (
            stream.writeStream.foreachBatch(self._apply_batch)
            .option("checkpointLocation", self.checkpoint_dir)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def start_wal(
        self,
        *,
        data_schema: T.DataType,
        wal_options: dict | None = None,
        collections: Sequence[str] | None = None,
        processing_time: str = "1 second",
    ) -> StreamingQuery:
        """The Kafka-free production source: the native ``arango_wal``
        streaming DataSource (sources/wal_datasource.py) feeding the same
        foreachBatch apply. WAL ticks are the checkpoint offsets, so this
        collapses the reference's producer + broker + consumer into ONE
        streaming query; the ``data`` JSON string parses into the typed
        document struct here (from_json + data_schema), after which the
        path is identical to the file/Kafka sources."""
        from pyspark.sql import functions as F

        from ..sources.wal_datasource import register

        register(self.spark)
        reader = self.spark.readStream.format("arango_wal")
        for k, v in (wal_options or {}).items():
            reader = reader.option(k, str(v))
        if collections:
            reader = reader.option("collections", ",".join(collections))
        stream = reader.load().select(
            F.col("tick").cast("long").alias("tick"),
            "type",
            "cuid",
            F.from_json("data", data_schema).alias("data"),
        )
        return (
            stream.writeStream.foreachBatch(self._apply_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(processingTime=processing_time)
            .start()
        )

    # -- read path (merge-on-read, M1/M2) -----------------------------------

    def raw(self) -> DataFrame:
        if self.merge_sink is not None:
            return self.merge_sink.read()
        # mergeSchema: the append-only target accumulates files written
        # across pipeline restarts; when the source collection gained a
        # field in between (schema evolution), footers disagree and a
        # plain read would resolve to whichever footer it samples —
        # merge them so new columns surface (null-backfilled) instead.
        return self.spark.read.option("mergeSchema", "true").parquet(
            self.target_dir
        )

    def latest(self) -> DataFrame:
        """All winning versions, including soft-deleted rows."""
        if self.merge_sink is not None:
            return self.merge_sink.read()  # already merged at write time
        return latest_state(self.raw(), self.keys)

    def latest_alive(self) -> DataFrame:
        """The queryable latest-state table (soft deletes excluded)."""
        if self.merge_sink is not None:
            return self.merge_sink.read_alive()
        return latest_alive(self.raw(), self.keys)

    # -- maintenance (M3/K4) ------------------------------------------------

    def compact(self) -> None:
        """Rewrite the target keeping only winners: write to a temp dir,
        then swap — the reference's create-temp / drop / rename snapshot
        dance (store.py:25-27, 87-89).

        SINGLE-WRITER, NO-CONCURRENT-READER maintenance operation: the
        two-rename swap has a window where the target path does not
        exist, ``os.rename`` is same-filesystem only, and object stores
        have no rename at all — do not run while the stream is active or
        a reader holds the path. (On a real deployment this is a Delta
        ``OPTIMIZE``/``REPLACE TABLE`` — a transactional table format is
        the right swap primitive at scale; this local-parquet variant
        keeps the engine storage-agnostic.)"""
        tmp = f"{self.target_dir}__compact_{uuid.uuid4().hex[:8]}"
        if self.merge_sink is not None:
            # The merge-on-write target is already winners-only; compact
            # here means coalescing the per-batch small files WITHOUT
            # destroying the __bucket partition layout the sink's
            # partition-pruned reads depend on.
            from .merge_sink import BUCKET_COL

            (
                self.spark.read.parquet(self.target_dir)
                .write.mode("overwrite")
                .partitionBy(BUCKET_COL)
                .parquet(tmp)
            )
        else:
            self.latest().write.mode("overwrite").parquet(tmp)
        old = f"{self.target_dir}__old_{uuid.uuid4().hex[:8]}"
        os.rename(self.target_dir, old)
        os.rename(tmp, self.target_dir)
        shutil.rmtree(old)
