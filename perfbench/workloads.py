"""The benchmark's workloads: one closed-loop client driving the replica
engine through its public functions.

Every workload is a sequence of operations of two kinds:

- a write: envelopes land (a JSONL backlog, or a parquet file dropped
  into the directory a running stream tails), the ``CdcPipeline`` applies
  them, and one key of the write is read back. Its freshness is the time
  from landing to that key being readable.
- a read: a point lookup or a small aggregate on the latest-alive table.

The workloads differ in traffic and in which layer does the work (see
``perfbench/README.md``). Every result is compared with the plain-Python
reference kept by ``gen.ChangeStream``.

``traced_op`` runs the same operation as ``op`` but calls each layer's
public function in pipeline order on a materialized input, inside a span,
so that a span's duration is the layer's own time.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np

import gen

SIZES = {
    # docs per drained backlog
    "backlog_drain": {"full": {"docs": 40_000}, "tiny": {"docs": 2_000}},
    # keys preloaded into the merge-on-write target; docs per dropped file
    "trickle_merge_write": {"full": {"keys": 50_000, "batch": 2_000},
                            "tiny": {"keys": 2_000, "batch": 200}},
    # change rows preloaded over `keys`; docs per appended batch
    "serve_latest_reads": {"full": {"rows": 80_000, "keys": 16_000, "batch": 500},
                           "tiny": {"rows": 5_000, "keys": 1_000, "batch": 100}},
}
# serve_latest_reads: the client's fixed operation cycle (40% point
# lookups, 20% aggregates, 40% appends). A fixed cycle rather than a
# seeded draw keeps the mix, and so the run-to-run spread, the same; the
# append share is what gives a 12 s run enough write samples.
OP_CYCLE = ("point", "write", "agg", "write", "point",
            "write", "point", "agg", "point", "write")


@dataclass
class Op:
    kind: str  # "write", "point" or "agg"
    ms: float  # whole operation; for a write, landing -> key readable
    ok: bool
    write_ms: float = 0.0
    read_ms: float = 0.0
    events: int = 0
    progress: list = field(default_factory=list)  # StreamingQueryProgress dicts


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


def _now() -> float:
    return time.perf_counter()


def _materialize(df):
    """Cache ``df`` and compute it; returns (cached frame, row count)."""
    df = df.persist()
    return df, df.count()


class Workload:
    """Shared set-up and checks; subclasses define the traffic."""

    name = ""
    compacts = False  # the target is one CdcPipeline.compact() maintains

    def __init__(self, spark, state_dir: str, seed: int, scale: str = "full") -> None:
        from pyspark.sql import types as T

        from arango_clickhouse_replica_spark.schema.dsl import TableMapping

        self.spark = spark
        self.dir = state_dir
        self.seed = seed
        self.size = SIZES[self.name][scale]
        self.ref = gen.Reference()
        self.stream = gen.ChangeStream(seed, self.ref)
        self.op_rng = np.random.default_rng(seed + 7919)
        self.data_schema = T.StructType(
            [T.StructField(n, T.StringType()) for n in ("_key", "name", "qty")]
            + [T.StructField("price", T.DoubleType()), T.StructField("category", T.StringType())])
        self.mapping = TableMapping.from_yaml(gen.MAPPING_YAML)
        self.target_dir = self.path("target")
        self.query = None
        self.pipe = None
        self.preload_dead = 0  # rejects in preloaded rows, which bypass the pipeline
        self.storage_samples: list[float] = []
        self.cached: list = []
        self.last_run_id: str | None = None  # the Spark job group of the latest stream
        self.traced_batches = 0
        os.makedirs(state_dir, exist_ok=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def stream_groups(self) -> list[str]:
        """Spark job groups of this workload's streaming queries."""
        return [self.last_run_id] if self.last_run_id else []

    # -- the public read path ------------------------------------------------

    def read_back(self, ident: int, alive=None) -> tuple[float, bool]:
        """Point lookup of ``ident``; (ms, matches the reference)."""
        from pyspark.sql import functions as F

        t0 = _now()
        alive = self.pipe.latest_alive() if alive is None else alive
        rows = alive.filter(F.col("Id") == ident).collect()
        ms = (_now() - t0) * 1e3
        want = self.ref.lookup(ident)
        got = [tuple(r[c] for c in gen.ROW_COLUMNS) for r in rows]
        return ms, got == ([] if want is None else [want])

    def sample_storage(self) -> None:
        live = len(self.ref.alive())
        if live:
            self.storage_samples.append(dir_bytes(self.target_dir)[0] / live)

    def pick_key(self) -> int:
        """A Zipf-skewed existing key; one in twenty is past the key space."""
        top = self.stream.next_key
        if self.op_rng.random() < 0.05:
            return top + int(self.op_rng.integers(1, 1000))
        rank = int(self.op_rng.zipf(gen.ZIPF_S)) - 1
        return (rank * 40503) % max(top - 1, 1) + 1

    def rows_per_winner(self) -> float:
        """Rows the merge-on-read view scans per winning row it keeps."""
        from arango_clickhouse_replica_spark.operators.cdc import latest_state

        raw = self.pipe.raw()
        return raw.count() / max(latest_state(raw, gen.KEYS).count(), 1)

    # -- layers in pipeline order, for traced operations ----------------------

    def traced_apply(self, rec, env, n_bytes: int):
        """monitor -> preprocess -> mapping DSL on the materialized
        envelopes ``env``; returns the materialized (valid, rejected)."""
        from arango_clickhouse_replica_spark.operators.cdc import preprocess_envelopes
        from arango_clickhouse_replica_spark.schema.dsl import compile_mapping
        from arango_clickhouse_replica_spark.streaming.monitor import TickGapMonitor

        n_env = env.count()
        rec.count(envelopes=n_env, input_bytes=n_bytes)
        with rec.span("streaming.monitor.observe"):
            TickGapMonitor().observe(env, 0)
        with rec.span("operators.cdc.preprocess_envelopes"):
            rows, n_rows = _materialize(preprocess_envelopes(env))
        rec.count(preprocess_out=n_rows)
        with rec.span("schema.dsl.compile_mapping"):
            compiled = compile_mapping(self.mapping, rows.schema)
        with rec.span("schema.dsl.apply"):
            declared = {p.name for p in self.mapping.properties}
            meta = [c for c in ("_ver", "_deleted") if c not in declared]
            result = compiled.apply(rows, passthrough=meta)
            valid, _ = _materialize(result.valid)
            rejected, n_rej = _materialize(result.rejected)
        rec.count(dsl_in=n_rows, dsl_rejected=n_rej)
        self.cached += [env, rows, valid, rejected]
        return valid, rejected

    def traced_dead_letters(self, rejected, dead_dir: str) -> None:
        """Dead letters in the pipeline's per-batch layout."""
        self.traced_batches += 1
        rejected.write.mode("overwrite").parquet(
            os.path.join(dead_dir, f"batch_id={10**6 + self.traced_batches}"))

    def traced_append(self, rec, valid, rejected, dead_dir: str) -> None:
        with rec.span("streaming.pipeline.append"):
            self.traced_dead_letters(rejected, dead_dir)
            valid.write.mode("append").parquet(self.target_dir)

    def traced_read(self, rec, kind: str, ident: int | None = None) -> bool:
        """Scan the append-only target, then merge-on-read on the cache."""
        from arango_clickhouse_replica_spark.operators.cdc import latest_alive

        with rec.span("streaming.pipeline.raw"):
            raw, n_raw = _materialize(self.pipe.raw())
        self.cached.append(raw)
        rec.count(raw_rows=n_raw)
        with rec.span("operators.cdc.latest_state"):
            alive = latest_alive(raw, gen.KEYS)
            if kind == "agg":
                ok = self.agg(alive)[1]
            else:
                ok = self.read_back(ident, alive)[1]
        return ok

    def agg(self, alive) -> tuple[float, bool]:
        from pyspark.sql import functions as F

        cat = f"c{int(self.op_rng.integers(0, gen.N_CATEGORIES))}"
        t0 = _now()
        row = (alive.filter(F.col("Category") == cat)
               .agg(F.count("*").alias("n"), F.sum("Qty").alias("q")).first())
        ms = (_now() - t0) * 1e3
        return ms, (row.n, row.q or 0) == self.ref.category_agg(cat)

    def release(self) -> None:
        for df in self.cached:
            df.unpersist()
        self.cached = []

    # -- final correctness check ----------------------------------------------

    def check(self) -> tuple[bool, str]:
        """Compare the latest-alive table with the reference: row count and
        order-insensitive hash, plus the dead-letter count."""
        rows = self.pipe.latest_alive().select(*gen.ROW_COLUMNS).collect()
        got = gen.row_digest(tuple(r) for r in rows)
        want = gen.row_digest(self.ref.alive())
        if got != want:
            return False, f"target (rows, hash) {got} != reference {want}"
        dead = self.spark.read.parquet(self.dead_dir()).count()
        if dead != self.ref.dead_letters - self.preload_dead:
            return False, (f"dead letters {dead} != reference "
                           f"{self.ref.dead_letters - self.preload_dead}")
        return True, f"{got[0]} live rows and {dead} dead letters match the reference"

    def dead_dir(self) -> str:
        return self.path("dead")

    def close(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None


class BacklogDrain(Workload):
    """Catch-up after an outage: drain a JSONL backlog in one
    ``Trigger.AvailableNow`` run into a fresh append-only target."""

    name = "backlog_drain"

    def setup(self) -> None:
        self.envs = self.stream.envelopes(self.size["docs"])
        n_files = 2 * int(os.environ.get("SPARK_GRAFT_CPUS", "4"))
        self.backlog_bytes = gen.write_jsonl(self.envs, self.path("backlog"), n_files)
        self.last_key = self.stream.next_key - 1
        self.drains = 0

    def warm_up(self) -> None:
        self.op()

    def fresh(self) -> str:
        """State dirs of one drain (a resync: empty target and checkpoint);
        the two previous drains' dirs are kept, older ones removed."""
        run = self.path(f"drain{self.drains}")
        self.drains += 1
        if self.drains > 2:
            shutil.rmtree(self.path(f"drain{self.drains - 3}"), ignore_errors=True)
        self.target_dir = os.path.join(run, "target")
        self.run_dir = run
        return run

    def make_pipe(self, run: str):
        from arango_clickhouse_replica_spark.streaming import CdcPipeline
        from arango_clickhouse_replica_spark.streaming.monitor import TickGapMonitor

        self.monitor = TickGapMonitor()
        return CdcPipeline(
            self.spark, target_dir=self.target_dir,
            checkpoint_dir=os.path.join(run, "ckpt"), keys=gen.KEYS,
            mapping=self.mapping, dead_letter_dir=os.path.join(run, "dead"),
            tick_monitor=self.monitor,
        )

    def op(self) -> Op:
        from arango_clickhouse_replica_spark.sources.cdc_envelopes import (
            read_envelopes_jsonl,
        )

        run = self.fresh()
        t0 = _now()
        # CdcPipeline.start tails parquet envelope dirs: the JSONL wire
        # backlog is parsed by the sources layer and landed there first.
        env = read_envelopes_jsonl(self.spark, self.path("backlog"), self.data_schema)
        env.write.parquet(os.path.join(run, "archive"))
        self.pipe = self.make_pipe(run)
        query = self.pipe.start(os.path.join(run, "archive"), env.schema,
                                available_now=True)
        query.awaitTermination()
        write_ms = (_now() - t0) * 1e3
        self.last_run_id = str(query.runId)
        read_ms, ok = self.read_back(self.last_key)
        self.sample_storage()
        return Op("write", write_ms + read_ms, ok and not self.monitor.gaps, write_ms,
                  read_ms, len(self.envs),
                  progress=[p for p in query.recentProgress if p["numInputRows"]])

    def traced_op(self, rec) -> bool:
        from arango_clickhouse_replica_spark.sources.cdc_envelopes import (
            read_envelopes_jsonl,
        )

        run = self.fresh()
        self.pipe = self.make_pipe(run)
        with rec.span("sources.read_envelopes_jsonl"):
            env, _ = _materialize(
                read_envelopes_jsonl(self.spark, self.path("backlog"), self.data_schema))
        valid, rejected = self.traced_apply(rec, env, self.backlog_bytes)
        self.traced_append(rec, valid, rejected, os.path.join(run, "dead"))
        ok = self.traced_read(rec, "point", self.last_key)
        self.release()
        return ok

    def dead_dir(self) -> str:
        return os.path.join(self.run_dir, "dead")


class _DropStream(Workload):
    """A running ``CdcPipeline`` stream tailing a drop directory."""

    def start_stream(self, merge_sink=None) -> None:
        from arango_clickhouse_replica_spark.sources.cdc_envelopes import envelope_schema
        from arango_clickhouse_replica_spark.streaming import CdcPipeline
        from arango_clickhouse_replica_spark.streaming.monitor import TickGapMonitor

        self.monitor = TickGapMonitor()
        self.drops = 0
        self.pipe = CdcPipeline(
            self.spark, target_dir=self.target_dir,
            checkpoint_dir=self.path("ckpt"), keys=gen.KEYS, mapping=self.mapping,
            dead_letter_dir=self.path("dead"), tick_monitor=self.monitor,
            merge_sink=merge_sink,
        )
        os.makedirs(self.path("drop"), exist_ok=True)
        os.makedirs(self.path("staging"), exist_ok=True)
        self.query = self.pipe.start(self.path("drop"), envelope_schema(self.data_schema),
                                     available_now=False)
        self.last_run_id = str(self.query.runId)
        self.last_batch = -1
        self.preload_dead = self.ref.dead_letters

    def stage(self, n_docs: int) -> tuple[str, int, int]:
        """Write the next file outside the drop dir: (path, envelopes, key
        of its last document)."""
        envs = self.stream.envelopes(n_docs)
        staged = self.path("staging", f"drop-{self.drops:05d}.parquet")
        self.drops += 1
        self.last_drop_bytes = gen.write_envelope_parquet(envs, staged)
        key = int(next(e for e in reversed(envs) if e["data"] is not None)["data"]["_key"])
        return staged, len(envs), key

    def drop(self, n_docs: int) -> Op:
        """Land one file atomically, wait for the stream to apply it, read
        back its last document's key."""
        staged, n_env, key = self.stage(n_docs)
        t0 = _now()
        os.rename(staged, self.path("drop", os.path.basename(staged)))
        self.query.processAllAvailable()
        write_ms = (_now() - t0) * 1e3
        read_ms, ok = self.read_back(key)
        new = [p for p in self.query.recentProgress
               if p["batchId"] > self.last_batch and p["numInputRows"]]
        if new:
            self.last_batch = new[-1]["batchId"]
        self.sample_storage()
        return Op("write", write_ms + read_ms, ok and not self.monitor.gaps, write_ms,
                  read_ms, n_env, progress=new)

    def traced_drop(self, rec, n_docs: int, sink_step) -> int:
        """The traced twin of ``drop``; the stream is stopped by then, so
        the layers are called directly. Returns the read-back key."""
        from arango_clickhouse_replica_spark.sources.cdc_envelopes import envelope_schema

        staged, _n_env, key = self.stage(n_docs)
        with rec.span("sources.read_parquet"):
            env, _ = _materialize(
                self.spark.read.schema(envelope_schema(self.data_schema)).parquet(staged))
        valid, rejected = self.traced_apply(rec, env, self.last_drop_bytes)
        sink_step(valid, rejected)
        return key


class TrickleMergeWrite(_DropStream):
    """Steady replication into the bucketed merge-on-write sink."""

    name = "trickle_merge_write"

    def setup(self) -> None:
        from arango_clickhouse_replica_spark.streaming.merge_sink import BucketedMergeSink

        preload = self.stream.envelopes(self.size["keys"], insert_share=1.0)
        gen.write_target_parquet(self.stream.mapped_rows(preload), self.path("preload.parquet"))
        self.sink = BucketedMergeSink(self.spark, self.target_dir, gen.KEYS)
        self.sink.apply_batch(self.spark.read.parquet(self.path("preload.parquet")), -1)
        self.start_stream(self.sink)

    def warm_up(self) -> None:
        self.op()

    def op(self) -> Op:
        return self.drop(self.size["batch"])

    def bucket_files(self) -> dict[str, set]:
        out = {}
        for b in os.listdir(self.target_dir):
            if b.startswith("__bucket="):
                d = os.path.join(self.target_dir, b)
                out[b] = {(n, os.path.getsize(os.path.join(d, n)))
                          for n in os.listdir(d) if not n.startswith((".", "_"))}
        return out

    def traced_op(self, rec) -> bool:
        def merge(valid, rejected):
            self.traced_dead_letters(rejected, self.dead_dir())
            before = self.bucket_files()
            with rec.span("streaming.merge_sink.apply_batch") as attrs:
                self.sink.apply_batch(valid, self.drops)
            after = self.bucket_files()
            touched = [b for b in after if after[b] != before.get(b)]
            attrs.update(buckets_touched=len(touched), n_buckets=self.sink.n_buckets,
                         bytes_rewritten=sum(s for b in touched for _, s in after[b] - before.get(b, set())),
                         input_bytes=self.last_drop_bytes)

        key = self.traced_drop(rec, self.size["batch"], merge)
        with rec.span("streaming.merge_sink.read_alive"):
            ok = self.read_back(key)[1]
        self.release()
        return ok


class ServeLatestReads(_DropStream):
    """Reads beside writes on the append-only, merge-on-read target.

    The traffic runs no compaction: every read pays the merge over about
    five versions per key, the state the ``latest_state`` view is for.
    ``CdcPipeline.compact()`` is timed once at the end of a traced run."""

    name = "serve_latest_reads"
    compacts = True

    def setup(self) -> None:
        # rows/keys versions per key: inserts first, then updates and deletes
        keys, rows = self.size["keys"], self.size["rows"]
        envs = self.stream.envelopes(keys, insert_share=1.0)
        envs += self.stream.envelopes(rows - keys, insert_share=0.0)
        os.makedirs(self.target_dir, exist_ok=True)
        gen.write_target_parquet(self.stream.mapped_rows(envs),
                                 self.path("target", "part-preload.parquet"))
        self.start_stream()
        self.ops = 0

    def warm_up(self) -> None:
        for kind in ("point", "agg", "write"):
            self.run(kind)

    def next_kind(self) -> str:
        self.ops += 1
        return OP_CYCLE[(self.ops - 1) % len(OP_CYCLE)]

    def run(self, kind: str) -> Op:
        if kind == "write":
            return self.drop(self.size["batch"])
        if kind == "point":
            ms, ok = self.read_back(self.pick_key())
        else:
            ms, ok = self.agg(self.pipe.latest_alive())
        return Op(kind, ms, ok, read_ms=ms)

    def op(self) -> Op:
        return self.run(self.next_kind())

    def traced_op(self, rec) -> bool:
        kind = self.next_kind()
        rec.count(kind=kind)
        if kind == "write":
            key = self.traced_drop(
                rec, self.size["batch"],
                lambda valid, rejected: self.traced_append(rec, valid, rejected,
                                                           self.dead_dir()))
            ok = self.traced_read(rec, "point", key)
        else:
            ok = self.traced_read(rec, kind, self.pick_key() if kind == "point" else None)
        self.release()
        return ok


WORKLOADS = {w.name: w for w in (BacklogDrain, TrickleMergeWrite, ServeLatestReads)}
