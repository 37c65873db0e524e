"""Seeded change-stream generator and the reference replica state.

Emits WAL envelopes in the ``sources.cdc_envelopes.envelope_schema`` wire
shape (string ``tick``, 2300/2302 document ops, 2200-2202 transaction
markers, null-payload tombstones, payloads the mapping DSL must reject)
and folds every envelope it emits into a plain-Python reference of the
replicated table. The reference follows the replica's documented rules
(op filter, tombstone drop, mapping casts and rejects, max-tick winner,
soft deletes) without importing the engine, so the engine's output can be
checked against it.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np

UPSERT, REMOVE = 2300, 2302
TXN_BEGIN, TXN_COMMIT, TXN_ABORT = 2200, 2201, 2202
CUID = "c_items"
DB = "bench"
N_CATEGORIES = 16

# Share of document envelopes per kind (the rest are updates of existing
# keys); tombstones and transaction markers come on top of these.
INSERT_SHARE = 0.22
DELETE_SHARE = 0.05
REJECT_SHARE = 0.01  # of upserts: a payload the mapping rejects
NO_QTY_SHARE = 0.03  # of documents: qty absent, the mapping default applies
TOMBSTONE_SHARE = 0.02  # per document: a null-payload envelope before it
TXN_DOCS = 24  # document envelopes per WAL transaction
ABORT_SHARE = 0.1  # of transactions (markers only: apply is not txn-atomic)
ZIPF_S = 1.1

MAPPING_YAML = """\
table_name: items
schema:
  primary_key: Id
  properties:
    Id: {type: int, ref: _key, required: true}
    Name: {type: str, ref: name, required: true}
    Qty: {type: int, ref: qty, default: 0}
    Price: {type: float, ref: price}
    Category: {type: str, ref: category}
"""
KEYS = ["Id"]
# The mapped target row compared with the reference: the mapping's
# properties, then _ver (the pipeline also keeps _deleted).
ROW_COLUMNS = ["Id", "Name", "Qty", "Price", "Category", "_ver"]


def map_doc(data: dict) -> tuple | None:
    """The mapping above applied to one payload: the mapped
    (Id, Name, Qty, Price, Category) or None when the row is rejected."""
    key, name, qty = data.get("_key"), data.get("name"), data.get("qty")
    if key is None or name is None:
        return None
    try:
        ident = int(key)
        qty_v = 0 if qty is None else int(qty)
    except ValueError:
        return None
    return (ident, name, qty_v, data.get("price"), data.get("category"))


class Reference:
    """Latest state per key plus the dead-letter count, folded in tick order."""

    def __init__(self) -> None:
        self.rows: dict[int, tuple] = {}  # Id -> (row tuple, deleted)
        self.dead_letters = 0

    def apply(self, env: dict) -> None:
        data = env["data"]
        if env["type"] not in (UPSERT, REMOVE) or data is None:
            return
        mapped = map_doc(data)
        if mapped is None:
            self.dead_letters += 1
            return
        self.rows[mapped[0]] = (mapped + (int(env["tick"]),), env["type"] == REMOVE)

    def lookup(self, ident: int) -> tuple | None:
        hit = self.rows.get(ident)
        return None if hit is None or hit[1] else hit[0]

    def alive(self) -> list[tuple]:
        return [r for r, deleted in self.rows.values() if not deleted]

    def category_agg(self, category: str) -> tuple[int, int]:
        rows = [r for r in self.alive() if r[4] == category]
        return len(rows), sum(r[2] for r in rows)


def row_digest(rows) -> tuple[int, int]:
    """Order-insensitive (count, hash) of target rows in ROW_COLUMNS order."""
    total, n = 0, 0
    for r in rows:
        canon = "|".join(repr(v) for v in r).encode()
        total += int.from_bytes(hashlib.blake2b(canon, digest_size=8).digest(), "little")
        n += 1
    return n, total % (1 << 64)


class ChangeStream:
    """A seeded WAL: consecutive ticks, Zipf-skewed updates, new keys
    monotonically increasing, deletes, tombstones, markers and rejects."""

    def __init__(self, seed: int, reference: Reference | None = None) -> None:
        self.rng = np.random.default_rng(seed)
        self.ref = reference if reference is not None else Reference()
        self.next_key = 1
        self.tick = 0
        self.tid = 0

    def _emit(self, out: list, typ: int, tid: str | None, data: dict | None) -> None:
        self.tick += 1
        env = {"tick": str(self.tick), "type": typ, "db": DB, "cuid": CUID,
               "tid": tid, "data": data}
        self.ref.apply(env)
        out.append(env)

    def envelopes(self, n_docs: int, *, insert_share: float = INSERT_SHARE) -> list[dict]:
        """``n_docs`` document envelopes plus tombstones and markers."""
        rng = self.rng
        # one vectorized draw per property; the loop below only assembles
        kind, tomb, reject, half, no_qty, abort = rng.random((6, n_docs)).tolist()
        qty = rng.integers(0, 500, n_docs).tolist()
        price = np.round(rng.random(n_docs) * 1000.0, 2).tolist()
        cat = rng.integers(0, N_CATEGORIES, n_docs).tolist()
        rank = (rng.zipf(ZIPF_S, n_docs) - 1).tolist()
        out: list[dict] = []
        tid = None
        for i in range(n_docs):
            if i % TXN_DOCS == 0:
                self.tid += 1
                tid = str(self.tid)
                self._emit(out, TXN_BEGIN, tid, None)
            if tomb[i] < TOMBSTONE_SHARE:
                self._emit(out, UPSERT, tid, None)
            if kind[i] < insert_share or self.next_key == 1:
                key, typ = self.next_key, UPSERT
                self.next_key += 1
            else:
                # Zipf rank spread over the existing keys, not their start
                key = (rank[i] * 2654435761) % (self.next_key - 1) + 1
                typ = REMOVE if kind[i] < insert_share + DELETE_SHARE else UPSERT
            doc = {"_key": str(key), "name": f"item-{key}-{(self.tick + 1) % 997}",
                   "qty": None if no_qty[i] < NO_QTY_SHARE else str(qty[i]),
                   "price": price[i], "category": f"c{cat[i]}"}
            if typ == UPSERT and reject[i] < REJECT_SHARE:
                # half fail the int cast, half miss a required field
                if half[i] < 0.5:
                    doc["qty"] = f"q{qty[i]}"
                else:
                    doc["name"] = None
            self._emit(out, typ, tid, doc)
            if i % TXN_DOCS == TXN_DOCS - 1 or i == n_docs - 1:
                end = TXN_ABORT if abort[i] < ABORT_SHARE else TXN_COMMIT
                self._emit(out, end, tid, None)
        return out

    def mapped_rows(self, envs: list[dict]) -> list[tuple[tuple, bool]]:
        """What the pipeline appends for ``envs``: (row, deleted) per applied doc."""
        out = []
        for env in envs:
            data = env["data"]
            if env["type"] not in (UPSERT, REMOVE) or data is None:
                continue
            mapped = map_doc(data)
            if mapped is not None:
                out.append((mapped + (int(env["tick"]),), env["type"] == REMOVE))
        return out


def write_jsonl(envs: list[dict], directory: str, n_files: int) -> int:
    """Split ``envs`` over ``n_files`` JSONL files; returns bytes written."""
    os.makedirs(directory, exist_ok=True)
    per = -(-len(envs) // n_files)
    total = 0
    for i in range(n_files):
        lines = "".join(json.dumps(e) + "\n" for e in envs[i * per:(i + 1) * per])
        with open(os.path.join(directory, f"part-{i:03d}.jsonl"), "w") as f:
            f.write(lines)
        total += len(lines)
    return total


def _wire_arrow_schema():
    import pyarrow as pa

    data_t = pa.struct([("_key", pa.string()), ("name", pa.string()),
                        ("qty", pa.string()), ("price", pa.float64()),
                        ("category", pa.string())])
    return pa.schema([("tick", pa.string()), ("type", pa.int32()),
                      ("db", pa.string()), ("cuid", pa.string()),
                      ("tid", pa.string()), ("data", data_t)])


def write_envelope_parquet(envs: list[dict], path: str) -> int:
    """One parquet envelope file in the wire schema; returns its size."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pylist(envs, schema=_wire_arrow_schema()), path)
    return os.path.getsize(path)


def write_target_parquet(rows: list[tuple[tuple, bool]], path: str) -> None:
    """Mapped target rows (as the pipeline appends them) into one parquet file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([("Id", pa.int64()), ("Name", pa.string()),
                        ("Qty", pa.int64()), ("Price", pa.float64()),
                        ("Category", pa.string()), ("_ver", pa.int64()),
                        ("_deleted", pa.int32())])
    cols = list(zip(*[r + (int(d),) for r, d in rows]))
    pq.write_table(pa.table([list(c) for c in cols], schema=schema), path)
