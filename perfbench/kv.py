"""kv_mix: reads and writes against one keyed table with a secondary index
and a materialized rollup.

Set-up builds a Bloom-enabled ``KeyedTable`` from seeded lineitem-shaped
rows, stacks a delta layer below the compaction threshold, then builds a
``SecondaryIndex`` on ``grp`` and a ``MaterializedAgg`` (sum of qty and
price, row count, per grp) over it.

One round of the op stream, in a fixed order of seeded ops: six reads
(``point_read`` of Zipf-popular keys, ``semi_read`` of a localized and of
a spread key batch, ``range_read``, index ``lookup`` and ``lookup_range``)
and five writes (an upsert through ``streaming.ingest.indexed_upsert``, an
increment through ``streaming.ingest.guarded_increment``, a cell put and a
row delete through the index, and a stamped replay of a batch already
applied), then ``refresh()`` of the rollup and an explicit ``compact()``,
with ``scope="dirty"`` in odd rounds and ``scope="all"`` in even ones.
Writes also trigger the table's own compaction when the layer stack
passes the threshold.

Every result is checked after the timed phase against a Python model of
the applied op stream.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd

from perfbench.datagen import KEY_STRIDE, kv_rows, zipf_index

N_ROWS = 10_000
N_GROUPS = 400
PARTITIONS = 4
PRELOAD_LAYERS = 1
COMPACT_THRESHOLD = 8
WRITE_BATCH = 50
NEW_KEYS_PER_UPDATE = 5
DELETE_BATCH = 10
POINT_KEYS = 10
SEMI_KEYS = 200
RANGE_ROWS = 400

READS = ("point_read", "semi_read_local", "semi_read_spread", "range_read", "lookup", "lookup_range")
WRITES = ("update", "increment", "put", "delete", "replay")
COLS = ("key", "grp", "qty", "price", "ts")


@dataclass
class Fixture:
    spark: object
    root: str
    table: object
    index: object
    rollup: object
    rows: pd.DataFrame  # the rows the table holds after set-up


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def _layer_dirs(path: str) -> list[str]:
    if not os.path.isdir(path):
        return []
    return sorted(
        d for d in os.listdir(path)
        if d.startswith(("base-", "delta-")) and not d.endswith(".tmp")
    )


def _part_files(path: str) -> dict[str, int]:
    out = {}
    for layer in _layer_dirs(path):
        ldir = os.path.join(path, layer)
        for f in os.listdir(ldir):
            if f.endswith(".parquet"):
                out[os.path.join(layer, f)] = os.path.getsize(os.path.join(ldir, f))
    return out


def setup(spark, root: str, seed: int) -> Fixture:
    from spark_on_hbase_spark.index import SecondaryIndex
    from spark_on_hbase_spark.matview import MaterializedAgg
    from spark_on_hbase_spark.table import KeyedTable

    rng = np.random.default_rng(seed)
    rows = kv_rows(rng, N_ROWS, N_GROUPS)
    table = KeyedTable(
        spark, os.path.join(root, "table"), num_partitions=PARTITIONS,
        compact_threshold=COMPACT_THRESHOLD, bloom=True,
    )
    table.create(spark.createDataFrame(rows))
    cur = rows.set_index("key")
    for layer in range(1, PRELOAD_LAYERS + 1):
        batch = rows.sample(WRITE_BATCH, random_state=int(rng.integers(1 << 31))).copy()
        batch["qty"] = rng.integers(1, 51, len(batch))
        batch["ts"] = layer
        table.update(spark.createDataFrame(batch))
        cur.loc[batch["key"], ["qty", "ts"]] = batch[["qty", "ts"]].to_numpy()
    index = SecondaryIndex(
        table, "grp", path=os.path.join(root, "index"), num_partitions=PARTITIONS
    ).build()
    rollup = MaterializedAgg(
        spark, os.path.join(root, "rollup"), table, "grp",
        sums={"sum_qty": "qty", "sum_price": "price"}, num_partitions=PARTITIONS,
    ).build()
    return Fixture(spark, root, table, index, rollup, cur.reset_index()[list(COLS)])


def teardown(fx: Fixture) -> None:
    fx.rollup.mv.drop()
    fx.index.drop()
    fx.table.drop()


class _Live:
    """Live key set with O(1) sampling and removal (stream generation)."""

    def __init__(self, keys):
        self.keys = list(keys)
        self.pos = {k: i for i, k in enumerate(self.keys)}

    def add(self, k):
        self.pos[k] = len(self.keys)
        self.keys.append(k)

    def remove(self, k):
        i = self.pos.pop(k)
        last = self.keys.pop()
        if i < len(self.keys):
            self.keys[i] = last
            self.pos[last] = i

    def sample(self, rng, n):
        return [self.keys[i] for i in rng.choice(len(self.keys), n, replace=False)]


def _rows(df) -> list[tuple]:
    return sorted(tuple(r[c] for c in COLS) for r in df.collect())


def _read(tracer, rec, fx: Fixture, build):
    """Build the read's DataFrame (plan span), collect it (exec span) and,
    when traced, note the table's layer and file counts."""
    with tracer.span("plan"):
        df = build()
    with tracer.span("exec"):
        out = _rows(df)
    if rec is not None:
        tpath = fx.table.path
        rec["layers_visible"] = len(_layer_dirs(tpath))
        rec["files_live"] = len(_part_files(tpath))
        rec["files_scanned"] = sum(
            1 for f in df.inputFiles() if os.path.abspath(f.replace("file:", "")).startswith(tpath)
        )
    return out


def rounds(fx: Fixture, rng: np.random.Generator, tracer):
    """Endless seeded op stream, one round per item: a list of (kind,
    params, fn) where ``fn(rec)`` runs the op (``rec`` is the op's span
    record, or None untraced) and returns its observable result."""
    from spark_on_hbase_spark.streaming.ingest import guarded_increment, indexed_upsert

    spark, t, idx, mv = fx.spark, fx.table, fx.index, fx.rollup
    base_keys = fx.rows["key"].to_numpy()
    popular = rng.permutation(len(base_keys))
    live = _Live(fx.rows["key"].tolist())
    used = set(live.keys)
    upsert = indexed_upsert(idx, guard_id="kvu")
    incr = guarded_increment(t, "qty", delta_col="delta", guard_id="kvi")
    guards = {"update": upsert, "increment": incr}
    batch_ids = {"update": 0, "increment": 0}
    applied: dict = {"update": {}, "increment": {}}  # guard -> batch id -> batch
    tick = int(fx.rows["ts"].max())
    n_round = 0

    def keys_df(keys):
        return spark.createDataFrame(pd.DataFrame({"key": np.asarray(keys, dtype=np.int64)}))

    def layer_sets():
        return {r: set(_layer_dirs(r)) for r in (t.path, idx.tbl.path, mv.mv.path)}

    def write_amp(rec, before, user_bytes):
        if rec is None:
            return
        new = sum(
            _dir_bytes(os.path.join(r, d))
            for r, dirs in layer_sets().items() for d in dirs - before[r]
        )
        rec["write_amp"] = new / user_bytes

    def guarded(kind, pdf):
        batch_ids[kind] += 1
        bid = batch_ids[kind]
        applied[kind][bid] = pdf

        def fn(rec):
            before = layer_sets() if rec is not None else None
            guards[kind](spark.createDataFrame(pdf), bid)
            write_amp(rec, before, pdf.memory_usage(index=False).sum())

        return fn

    while True:
        n_round += 1
        plan = [*READS, *WRITES, "refresh", "compact"]
        ops = []
        for kind in plan:
            if kind == "point_read":
                keys = [int(k) for k in base_keys[zipf_index(rng, popular, POINT_KEYS)]]
                ops.append((kind, keys, lambda rec, keys=keys: _read(
                    tracer, rec, fx, lambda: t.point_read(keys))))
            elif kind in ("semi_read_local", "semi_read_spread"):
                if kind == "semi_read_local":
                    start = int(rng.integers(0, len(base_keys) - 4 * SEMI_KEYS))
                    window = base_keys[start:start + 4 * SEMI_KEYS]
                    keys = rng.choice(window, SEMI_KEYS, replace=False)
                else:
                    keys = rng.choice(base_keys, SEMI_KEYS, replace=False)
                keys = [int(k) for k in keys]
                ops.append((kind, keys, lambda rec, keys=keys: _read(
                    tracer, rec, fx, lambda: t.semi_read(keys_df(keys)))))
            elif kind == "range_read":
                lo = int(base_keys[int(rng.integers(0, len(base_keys) - RANGE_ROWS))])
                hi = lo + RANGE_ROWS * KEY_STRIDE
                ops.append((kind, (lo, hi), lambda rec, lo=lo, hi=hi: _read(
                    tracer, rec, fx, lambda: t.range_read(lo, hi))))
            elif kind == "lookup":
                g = int(rng.integers(0, N_GROUPS))
                ops.append((kind, g, lambda rec, g=g: _read(
                    tracer, None, fx, lambda: idx.lookup(g))))
            elif kind == "lookup_range":
                g = int(rng.integers(0, N_GROUPS - 2))
                ops.append((kind, (g, g + 2), lambda rec, g=g: _read(
                    tracer, None, fx, lambda: idx.lookup_range(g, g + 2))))
            elif kind == "update":
                tick += 1
                old = live.sample(rng, WRITE_BATCH - NEW_KEYS_PER_UPDATE)
                fresh = []
                while len(fresh) < NEW_KEYS_PER_UPDATE:
                    k = int(rng.choice(base_keys)) + int(rng.integers(1, KEY_STRIDE))
                    if k not in used:
                        used.add(k)
                        live.add(k)
                        fresh.append(k)
                n = len(old) + len(fresh)
                pdf = pd.DataFrame({
                    "key": np.array(old + fresh, dtype=np.int64),
                    "grp": rng.integers(0, N_GROUPS, n).astype(np.int64),
                    "qty": rng.integers(1, 51, n).astype(np.int64),
                    "price": rng.integers(90_000, 10_500_000, n).astype(np.int64),
                    "ts": np.full(n, tick, dtype=np.int64),
                })
                ops.append((kind, pdf, guarded("update", pdf)))
            elif kind == "increment":
                pdf = pd.DataFrame({
                    "key": np.array(live.sample(rng, WRITE_BATCH), dtype=np.int64),
                    "delta": rng.integers(1, 6, WRITE_BATCH).astype(np.int64),
                })
                ops.append((kind, pdf, guarded("increment", pdf)))
            elif kind == "put":
                pdf = pd.DataFrame({
                    "key": np.array(live.sample(rng, WRITE_BATCH), dtype=np.int64),
                    "price": rng.integers(90_000, 10_500_000, WRITE_BATCH).astype(np.int64),
                })

                def put(rec, pdf=pdf):
                    before = layer_sets() if rec is not None else None
                    idx.put(spark.createDataFrame(pdf))
                    write_amp(rec, before, pdf.memory_usage(index=False).sum())

                ops.append((kind, pdf, put))
            elif kind == "delete":
                gone = live.sample(rng, DELETE_BATCH)
                for k in gone:
                    live.remove(k)

                def delete(rec, gone=gone):
                    pdf = pd.DataFrame({"key": np.array(gone, dtype=np.int64)})
                    before = layer_sets() if rec is not None else None
                    idx.delete(spark.createDataFrame(pdf))
                    write_amp(rec, before, pdf.memory_usage(index=False).sum())

                ops.append((kind, gone, delete))
            elif kind == "replay":
                guard = "update" if n_round % 2 else "increment"
                bid = int(rng.integers(1, batch_ids[guard] + 1)) if batch_ids[guard] else 0
                if not bid:
                    continue

                def replay(rec, guard=guard, bid=bid):
                    before = layer_sets()
                    guards[guard](spark.createDataFrame(applied[guard][bid]), bid)
                    return before == layer_sets()

                ops.append((kind, (guard, bid), replay))
            elif kind == "refresh":
                ops.append((kind, None, lambda rec: mv.refresh()))
            elif kind == "compact":
                scope = "dirty" if n_round % 2 else "all"

                def compact(rec, scope=scope):
                    before = _part_files(t.path) if rec is not None else None
                    t.compact(scope=scope)
                    if rec is not None:
                        after = _part_files(t.path)
                        kept = set(before) & set(after)
                        rec["files_kept"] = len(kept)
                        rec["bytes_rewritten"] = sum(
                            s for f, s in after.items() if f not in kept
                        )

                ops.append((kind, scope, compact))
        yield ops


# -- correctness ---------------------------------------------------------


def _expected_rows(model: dict, keys) -> list[tuple]:
    return sorted((k, *model[k]) for k in set(keys) if k in model)


def check(fx: Fixture, log) -> list[str]:
    """Replay the op log through a Python model; every read must match the
    model at its point in the stream, every replay must have been a no-op,
    and the final table, index and rollup must match the model."""
    model = {r[0]: list(r[1:]) for r in fx.rows.itertuples(index=False)}
    bad: list[str] = []
    for e in log:
        if not e.ok:
            continue
        p = e.params
        if e.kind == "update":
            for r in p.itertuples(index=False):
                model[r.key] = [r.grp, r.qty, r.price, r.ts]
        elif e.kind in ("increment", "put", "delete"):
            keys = p if e.kind == "delete" else p["key"]
            if any(k not in model for k in keys):
                bad.append(f"{e.kind} of a key the model does not hold")
                continue
            if e.kind == "increment":
                for k, d in zip(keys, p["delta"]):
                    model[k][1] += d
            elif e.kind == "put":
                for k, v in zip(keys, p["price"]):
                    model[k][2] = v
            else:
                for k in keys:
                    del model[k]
        elif e.kind == "replay":
            if e.result is not True:
                bad.append(f"replay {p} changed the layer set")
        elif e.kind in ("point_read", "semi_read_local", "semi_read_spread"):
            if e.result != _expected_rows(model, p):
                bad.append(f"{e.kind} mismatch")
        elif e.kind == "range_read":
            lo, hi = p
            if e.result != _expected_rows(model, [k for k in model if lo <= k <= hi]):
                bad.append("range_read mismatch")
        elif e.kind in ("lookup", "lookup_range"):
            lo, hi = (p, p) if e.kind == "lookup" else p
            want = [k for k, v in model.items() if lo <= v[0] <= hi]
            if e.result != _expected_rows(model, want):
                bad.append(f"{e.kind} mismatch")
    if _rows(fx.table.df()) != _expected_rows(model, model):
        bad.append("final table state mismatch")
    entries = sorted((r["base_key"], r["grp"]) for r in fx.index.tbl.df().select("base_key", "grp").collect())
    if entries != sorted((k, v[0]) for k, v in model.items()):
        bad.append("final index entries mismatch")
    fx.rollup.refresh()
    got = sorted(tuple(r) for r in fx.rollup.df().select("grp", "sum_qty", "sum_price", "n_rows").collect())
    agg: dict[int, list[int]] = {}
    for g, q, pr, _ in model.values():
        a = agg.setdefault(g, [0, 0, 0])
        a[0] += q
        a[1] += pr
        a[2] += 1
    if got != sorted((g, *a) for g, a in agg.items()):
        bad.append("final rollup mismatch")
    return bad


def space_amp(fx: Fixture) -> float:
    """On-disk bytes of every live layer of the table, index and rollup over
    the bytes of freshly compacted copies of the same rows."""
    from spark_on_hbase_spark.table import KeyedTable

    live = fresh = 0
    for i, tbl in enumerate((fx.table, fx.index.tbl, fx.rollup.mv)):
        live += sum(_part_files(tbl.path).values())
        dest = KeyedTable(fx.spark, os.path.join(fx.root, f"fresh{i}"), key_col=tbl.key_col,
                          ts_col=tbl.ts_col, num_partitions=tbl.num_partitions)
        tbl.copy(dest)
        fresh += sum(_part_files(dest.path).values())
    return live / fresh
