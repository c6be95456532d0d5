"""analytics_mix: iterative graph supersteps and inventory queries.

Set-up writes a seeded power-law edge list (several components of unequal
size) and a seeded star schema of the graded tables' shape as parquet,
stores the probability-propagation state of a first seed batch as
parquet, and runs the ``WARMERS`` of the inventory queries
below.

One round of the op stream, in a seeded order: the four BSP loops of
``operators.graph`` (``pagerank`` with a fixed iteration count,
``bsp_converge`` max-label propagation toward connected components,
``label_propagation`` and
``propagate_incremental`` of a new seed batch against the stored state)
and every query of ``INVENTORY_MIX`` through the ``inventory`` registry.
No keyed-table code runs here.

Graph results are checked after the timed phase against single-process
references built on networkx; query results against the query's own
``oracle_sql`` run in DuckDB over the same parquet files.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd

from perfbench.datagen import power_law_edges, write_star_schema
from perfbench.metrics import GRAPH_OPS, INVENTORY_MIX, WARM

SF = 0.01
N_VERTICES = 1_000
N_COMPONENTS = 5
SEEDS_PER_BATCH = 6
PR_ITERS = 2
LP_ITERS = 2
CC_MAX_ITERS = 3
MIN_PROB = 0.15
PROP_MAX_ITERS = 3
DAMPING = 0.85



@dataclass
class Fixture:
    spark: object
    sf_dir: str
    edges_path: str
    stored_path: str
    edges: pd.DataFrame
    stored_seeds: np.ndarray  # seeds whose propagation state is stored
    warm_s: dict

    @property
    def stored_origins(self) -> set:
        return {_origin(v) for v in self.stored_seeds}


def _origin(v) -> str:
    return f"o{int(v)}"


def setup(spark, root: str, seed: int) -> Fixture:
    from spark_on_hbase_spark.inventory import WARMERS

    rng = np.random.default_rng(seed)
    sf_dir = os.path.join(root, "sf")
    write_star_schema(rng, sf_dir, SF)
    edges = power_law_edges(rng, N_VERTICES, N_COMPONENTS)
    edges_path = os.path.join(root, "edges.parquet")
    edges.to_parquet(edges_path, index=False)
    first = rng.choice(edges["src"].unique(), SEEDS_PER_BATCH, replace=False).astype(np.int64)
    # the stored propagation state of a first seed batch: input data, so it
    # is computed by the single-process reference, not timed engine code
    stored = pd.DataFrame(
        _ref_propagation(_nx_graph(edges), first, set()), columns=["key", "origin", "prob"]
    )
    stored_path = os.path.join(root, "stored.parquet")
    stored.to_parquet(stored_path, index=False)
    warm_s = {}
    for name in WARM:
        t0 = time.perf_counter()
        WARMERS[name](spark, sf_dir)
        warm_s[name] = time.perf_counter() - t0
    return Fixture(
        spark, sf_dir, edges_path, stored_path, edges, first, warm_s,
    )


def teardown(fx: Fixture) -> None:
    """Inputs live under the run directory, which the runner removes."""


def rounds(fx: Fixture, rng: np.random.Generator, tracer):
    """Endless seeded op stream, one round per item: a list of (kind,
    params, fn) where ``fn(rec)`` runs the op and returns its observable
    result. The seed sets the order within each round."""
    from pyspark.sql import functions as F

    from spark_on_hbase_spark.inventory import QUERIES
    from spark_on_hbase_spark.operators import graph as G

    spark = fx.spark
    vertices = fx.edges["src"].unique()

    def edges():
        return spark.read.parquet(fx.edges_path)

    def graph_call(kind, seeds):
        """The BSP loop itself (its supersteps run inside the call) and the
        number of supersteps it ran."""
        e = edges()
        if kind == "pagerank":
            return G.pagerank(e.select("src", "dst"), DAMPING, PR_ITERS), PR_ITERS
        if kind == "bsp_converge":
            state = e.select(F.col("src").alias("key")).distinct().withColumn("label", F.col("key"))
            return G.bsp_converge(e.select("src", "dst"), state, max_iters=CC_MAX_ITERS)
        if kind == "label_propagation":
            return G.label_propagation(e, max_iters=LP_ITERS)
        sdf = spark.createDataFrame(pd.DataFrame({"key": seeds, "origin": [_origin(v) for v in seeds]}))
        return G.propagate_incremental(
            spark.read.parquet(fx.stored_path), e, sdf, min_prob=MIN_PROB, max_iters=PROP_MAX_ITERS
        )

    def graph_op(kind, seeds=None):
        def fn(rec):
            df, iters = graph_call(kind, seeds)
            rows = df.collect()
            if rec is not None:
                rec["iterations"] = iters
            if kind == "propagate_incremental":
                return sorted((r["key"], r["origin"], r["prob"]) for r in rows)
            return {r[0]: r[1] for r in rows}
        return fn

    def query_op(name):
        def fn(rec):
            with tracer.span("plan"):
                df = QUERIES[name].fn(spark, fx.sf_dir)
            with tracer.span("exec"):
                rows = [tuple(r) for r in df.collect()]
            df.unpersist()
            return [c.lower() for c in df.columns], rows
        return fn

    while True:
        plan = list(GRAPH_OPS + INVENTORY_MIX)
        rng.shuffle(plan)
        ops = []
        for kind in plan:
            if kind == "propagate_incremental":
                # a new seed batch, one of whose seeds the stored state
                # already holds (that one must propagate nothing)
                fresh = rng.choice(vertices, SEEDS_PER_BATCH - 1, replace=False)
                seeds = np.concatenate([fresh, fx.stored_seeds[:1]]).astype(np.int64)
                ops.append((kind, seeds, graph_op(kind, seeds)))
            elif kind in GRAPH_OPS:
                ops.append((kind, None, graph_op(kind)))
            else:
                ops.append((kind, None, query_op(kind)))
        yield ops


# -- correctness ---------------------------------------------------------


def _nx_graph(edges: pd.DataFrame):
    import networkx as nx

    g = nx.Graph()
    g.add_weighted_edges_from(edges[["src", "dst", "prob"]].itertuples(index=False), weight="p")
    return g


def _ref_pagerank(g) -> dict:
    n = g.number_of_nodes()
    rank = {v: 1.0 / n for v in g}
    for _ in range(PR_ITERS):
        rank = {
            v: (1 - DAMPING) / n + DAMPING * sum(rank[u] / g.degree(u) for u in g[v])
            for v in g
        }
    return rank


def _ref_max_labels(g) -> dict:
    """Largest vertex id within CC_MAX_ITERS hops: the state max-label
    propagation reaches after that many supersteps (the connected
    components once the cap exceeds every component's radius)."""
    import networkx as nx

    return {
        v: max(nx.single_source_shortest_path_length(g, v, cutoff=CC_MAX_ITERS))
        for v in g
    }


def _ref_label_propagation(g) -> dict:
    from collections import Counter

    labels = {v: v for v in g}
    for _ in range(LP_ITERS):
        new = {}
        for v in g:
            counts = Counter(labels[u] for u in g[v])
            new[v] = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0] if counts else labels[v]
        changed = any(new[v] != labels[v] for v in g)
        labels = new
        if not changed:
            break
    return labels


def _ref_propagation(g, seeds, stored_origins) -> list:
    """Max-product reach of each new seed's origin over edges whose running
    product stays >= MIN_PROB, one superstep per hop."""
    out = []
    for s in seeds:
        origin = _origin(s)
        if origin in stored_origins:
            continue  # the stored state already holds this origin's reach
        best = {int(s): 1.0}
        frontier = dict(best)
        for _ in range(PROP_MAX_ITERS):
            cand: dict = {}
            for v, p in frontier.items():
                for u, attrs in g[v].items():
                    q = p * attrs["p"]
                    if q >= MIN_PROB and q > cand.get(u, 0.0):
                        cand[u] = q
            frontier = {u: q for u, q in cand.items() if q > best.get(u, 0.0)}
            best.update(frontier)
            if not frontier:
                break
        out.extend((v, origin, p) for v, p in best.items())
    return sorted(out)


def check(fx: Fixture, log) -> list[str]:
    import duckdb

    from perfbench.repo import load_script
    from spark_on_hbase_spark.inventory import QUERIES

    check_oracle = load_script("check_oracle")
    bad: list[str] = []
    g = _nx_graph(fx.edges)
    refs = {
        "pagerank": _ref_pagerank(g),
        "bsp_converge": _ref_max_labels(g),
        "label_propagation": _ref_label_propagation(g),
    }
    con = duckdb.connect()
    for t in check_oracle.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fx.sf_dir}/{t}.parquet'")
    oracle: dict = {}
    for e in log:
        if not e.ok:
            continue
        if e.kind == "pagerank":
            want = refs["pagerank"]
            if e.result.keys() != want.keys() or any(
                abs(e.result[k] - want[k]) > 1e-12 for k in want
            ):
                bad.append("pagerank mismatch")
        elif e.kind in refs:
            if e.result != refs[e.kind]:
                bad.append(f"{e.kind} mismatch")
        elif e.kind == "propagate_incremental":
            want = _ref_propagation(g, e.params, fx.stored_origins)
            if len(e.result) != len(want) or any(
                a[:2] != b[:2] or abs(a[2] - b[2]) > 1e-12 for a, b in zip(e.result, want)
            ):
                bad.append("propagate_incremental mismatch")
        else:
            cols, rows = e.result
            sql = QUERIES[e.kind].sql
            if e.kind not in oracle:
                res = con.execute(sql)
                oracle[e.kind] = ([d[0].lower() for d in res.description], res.fetchall())
            ocols, orows = oracle[e.kind]
            if len(rows) != len(orows) or check_oracle.frame_fingerprint(cols, rows)[0] != (
                check_oracle.frame_fingerprint(ocols, orows)[0]
            ):
                bad.append(f"{e.kind} differs from its oracle_sql")
    con.close()
    return bad
