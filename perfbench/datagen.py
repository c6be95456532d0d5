"""Seeded input generation for the benchmark workloads.

Everything here is plain numpy/pandas/pyarrow: the same seed gives the same
inputs, and the engine only ever sees the generated rows or files.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

KEY_STRIDE = 7  # keys are spaced so new keys can be minted between them


def kv_rows(rng: np.random.Generator, n: int, n_groups: int) -> pd.DataFrame:
    """Lineitem-shaped keyed rows: unique sorted int64 keys, a group column
    for the secondary index and the rollup, two integer measures and a
    version timestamp (0 for the base load)."""
    return pd.DataFrame(
        {
            "key": np.arange(n, dtype=np.int64) * KEY_STRIDE,
            "grp": rng.integers(0, n_groups, n).astype(np.int64),
            "qty": rng.integers(1, 51, n).astype(np.int64),
            "price": rng.integers(90_000, 10_500_000, n).astype(np.int64),
            "ts": np.zeros(n, dtype=np.int64),
        }
    )


def zipf_index(rng: np.random.Generator, perm: np.ndarray, size: int, a: float = 1.3) -> np.ndarray:
    """``size`` positions into ``perm`` with Zipf popularity: rank r maps to
    ``perm[r]``, so the popular rows are scattered over the key space."""
    ranks = (rng.zipf(a, size) - 1) % len(perm)
    return perm[ranks]


def power_law_edges(rng: np.random.Generator, n_vertices: int, n_components: int) -> pd.DataFrame:
    """Symmetric (src, dst, prob) edge list: ``n_components`` preferential-
    attachment graphs of equal size (so the superstep counts, and with them
    the work, barely move with the seed), vertex ids shuffled over the
    whole id range so components interleave. ``prob`` is quantized to 1/255
    as in the graph fixture schema."""
    import networkx as nx

    size = n_vertices // n_components
    ids = rng.permutation(size * n_components).astype(np.int64) * 3 + 1
    pairs = []
    for c in range(n_components):
        g = nx.barabasi_albert_graph(size, 2, seed=int(rng.integers(1 << 31)))
        pairs.extend((ids[c * size + u], ids[c * size + v]) for u, v in g.edges())
    und = np.array(pairs, dtype=np.int64)
    prob = rng.integers(60, 180, len(und)) / 255.0
    return pd.DataFrame(
        {
            "src": np.concatenate([und[:, 0], und[:, 1]]),
            "dst": np.concatenate([und[:, 1], und[:, 0]]),
            "prob": np.concatenate([prob, prob]),
        }
    )


_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_LANGS = np.array(["en", "zh", "es", "de", "fr"])
_LANG_P = [0.44, 0.15, 0.14, 0.14, 0.13]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, span_days: int, n) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + (rng.integers(0, span_days, n) * 86_400_000_000).astype("timedelta64[us]")


def write_star_schema(rng: np.random.Generator, out_dir: str, sf: float) -> None:
    """TPC-H-shaped star schema plus the events, documents and embeddings
    tables the inventory queries read, one parquet file each, with the
    column names and types of the engine's graded test tables."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_ev, n_doc = int(1_500_000 * sf), int(1_000_000 * sf), int(50_000 * sf)
    i32, i64 = np.int32, np.int64

    def put(name, cols: dict, schema=None):
        pq.write_table(pa.table(cols, schema=schema), os.path.join(out_dir, f"{name}.parquet"))

    put("region", {
        "r_regionkey": np.arange(5, dtype=i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    put("nation", {
        "n_nationkey": np.arange(25, dtype=i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(i32),
    })
    put("customer", {
        "c_custkey": np.arange(n_cust, dtype=i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(
            ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"], n_cust
        ),
    })
    put("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adjectives = ["red", "small", "hot", "blue", "large", "cold", "green", "tiny"]
    nouns = ["plate", "widget", "ring", "gear", "bolt", "valve", "spring", "nut"]
    put("part", {
        "p_partkey": np.arange(n_part, dtype=i64),
        "p_name": [f"{rng.choice(adjectives)} {rng.choice(nouns)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(i32),
        "p_retailprice": np.round(900 + rng.integers(0, 1000, n_part) / 10, 2),
    })
    put("orders", {
        "o_orderkey": np.arange(n_ord, dtype=i64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(i64),
        "o_orderstatus": rng.choice(["P", "O", "F"], n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=i64), lines)
    n_li = len(okey)
    lineno = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(i32)
    put("lineitem", {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li).astype(i64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(i64),
        "l_linenumber": lineno,
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["R", "A", "N"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": _days(rng, "1995-01-02", 2498, n_li),
    })
    ev_ts = np.datetime64("2024-01-01", "us") + rng.integers(
        0, 30 * 86_400_000_000, n_ev
    ).astype("timedelta64[us]")
    put("events", {
        "event_id": np.arange(n_ev, dtype=i64),
        "ts": np.sort(ev_ts),
        "user_id": rng.integers(0, max(int(15_000 * sf), 10), n_ev).astype(i64),
        "event_type": rng.choice(["signup", "error", "click", "view", "purchase"], n_ev),
        "value": _money(rng, 0.01, 490.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.1:
            # near-duplicate of an earlier document, as in the graded corpus
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 100)))))
    put("documents", {
        "doc_id": np.arange(n_doc, dtype=i64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_doc, p=_LANG_P),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=i64),
    })
    labels = rng.integers(0, 10, n_doc)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 0.6, (n_doc, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    put(
        "embeddings",
        {
            "vec_id": np.arange(n_doc, dtype=i64),
            "embedding": list(vecs),
            "label": labels.astype(i32),
        },
        schema=pa.schema(
            [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32())]
        ),
    )
