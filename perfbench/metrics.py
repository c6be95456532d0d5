"""Metric names, units and how each is computed from a run's op log.

``END_TO_END`` and ``PER_LAYER`` are what ``BENCHMARK.json`` declares.
Every workload reports every metric: a per-layer metric of a layer the
workload does not run reads 0.
"""

from __future__ import annotations

import statistics
import time

# (name, unit, better, bound)
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("wall_ref_s", "s", "lower", 0.24),
    ("peak_rss_mb", "MB", "lower", 0.1),
]

# A shared host's speed can drift by 2x within minutes, and CPU time drifts
# with it. So each op is preceded by a probe, a fixed pure-Python loop, and
# round times are rescaled to a host on which the probe takes PROBE_REF_S,
# a fixed reference (the probe read 5-12 ms on a 4-vCPU VM).
PROBE_LOOPS = 200_000
PROBE_REF_S = 0.010

TABLE_READS = ("point_read", "semi_read_local", "semi_read_spread", "range_read")
TABLE_WRITES = ("update", "put", "increment", "delete")
GRAPH_OPS = ("pagerank", "bsp_converge", "label_propagation", "propagate_incremental")
# dedup, ANN, text, join and agg families; no LSM, streaming or BSP query
INVENTORY_MIX = (
    "exact_dedup", "minhash_lsh_dedup", "ann_brute_topk", "ann_ivf_topk",
    "tfidf_keywords", "semi_join", "lookup_join", "q1_pricing_summary",
)
# the memoized relations those queries read
WARM = ("shingles_n3", "minhash_verified_pairs", "ivf_assigned")

# (name, unit, better)
PER_LAYER = [
    ("session.launch_s", "s", "lower"),
    ("session.warm_s", "s", "lower"),
    *[
        (f"table.{op}.{m}", u, "lower")
        for op in TABLE_READS
        for m, u in (("plan_s", "s"), ("exec_s", "s"), ("jobs", "count"),
                     ("stages", "count"), ("tasks", "count"))
    ],
    ("table.layers_visible", "count", "lower"),
    ("table.files_live", "count", "lower"),
    ("table.files_scanned", "count", "lower"),
    ("table.files_pruned_frac", "frac", "higher"),
    *[(f"table.{op}_s", "s", "lower") for op in (*TABLE_WRITES, "compact")],
    ("table.jobs_per_write", "count", "lower"),
    ("table.write_amp", "ratio", "lower"),
    ("table.compact_bytes_rewritten", "bytes", "lower"),
    ("table.compact_files_kept", "count", "higher"),
    ("table.space_amp", "ratio", "lower"),
    ("index.lookup_s", "s", "lower"),
    ("index.lookup_range_s", "s", "lower"),
    ("index.update_s", "s", "lower"),
    ("index.jobs_per_update", "count", "lower"),
    ("matview.refresh_s", "s", "lower"),
    ("matview.delta_rows", "count", "lower"),
    ("matview.rebuilds", "count", "lower"),
    ("matview.jobs_per_refresh", "count", "lower"),
    ("streaming.apply_s", "s", "lower"),
    ("streaming.replay_skip_s", "s", "lower"),
    ("streaming.replays_issued", "count", "higher"),
    ("streaming.replays_skipped", "count", "higher"),
    *[(f"graph.{op}_s", "s", "lower") for op in GRAPH_OPS],
    ("graph.jobs_per_superstep", "count", "lower"),
    ("graph.shuffle_write_bytes", "bytes", "lower"),
    *[(f"inventory.warm.{w}_s", "s", "lower") for w in WARM],
    ("inventory.plan_s", "s", "lower"),
    ("inventory.exec_s", "s", "lower"),
    ("inventory.jobs_per_query", "count", "lower"),
    ("inventory.shuffle_write_bytes", "bytes", "lower"),
    *[(f"inventory.q.{q}_s", "s", "lower") for q in INVENTORY_MIX],
    ("trace.overhead_frac", "frac", "lower"),
    ("trace.spans", "count", "lower"),
]


def median(xs) -> float:
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else 0.0


def mean(xs) -> float:
    xs = [x for x in xs if x is not None]
    return sum(xs) / len(xs) if xs else 0.0


def probe() -> float:
    """Seconds a fixed pure-Python loop takes: the host's current speed.
    The fastest of three runs, so a burst of the JVM's own background work
    (JIT compilation, GC) on the same cores does not count as a slow host."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        total = 0
        for i in range(PROBE_LOOPS):
            total += i
        best = min(best, time.perf_counter() - t0)
    return best


def wall_s(log) -> float:
    """The median over rounds of the time one round's ops took."""
    rounds: dict[int, float] = {}
    for e in log:
        rounds[e.round] = rounds.get(e.round, 0.0) + e.latency
    return median(rounds.values())


def end_to_end(log, launch_s: float, setup_reps: list[float], peak_rss_mb: float) -> dict[str, float]:
    """``setup_s`` is launch plus the median set-up; ``wall_ref_s`` is
    ``wall_s`` times PROBE_REF_S over the median probe of the same ops."""
    return {
        "setup_s": launch_s + median(setup_reps),
        "wall_ref_s": wall_s(log) * PROBE_REF_S / median(e.probe for e in log),
        "peak_rss_mb": peak_rss_mb,
    }


def _dur(rec) -> float:
    return rec["end"] - rec["start"]


def per_layer(log, tracer, extra: dict) -> dict[str, float]:
    """Per-layer metrics from the traced ops of the log (those with a span)
    plus ``extra`` (session, warmer and whole-run figures). Layers the
    workload did not run read 0."""
    traced = [e for e in log if e.ok and e.span is not None]
    by_kind: dict[str, list] = {}
    for e in traced:
        by_kind.setdefault(e.kind, []).append(e)

    def spans(*kinds):
        return [e.span for k in kinds for e in by_kind.get(k, [])]

    def child(rec, name):
        return next((c for c in tracer.children(rec) if c["name"] == name), None)

    def per_op(kinds, key):
        return [tracer.subtree(r, key) for r in spans(*kinds)]

    out = {name: 0.0 for name, _, _ in PER_LAYER}
    out.update(extra)
    for op in TABLE_READS:
        recs = spans(op)
        out[f"table.{op}.plan_s"] = median(_dur(child(r, "plan")) for r in recs)
        out[f"table.{op}.exec_s"] = median(_dur(child(r, "exec")) for r in recs)
        for key in ("jobs", "stages", "tasks"):
            out[f"table.{op}.{key}"] = median(per_op([op], key))
    reads = spans(*TABLE_READS)
    if reads:
        live = sum(r["files_live"] for r in reads)
        scanned = sum(r["files_scanned"] for r in reads)
        out["table.layers_visible"] = mean(r["layers_visible"] for r in reads)
        out["table.files_live"] = live / len(reads)
        out["table.files_scanned"] = scanned / len(reads)
        out["table.files_pruned_frac"] = 1.0 - scanned / live if live else 0.0
    for op in (*TABLE_WRITES, "compact"):
        out[f"table.{op}_s"] = median(_dur(r) for r in spans(op))
    out["table.jobs_per_write"] = mean(per_op(TABLE_WRITES, "jobs"))
    out["table.write_amp"] = median(r.get("write_amp") for r in spans(*TABLE_WRITES))
    out["table.compact_bytes_rewritten"] = median(r.get("bytes_rewritten") for r in spans("compact"))
    out["table.compact_files_kept"] = median(r.get("files_kept") for r in spans("compact"))
    out["index.lookup_s"] = median(_dur(r) for r in spans("lookup"))
    out["index.lookup_range_s"] = median(_dur(r) for r in spans("lookup_range"))
    out["index.update_s"] = median(_dur(r) for r in spans("update"))
    out["index.jobs_per_update"] = mean(per_op(["update"], "jobs"))
    out["matview.refresh_s"] = median(_dur(r) for r in spans("refresh"))
    refreshes = [e.result for e in log if e.ok and e.kind == "refresh"]
    out["matview.delta_rows"] = median(n for n in refreshes if n >= 0)
    out["matview.rebuilds"] = sum(1 for n in refreshes if n < 0)
    out["matview.jobs_per_refresh"] = mean(per_op(["refresh"], "jobs"))
    out["streaming.apply_s"] = median(_dur(r) for r in spans("update", "increment"))
    out["streaming.replay_skip_s"] = median(_dur(r) for r in spans("replay"))
    replays = [e for e in log if e.kind == "replay"]
    out["streaming.replays_issued"] = len(replays)
    out["streaming.replays_skipped"] = sum(1 for e in replays if e.ok and e.result is True)
    for op in GRAPH_OPS:
        out[f"graph.{op}_s"] = median(_dur(r) for r in spans(op))
    graph = spans(*GRAPH_OPS)
    steps = sum(r.get("iterations", 0) for r in graph)
    out["graph.jobs_per_superstep"] = sum(tracer.subtree(r, "jobs") for r in graph) / steps if steps else 0.0
    out["graph.shuffle_write_bytes"] = mean(per_op(GRAPH_OPS, "shuffle_write_bytes"))
    queries = spans(*INVENTORY_MIX)
    out["inventory.plan_s"] = median(_dur(child(r, "plan")) for r in queries)
    out["inventory.exec_s"] = median(_dur(child(r, "exec")) for r in queries)
    out["inventory.jobs_per_query"] = mean(per_op(INVENTORY_MIX, "jobs"))
    out["inventory.shuffle_write_bytes"] = mean(per_op(INVENTORY_MIX, "shuffle_write_bytes"))
    for q in INVENTORY_MIX:
        out[f"inventory.q.{q}_s"] = median(_dur(r) for r in spans(q))
    out["trace.overhead_frac"] = overhead(log)
    out["trace.spans"] = len(tracer.spans)
    return out


def overhead(log) -> float:
    """Traced over untraced time, per op kind, weighted by how often each
    kind ran: kinds alternate traced and untraced within one run."""
    num = den = 0.0
    kinds = {e.kind for e in log}
    for k in kinds:
        on = [e.latency for e in log if e.ok and e.kind == k and e.span is not None]
        off = [e.latency for e in log if e.ok and e.kind == k and e.span is None]
        if on and off:
            n = len(on) + len(off)
            num += n * median(on)
            den += n * median(off)
    return num / den - 1.0 if den else 0.0
