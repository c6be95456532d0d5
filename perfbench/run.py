"""Benchmark of the keyed-table engine, one workload per run.

    python3 perfbench/run.py --workload kv_mix --seed 1 --seconds 5 --trace 0

Workloads (see ``BENCHMARK.json`` for why each was chosen):

- ``kv_mix``: reads and writes on a keyed table with a secondary index and
  a materialized rollup (``perfbench/kv.py``);
- ``analytics_mix``: graph BSP loops and inventory queries
  (``perfbench/analytics.py``).

A run is one client in one Python process driving ``local[nproc]``, in a
closed loop: each op starts when the previous one returned. The run

1. starts the Spark session (timed once: ``session.launch_s``);
2. sets the workload up ``SETUP_REPS`` times from the seed, each time from
   scratch in a fresh directory (median: ``session.warm_s``), and keeps
   the last set-up; ``setup_s`` is launch plus that median;
3. runs whole rounds of the seeded op stream until ``--seconds`` have
   passed (at least one round) and times every op. Before each op,
   outside its timing, it times a fixed pure-Python loop (the probe, see
   ``perfbench/metrics.py``): ``wall_ref_s`` is the time one round takes,
   rescaled by the probe to a fixed host speed;
4. checks every op's result and the final state against a model of the
   op stream, outside the timed phase;
5. prints, as its last line, ``{"correct", "attempted", "failed",
   "metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
   metrics with ``--trace 1``. The line before it records the
   environment (nproc, master, heap, library versions) and the samples
   behind the metrics: set-up times, peak RSS per process, rounds, every
   op's latency, the unscaled round time ``wall_s`` and the median probe
   time, plus ``ops_failed_frac``.

``--trace 1`` runs at least two rounds and puts every other op of each
kind inside spans (see ``perfbench/trace.py``), so ``trace.overhead_frac``
compares traced and untraced ops of one run; the spans are written to
``.perfbench_out/``.

All files a run writes (inputs, tables, Spark scratch, warehouse, event
log) live under a per-run directory in ``.perfbench_tmp/``, removed at the
end. Seeds: 1 is the default; 97 is held out for confirming claims.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import metrics  # noqa: E402
from perfbench.repo import ROOT, engine_present  # noqa: E402

WORKLOADS = ("kv_mix", "analytics_mix")
HEAP = "1g"
SETUP_REPS = 3


@dataclass
class Op:
    kind: str
    params: object
    ok: bool
    latency: float
    span: dict | None
    result: object = None
    round: int = 0
    probe: float = 0.0  # seconds the host-speed probe took just before the op


def _configure_env(run_dir: str, trace: bool) -> dict:
    """Hermetic launch settings, through the engine's own env vars."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    for d in ("tmp", "local", "warehouse", "events"):
        os.makedirs(os.path.join(run_dir, d))
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(run_dir, "warehouse")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    # every JVM (spark-submit's launcher too) keeps its scratch in the run
    # directory and writes no /tmp/hsperfdata file
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # a fixed, pre-touched heap, so peak RSS does not depend on when the
    # collector chose to grow the heap
    submit = f'--driver-java-options "-Xms{HEAP} -XX:+AlwaysPreTouch"'
    if trace:
        os.environ["SPARK_GRAFT_EVENTLOG"] = os.path.join(run_dir, "events")
        # keep every job of the run visible to the status tracker, and write
        # the event log uncompressed so reading it needs no zstd binary
        submit += (
            " --conf spark.ui.retainedJobs=100000 --conf spark.ui.retainedStages=100000"
            " --conf spark.eventLog.compress=false"
        )
    else:
        os.environ.pop("SPARK_GRAFT_EVENTLOG", None)
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{submit} pyspark-shell"
    from spark_on_hbase_spark.session import size_driver_heap_for_launch

    size_driver_heap_for_launch()
    return {"nproc": cpus, "master": f"local[{cpus}]", "heap": HEAP}


def _peak_rss_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _timed_phase(mod, fx, seed: int, seconds: float, tracer, trace: bool) -> list[Op]:
    """Whole rounds of the op stream until ``seconds`` have passed; traced
    runs make at least two, so each op kind runs both traced and not."""
    import numpy as np

    log: list[Op] = []
    parity: dict[str, int] = {}
    end = time.perf_counter() + seconds
    rounds = mod.rounds(fx, np.random.default_rng([seed, 1]), tracer)
    for n, ops in enumerate(rounds):
        for kind, params, fn in ops:
            # traced runs trace every other run of each kind; half the kinds
            # start traced, half untraced, so cold first runs fall on both
            parity[kind] = 1 - parity.get(kind, len(parity) % 2)
            tracer.enabled = trace and parity[kind] == 1
            probe = metrics.probe()
            t0 = time.perf_counter()
            try:
                with tracer.span(kind) as rec:
                    result = fn(rec)
                op = Op(kind, params, True, time.perf_counter() - t0, rec, result, n, probe)
            except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
                traceback.print_exc(file=sys.stderr)
                op = Op(kind, params, False, time.perf_counter() - t0, None, round=n, probe=probe)
            tracer.enabled = False
            log.append(op)
        if time.perf_counter() >= end and (n >= 1 or not trace):
            return log


def run(workload: str, seed: int, seconds: float, trace: bool, run_dir: str) -> dict:
    env = _configure_env(run_dir, trace)
    t0 = time.perf_counter()
    import duckdb
    import pyspark

    from perfbench import analytics, kv
    from perfbench.trace import Tracer
    from spark_on_hbase_spark.session import get_spark

    mod = {"kv_mix": kv, "analytics_mix": analytics}[workload]
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    launch_s = time.perf_counter() - t0
    sc = spark.sparkContext
    jvm_pid = sc._gateway.proc.pid
    env.update(
        pyspark=pyspark.__version__, duckdb=duckdb.__version__,
        python=platform.python_version(), workload=workload, seed=seed, trace=int(trace),
    )
    tracer = Tracer(sc, f"{workload}-{seed}")
    try:
        reps, warm, fx = [], [], None
        for rep in range(SETUP_REPS):
            if fx is not None:
                mod.teardown(fx)
            t = time.perf_counter()
            fx = mod.setup(spark, os.path.join(run_dir, f"rep{rep}"), seed)
            reps.append(time.perf_counter() - t)
            warm.append(getattr(fx, "warm_s", {}))
        log = _timed_phase(mod, fx, seed, seconds, tracer, trace)
        rss_kb = {"python": _peak_rss_kb("self"), "jvm": _peak_rss_kb(jvm_pid)}
        peak_mb = sum(rss_kb.values()) / 1024.0
        bad = mod.check(fx, log)
        for msg in bad:
            print(f"check: {msg}", file=sys.stderr)
        failed = sum(1 for e in log if not e.ok) + len(bad)
        if trace:
            tracer.resolve_jobs()
            extra = {
                "session.launch_s": launch_s,
                "session.warm_s": metrics.median(reps),
                **{
                    f"inventory.warm.{w}_s": metrics.median(d[w] for d in warm if w in d)
                    for w in metrics.WARM
                },
            }
            if workload == "kv_mix":
                extra["table.space_amp"] = kv.space_amp(fx)
    finally:
        spark.stop()
        sc._gateway.shutdown()
        sc._gateway.proc.terminate()
        sc._gateway.proc.wait(timeout=60)
    if trace:
        tracer.resolve_shuffle(os.path.join(run_dir, "events"))
        tracer.write(os.path.join(ROOT, ".perfbench_out", f"spans-{workload}-{seed}.jsonl"))
        values = metrics.per_layer(log, tracer, extra)
        units = {n: u for n, u, _ in metrics.PER_LAYER}
    else:
        values = metrics.end_to_end(log, launch_s, reps, peak_mb)
        units = {n: u for n, u, _, _ in metrics.END_TO_END}
    env.update(
        ops_failed_frac=failed / len(log),
        setup_reps_s=reps,
        peak_rss_kb=rss_kb,
        wall_s=metrics.wall_s(log),
        probe_ms=1e3 * metrics.median(e.probe for e in log),
        rounds=log[-1].round + 1,
        op_s={
            k: [round(e.latency, 3) for e in log if e.kind == k]
            for k in sorted({e.kind for e in log})
        },
    )
    print(json.dumps({"env": env}))
    return {
        "correct": failed == 0,
        "attempted": len(log),
        "failed": failed,
        "metrics": {n: {"value": float(values[n]), "unit": units[n]} for n in units},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not engine_present():
        print(f"engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=base)
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
