"""Spatial-query benchmark of rayjoin_spark.

Run from the repository root:

    python3 spatialbench/run.py --workload lsi_coarse --seed 1 --seconds 10 --trace 0

Workloads: lsi_coarse, fine_grid (spatialbench/workloads.py; metric map
in spatialbench/README.md). The last line of
stdout is one JSON object {correct, attempted, failed, metrics}: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
The line before it is the full report (samples, percentiles, session
sizing, gate digests, spans). Progress goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time

#: scratch directory (Spark local dirs, JVM temp) under the working
#: directory; removed when the run ends
SCRATCH_DIR = ".spatialbench-scratch"

#: probe of a known defect, run at the end of the fine_grid traced run:
#: nearest_edge over the full-size fine layer (lattice m=96, every edge
#: subdivided x24, gsize 15000) with 400k query points
PROBE = {"m": 96, "subdiv": 24, "gsize": 15000, "points": 400_000, "cap_s": 60}

END_TO_END = {
    "query_s": "s",
    "rows_per_s": "rows/s",
    "setup_s": "s",
    "cached_mb": "MB",
}

PER_LAYER = {
    "spark.session_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.job_busy_s": "s",
    "spark.driver_s": "s",
    "spark.pinned_mb": "MB",
    "spark.peak_rss_mb": "MB",
    "layers.build_edges_s": "s",
    "layers.edges": "count",
    "cells.stats_s": "s",
    "cells.explode_s": "s",
    "cells.explode_rows": "count",
    "cells.rows_per_edge": "ratio",
    "lsi.candidates_s": "s",
    "lsi.candidates": "count",
    "lsi.filter_s": "s",
    "lsi.pairs": "count",
    "lsi.hit_ratio": "ratio",
    "lsi.xsect_s": "s",
    "pip.index_build_s": "s",
    "pip.edge_cells": "count",
    "pip.locate_s": "s",
    "pip.band_accept_ratio": "ratio",
    "pip.completion_points": "count",
    "nearest.query_s": "s",
    "nearest.jobs": "count",
    "knn.query_s": "s",
    "knn.jobs": "count",
    "overlay.edges_s": "s",
    "overlay.lsi_s": "s",
    "overlay.pip_s": "s",
    "overlay.writer_s": "s",
    "trace.query_s": "s",
    "trace.overhead_s": "s",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def untraced(run) -> tuple[dict, dict]:
    from spatialbench.harness import MIN_PASSES, SETUPS, WARMUP_PASSES, supported_percentile

    for _ in range(SETUPS):
        st = run.setup()
    run.run_gate(st)
    run.measure(st, WARMUP_PASSES, run.seconds, MIN_PASSES)
    metrics = run.end_to_end()
    n = len(run.measured())
    extra = {"query_samples": n, "query_highest_percentile": supported_percentile(n)}
    return metrics, extra


def traced(run) -> tuple[dict, dict]:
    """Same seed, tracing on: one set-up, the gate, passes alternating
    traced and untraced (the difference of their medians is the tracing
    overhead), then the per-layer re-runs and, on fine_grid, the probe."""
    from spatialbench.harness import MIN_TRACED_PASSES, WARMUP_PASSES, median
    from spatialbench.sweep import Sweep
    from spatialbench.trace import Tracer

    tr = run.tracer = Tracer()
    tr_start = time.perf_counter()
    tr.install()
    tr.pass_id = "setup"
    with tr.span("bench.setup"):
        st = run.setup()
    tr.pass_id = "gate"
    with tr.span("bench.gate"):
        run.run_gate(st)
    tr.uninstall()
    t_end = time.perf_counter() + run.seconds
    i = WARMUP_PASSES
    while i < WARMUP_PASSES + 2 * MIN_TRACED_PASSES or time.perf_counter() < t_end:
        on = (i - WARMUP_PASSES) % 2 == 0
        if on:
            tr.install()
        try:
            run.measure(st, i, 0, 1, traced=on)
        finally:
            tr.uninstall()
        i += 1
    tp, up = run.measured(traced=True), run.measured(traced=False)
    q_traced = median([p["s"] for p in tp])
    m = {
        "spark.session_s": run.env.session_s,
        "spark.jobs": median([p["jobs"] for p in tp]),
        "spark.tasks": median([p["tasks"] for p in tp]),
        "spark.job_busy_s": median([p["busy_s"] for p in tp]),
        "spark.driver_s": median([p["s"] - p["busy_s"] for p in tp]),
        "spark.pinned_mb": median([p["pinned_mb"] for p in tp]),
        # after the passes, before the re-runs below add their own peak
        "spark.peak_rss_mb": run.env.driver_hwm_mb(),
        "trace.query_s": q_traced,
        "trace.overhead_s": q_traced - median([p["s"] for p in up]),
    }
    tr.install()
    try:
        m.update(Sweep(run, st).measure_all())
    finally:
        tr.uninstall()
    extra = {"span_summary": tr.summary(), "spans": tr.dump(tr_start)}
    if run.wl.name == "fine_grid":
        extra["probe_nearest_fine_grid"] = probe_nearest_fine(run)
    return m, extra


def probe_nearest_fine(run) -> dict:
    """Known defect, reported and not gated: nearest_edge over the
    full-size fine layer. On a 4-core host with a ~4 GB driver it fails
    in a round's localCheckpoint with Spark's 'Not enough memory to build
    and broadcast the table'. Jobs are cancelled after PROBE['cap_s']."""
    from rayjoin_spark.operators import nearest
    from rayjoin_spark.plans import layers
    from rayjoin_spark.plans.scaling import GridSpec, compute_scaling
    from rayjoin_spark.sources import datagen

    spark = run.spark
    sc = spark.sparkContext
    p = PROBE
    ca, pa = datagen.lattice_chains(spark, p["m"])
    pa = datagen.subdivide_points(pa, p["subdiv"])
    scaling = compute_scaling(pa)
    edges = layers.build_edges(ca, pa, scaling).persist()
    out = dict(p)
    out["edges"] = edges.count()
    pts = datagen.uniform_points(spark, p["points"], -0.5, p["m"] + 0.5, -0.5, p["m"] + 0.5,
                                 seed=run.wl.params.sweep_seed)
    group = "spatialbench-probe"
    sc.setJobGroup(group, "nearest_edge fine-grid probe", interruptOnCancel=True)
    timer = threading.Timer(p["cap_s"], lambda: sc.cancelJobGroup(group))
    timer.start()
    t0 = time.perf_counter()
    try:
        n = nearest.nearest_edge(pts, edges, scaling, GridSpec(p["gsize"])).count()
        out.update(status="ok", rows=n)
    except Exception as e:
        msg = str(e)
        first = next((ln for ln in msg.splitlines() if "Exception" in ln), msg[:300])
        out.update(
            status="cancelled" if timer.finished.is_set() else "failed",
            error=type(e).__name__,
            message=first.strip()[:400],
            in_local_checkpoint="localCheckpoint" in msg,
            broadcast_oom="Not enough memory to build and broadcast" in msg,
        )
    finally:
        timer.cancel()
        out["seconds"] = time.perf_counter() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)
        edges.unpersist()
    run.say(f"probe nearest_edge fine grid: {out}")
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    try:
        import pyspark  # noqa: F401

        import rayjoin_spark  # noqa: F401
    except ImportError as e:
        print(f"spatialbench: cannot import the engine from {root}: {e}", file=sys.stderr)
        return 2
    from spatialbench.harness import Run
    from spatialbench.sparkenv import SparkEnv
    from spatialbench.workloads import WORKLOADS, Params

    if args.workload not in WORKLOADS:
        print(f"spatialbench: unknown workload {args.workload!r}; "
              f"one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("spatialbench: --seconds must be positive", file=sys.stderr)
        return 2

    params = Params.from_seed(args.seed)
    env = SparkEnv(os.path.join(os.getcwd(), SCRATCH_DIR))
    try:
        env.start()
        wl = WORKLOADS[args.workload](env.spark, params)
        run = Run(env, wl, args.seconds)
        metrics, extra = (traced if args.trace else untraced)(run)
        attempted, failed = run.counts()
        units = PER_LAYER if args.trace else END_TO_END
        missing = sorted(set(units) - set(metrics))
        if missing:
            raise RuntimeError(f"metrics not measured: {missing}")
        report = {
            "workload": wl.name,
            "seed": args.seed,
            "trace": args.trace,
            "params": params.__dict__,
            "sizes": wl.sizes,
            "gsize": wl.gsize,
            "gate_gsize": wl.alt_gsize,
            "session": {**env.sizing, "session_s": env.session_s},
            "load": "closed loop, one client, local[cpus]",
            "setup_s_samples": run.setup_times,
            "passes": run.passes,
            "gate": {k: [v[0], str(v[1])] for k, v in run.gate.items()},
            "gate_s": run.gate_s,
            "failed_frac": failed / max(attempted, 1),
            **extra,
        }
    finally:
        env.stop()
    result = {
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }
    print(json.dumps(report, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
