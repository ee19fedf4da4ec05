#!/usr/bin/env python
"""Benchmark harness: headline engine queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS] (default: the host's cores); prints ONE JSON line.

    python bench.py             # single run -> JSON line on stdout
    python bench.py --scaling   # N vs 4N cores (local[8] vs local[32]),
                                # writes BENCH.md with scaling efficiency

The two-parallelism run evidences BASELINE.json's north rule (throughput
scaling efficiency >= 0.8 between N and 4N executors) in-sandbox: same
input, same plans, two core counts.
"""

from __future__ import annotations

import json
import os
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
LATTICE_M = int(os.environ.get("SPARK_GRAFT_BENCH_M", "96"))


def _queries(spark, sf_dir):
    """name -> (build() -> DataFrame); each is forced with .count()."""
    from pyspark.sql import functions as F

    from rayjoin_spark.functions import textops
    from rayjoin_spark.operators import simsearch
    from rayjoin_spark.operators.knn import knn_points
    from rayjoin_spark.operators.lsi import lsi_join
    from rayjoin_spark.operators.pip import PipIndex, pip_locate
    from rayjoin_spark.operators.tiles import tile_aggregate
    from rayjoin_spark.plans.layers import build_edges
    from rayjoin_spark.plans.scaling import GridSpec, compute_scaling
    from rayjoin_spark.sources import derived
    from rayjoin_spark.sources.datagen import (
        lattice_chains,
        subdivide_fraction,
        transformed_lattice,
        uniform_points,
    )

    d = derived
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    # big synthetic lattice pair for the spatial-join headline; 5% of
    # chains are 4-segment polylines so the lead-window CSR edge build and
    # the overlay writer's multi-fragment splitting show up in timings
    ca, pa = lattice_chains(spark, LATTICE_M)
    cb, pb = transformed_lattice(spark, LATTICE_M)
    pa = subdivide_fraction(pa, s=4, every=20)
    pb = subdivide_fraction(pb, s=4, every=20)
    scaling = compute_scaling(pa, pb)
    ea = build_edges(ca, pa, scaling)
    eb = build_edges(cb, pb, scaling)
    keep = [ea, eb]  # shared setup state, re-pinned after each cleanup
    lat_pts = uniform_points(spark, 200_000, -0.5, LATTICE_M + 0.5, -0.5, LATTICE_M + 0.5)

    # PIP indexes built ONCE and reused across repeats — the reference's
    # own protocol (its logs report "Build Index" apart from the per-repeat
    # query time, BASELINE.md; warmup=5/repeat=5 re-query a built grid).
    # Build wall-times are reported separately in the JSON.
    index_build = {}

    def _build_index(name, edges, grid):
        t0 = time.time()
        ix = PipIndex(edges, grid)
        ix.edge_cells.count()
        ix.col_cells.count()
        index_build[name] = round(time.time() - t0, 3)
        keep.extend([ix.edge_cells, ix.col_cells])
        return ix

    def q_lsi_lattice():
        return lsi_join(ea, eb, GridSpec(256))

    # derived layers built once per suite: the long-edge stats bind to the
    # DataFrame object, so every repeat reuses them instead of paying two
    # stats jobs
    ea_d, eb_d = d.edges_a(spark, sf_dir), d.edges_b(spark, sf_dir)

    def q_lsi_derived():
        return lsi_join(ea_d, eb_d, d.DERIVED_GRID)

    idx_lat = _build_index("lattice_g256", ea, GridSpec(256))
    idx_der = _build_index("derived_g64", ea_d, d.DERIVED_GRID)

    def q_pip_lattice():
        return pip_locate(lat_pts, ea, scaling, GridSpec(256), index=idx_lat)

    def q_pip_derived():
        return pip_locate(
            d.query_points(spark, sf_dir), ea_d,
            d.DERIVED_SCALING, d.DERIVED_GRID, index=idx_der,
        )

    def q_knn():
        qs = d.query_points(spark, sf_dir, residue=2, mod=16)
        corpus = d.query_points(spark, sf_dir, residue=3, mod=4).select(
            F.col("point_id").alias("corpus_id"), "x", "y"
        )
        return knn_points(qs, corpus, d.DERIVED_SCALING, d.DERIVED_GRID, k=3)

    def q_nearest_edge():
        # map matching: 200k points -> nearest lattice segment, exact
        # limb-key argmin over cell-ring expansion (dense grid: most
        # points resolve in rings 0-2)
        from rayjoin_spark.operators.nearest import nearest_edge

        return nearest_edge(lat_pts, ea, scaling, GridSpec(256))

    def q_tiles():
        return tile_aggregate(
            d.query_points(spark, sf_dir, residue=3, mod=4),
            d.DERIVED_SCALING, d.DERIVED_GRID, shift=3,
        )

    def q_range_clip():
        # exact vector-tile cutting over the big lattice: 20k query boxes,
        # grid-pruned candidate join + integer-rational Liang-Barsky folds
        from rayjoin_spark.operators.clip import clip_segments
        from rayjoin_spark.operators.rangequery import snap_rects

        rects = snap_rects(
            lat_pts.filter(F.pmod("point_id", 10) == 0).select(
                F.col("point_id").alias("rect_id"),
                (F.col("x") - 0.4).alias("x1"),
                (F.col("y") - 0.4).alias("y1"),
                (F.col("x") + 0.4).alias("x2"),
                (F.col("y") + 0.4).alias("y2"),
            ),
            scaling,
        )
        return clip_segments(ea, rects, GridSpec(256))

    def q_minhash_lsh():
        sigs = textops.minhash_signatures(docs)
        return textops.neardup_candidates(textops.lsh_bands(sigs))

    def q_dedup():
        return textops.dedup_exact(docs)

    def q_winnow():
        # local fingerprinting (MOSS): array-codegen selection + distinct
        return textops.winnow_fingerprints(docs)

    def q_quality():
        return textops.quality_score(textops.token_count(docs))

    def q_adaptive():
        # loop-free quadtree leaf assignment (prefix rollup + bounded
        # explode join) over the derived points
        from rayjoin_spark.functions.cellcodes import adaptive_cells

        return adaptive_cells(
            d.query_points(spark, sf_dir), d.DERIVED_SCALING, d.DERIVED_GRID,
            cap=64, max_level=6,
        )

    def q_hll():
        # one combinable groupBy builds the registers; no distinct shuffle
        from rayjoin_spark.functions.sketches import hll_estimate, hll_sketch

        toks = docs.select(
            F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("term")
        ).filter(F.col("term") != "")
        return hll_estimate(hll_sketch(toks, "term"))

    def _ann_queries():
        return emb.filter(F.pmod(F.col("vec_id"), 100) == 0).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )

    def q_ann():
        return simsearch.topk_dot(emb, _ann_queries(), k=5)

    def q_ann_lsh():
        return simsearch.ann_lsh_topk(emb, _ann_queries(), k=5)

    def q_ann_ivf():
        return simsearch.ann_ivf_topk(emb, _ann_queries(), k=5)

    def q_neardup_emb_lsh():
        # the 100 TB path: banded sign-bucket candidates, no crossJoin
        return simsearch.neardup_cosine(emb, min_cosine=0.35, exhaustive=False)

    def q_semdedup():
        # kmeans + intra-cluster cosine pairs + CC + keeper pick
        return simsearch.semdedup(emb, k=8, iters=2, min_cosine=0.9)

    def q_geo_join():
        # geodesic within-250km join over microdegree lon/lat derived
        # from doc ids (lon-wrapped cells, haversine verify)
        from rayjoin_spark.operators.knn import geo_dist_join

        from __spark_entry__ import _geo_pts

        pts = _geo_pts(docs)
        q = pts.filter(F.pmod(F.col("doc_id"), 101) == 0)
        return geo_dist_join(q, pts, max_meters=250_000.0,
                             query_id="doc_id", corpus_id="doc_id")

    # big-grid pair at the reference's own operating point gsize=15000
    # (ref expr/env.sh:12). Its continental inputs have edges spanning only
    # a few cells at that grid; mirror the ratio by subdividing the lattice
    # (s=24 -> unit edges become ~6-cell sub-edges). pip_biggrid's index
    # (m=96: 1.46M edge-cell rows, 1.24M skip-map entries) is under
    # plans/cells.BROADCAST_ROWS, so both of its joins broadcast; its
    # stats bound (3.1M) is over the cap, so the first locate pays the one
    # exact-size job (PipIndex._sizes). The shuffled, sort-merge pinned
    # side of every index-side join is covered by
    # tests/test_broadcast_rule.py.
    mbig = int(os.environ.get("SPARK_GRAFT_BIGGRID_M", "96"))
    sbig = int(os.environ.get("SPARK_GRAFT_BIGGRID_SUBDIV", "24"))
    gbig = int(os.environ.get("SPARK_GRAFT_BIGGRID_GSIZE", "15000"))
    from rayjoin_spark.sources.datagen import subdivide_points

    cbg_a, pbg_a = lattice_chains(spark, mbig)
    cbg_b, pbg_b = transformed_lattice(spark, mbig)
    pbg_a = subdivide_points(pbg_a, sbig)
    pbg_b = subdivide_points(pbg_b, sbig)
    bg_scaling = compute_scaling(pbg_a, pbg_b)
    bg_ea = build_edges(cbg_a, pbg_a, bg_scaling)
    bg_eb = build_edges(cbg_b, pbg_b, bg_scaling)
    keep += [bg_ea, bg_eb]
    bg_pts = uniform_points(spark, 1_000_000, -0.5, mbig + 0.5, -0.5, mbig + 0.5)

    def q_lsi_biggrid():
        return lsi_join(bg_ea, bg_eb, GridSpec(gbig))

    idx_big = _build_index("biggrid_g%d" % gbig, bg_ea, GridSpec(gbig))

    def q_pip_biggrid():
        return pip_locate(bg_pts, bg_ea, bg_scaling, GridSpec(gbig), index=idx_big)

    # long-edge regime at the SAME fine grid: a coarse lattice whose unit
    # edges span ~800 cells at gsize 15000 — the round-3 crash shape
    # (quadratic bbox explode, then AQE broadcast-converting the exploded
    # side). Runs via the auto fragment pre-split + merge guard.
    mle = int(os.environ.get("SPARK_GRAFT_LONGEDGE_M", "16"))
    cle_a, ple_a = lattice_chains(spark, mle)
    cle_b, ple_b = transformed_lattice(spark, mle)
    le_scaling = compute_scaling(ple_a, ple_b)
    le_ea = build_edges(cle_a, ple_a, le_scaling)
    le_eb = build_edges(cle_b, ple_b, le_scaling)
    keep += [le_ea, le_eb]

    def q_lsi_longedge():
        return lsi_join(le_ea, le_eb, GridSpec(gbig))

    def biggrid_check():
        """Self-check mirroring the CLI --check contract: the grid is
        physical, so gsize 15000 (incl. the fragment-split long-edge row)
        and a coarse grid must produce IDENTICAL rows (count +
        order-independent value hash)."""

        def h(df):
            r = df.agg(
                F.count("*").alias("n"),
                # decimal accumulator: a bigint SUM of xxhash64 overflows
                F.sum(
                    F.xxhash64(*[F.col(c) for c in df.columns]).cast("decimal(38,0)")
                ).alias("h"),
            ).collect()[0]
            return r["n"], r["h"]

        lsi_ok = h(q_lsi_biggrid().select("eid_a", "eid_b")) == h(
            lsi_join(bg_ea, bg_eb, GridSpec(256)).select("eid_a", "eid_b")
        )
        pip_ok = h(q_pip_biggrid()) == h(
            pip_locate(bg_pts, bg_ea, bg_scaling, GridSpec(256))
        )
        le_ok = h(q_lsi_longedge().select("eid_a", "eid_b")) == h(
            lsi_join(le_ea, le_eb, GridSpec(64)).select("eid_a", "eid_b")
        )
        return {
            "gsize": gbig,
            "lsi_match": lsi_ok,
            "pip_match": pip_ok,
            "longedge_match": le_ok,
        }

    q_lsi_biggrid.check = biggrid_check

    def q_overlay():
        # composite overlay end-to-end on the bench lattice pair (per-phase
        # times: spatialbench/run.py --trace 1, overlay.*_s)
        from rayjoin_spark.operators.overlay import overlay

        oc, _ = overlay(ca, pa, cb, pb, scaling, GridSpec(256))
        return oc

    def q_overlay_biggrid():
        # fine-grid overlay smoke: same pipeline at gsize 8192, where the
        # bench lattice's ~84-cell edge spans force the fragment pre-split
        # inside BOTH the LSI and the PIP indexes (oracle parity at fine
        # grids is pinned by tests/test_overlay.py at test scale)
        from rayjoin_spark.operators.overlay import overlay

        oc, _ = overlay(ca, pa, cb, pb, scaling, GridSpec(8192))
        return oc

    def q_warc_ingest():
        # archive-seam throughput: pack every doc into CC-layout
        # .warc.gz blobs (64 groups) and parse them back — the
        # write+read cost of the corpus's on-disk interchange format
        from rayjoin_spark.sources import warc as warcmod

        pages = docs.select(
            F.pmod("doc_id", 64).cast("long").alias("warc_group"),
            F.concat(
                F.lit("https://site"),
                F.pmod("doc_id", 97).cast("string"),
                F.lit(".example/d/"),
                F.col("doc_id").cast("string"),
            ).alias("url"),
            (F.lit(1766016000) + F.col("doc_id")).cast("long").alias("ts_epoch"),
            F.encode("text", "UTF-8").alias("html"),
        )
        return warcmod.parse_warc_blobs(
            warcmod.pages_to_warc_blobs(pages, gzip_members=True)
        )

    def q_main_content():
        # boilerplate-removal throughput over synthetic pages
        from rayjoin_spark.functions import htmlops

        pages = docs.select(
            "doc_id",
            F.encode(
                F.concat(
                    F.lit(
                        "<html><body><div><a href='/'>Home</a> | "
                        "<a href='/a'>About</a></div><p>"
                    ),
                    F.coalesce("text", F.lit("")),
                    F.lit(
                        "</p><footer><a href='/t'>Terms</a></footer></body></html>"
                    ),
                ),
                "UTF-8",
            ).alias("html"),
        )
        return htmlops.extract_main_text(pages)

    return {
        "lsi_lattice": q_lsi_lattice,
        "lsi_derived": q_lsi_derived,
        "pip_lattice": q_pip_lattice,
        "pip_derived": q_pip_derived,
        "knn_cellring": q_knn,
        "nearest_edge": q_nearest_edge,
        "tile_counts": q_tiles,
        "range_clip": q_range_clip,
        "overlay_chains": q_overlay,
        "minhash_lsh": q_minhash_lsh,
        "dedup_exact": q_dedup,
        "winnow": q_winnow,
        "quality_tokens": q_quality,
        "adaptive_cells": q_adaptive,
        "hll_distinct": q_hll,
        "ann_topk": q_ann,
        "ann_lsh": q_ann_lsh,
        "ann_ivf": q_ann_ivf,
        "neardup_emb_lsh": q_neardup_emb_lsh,
        "semdedup": q_semdedup,
        "geo_join": q_geo_join,
        "warc_ingest": q_warc_ingest,
        "main_content": q_main_content,
        "lsi_biggrid": q_lsi_biggrid,
        "pip_biggrid": q_pip_biggrid,
        "lsi_longedge": q_lsi_longedge,
        "overlay_biggrid": q_overlay_biggrid,
    }, keep, index_build


def _scaling_queries(spark, only: str | None = None):
    """Compute-dominated workloads for the N-vs-4N scaling evidence.

    Deterministic synthetic inputs large enough that parallel compute
    (join candidate testing, hashing) dwarfs per-round scheduling floor —
    the regime the 100 TB design targets. No sf_dir dependence: same
    input at both parallelism levels by construction.
    """
    from pyspark.sql import functions as F

    from rayjoin_spark.functions import textops
    from rayjoin_spark.operators.lsi import lsi_join
    from rayjoin_spark.operators.pip import pip_locate
    from rayjoin_spark.plans.layers import build_edges
    from rayjoin_spark.plans.scaling import GridSpec, compute_scaling
    from rayjoin_spark.sources.datagen import (
        lattice_chains,
        synthetic_pages,
        transformed_lattice,
        uniform_points,
    )

    m = int(os.environ.get("SPARK_GRAFT_SCALING_M", "1536"))
    npts = int(os.environ.get("SPARK_GRAFT_SCALING_NPTS", "4000000"))
    need_lattice = only in (None, "lsi_big", "pip_big", "lsi_big_unsalted")
    if need_lattice:
        ca, pa = lattice_chains(spark, m)
        cb, pb = transformed_lattice(spark, m)
        scaling = compute_scaling(pa, pb)
        ea = build_edges(ca, pa, scaling).persist()
        eb = build_edges(cb, pb, scaling).persist()
        ea.count(), eb.count()
    pages = synthetic_pages(spark, 400_000).select(
        F.xxhash64("url").alias("doc_id"), "text"
    )

    gsize_big = int(os.environ.get("SPARK_GRAFT_SCALING_GSIZE", "64"))

    def q_lsi_big():
        # the skew-aware LSI plan over the lattice pair. The caller's gsize
        # 64 cells are ~m/64 lattice units wide, but the cell join refines
        # them (plans/cells.join_grid, up to 64x) to about one unit per
        # cell, a few edges per cell and side; no cell then reaches the
        # 1M-pair hot threshold, so the salted join runs the plain cell
        # join plus its per-cell workload agg (plans/skew.py hot_cells).
        # Explode, shuffle and the exact predicate do the work. Salting
        # still splits a cell into ceil(workload / 250k) 2-D buckets
        # (capped at 32) when a skewed layer pair stays hot at the join
        # grid.
        from rayjoin_spark.plans.skew import lsi_join_salted

        return lsi_join_salted(
            ea, eb, GridSpec(gsize_big), hot_threshold=1_000_000,
            n_salts=int(os.environ.get("SPARK_GRAFT_SALT_CAP", "32")),
            target_pairs=int(os.environ.get("SPARK_GRAFT_SALT_TARGET", "250000")),
        )

    def q_lsi_big_unsalted():
        # DIAGNOSIS row (context, not a workload row): the plain plan on
        # the same input; it shows what the hot-cell check costs when the
        # join grid leaves no cell hot
        return lsi_join(ea, eb, GridSpec(gsize_big))

    pip_seed = {"n": 0}

    def q_pip_big():
        # fresh point set per call (reference protocol: build the index
        # once, query it repeatedly with NEW queries — run_query.cu's
        # repeat loop). Same-seed repeats would produce byte-identical
        # plans, and pip_locate's internal persists are plan-canonicalized
        # — Spark would answer repeats from cache and the "measurement"
        # would be a cache scan (observed: T_N ~= T_4N ~= 10 s, eff 0.27).
        # Distinct seeds force the locate to recompute while the persisted
        # PipIndex edge-cells (seed-independent plan) stay cached, keeping
        # index build OUT of the timed window.
        pts = uniform_points(
            spark, npts, -0.5, m + 0.5, -0.5, m + 0.5, seed=pip_seed["n"]
        )
        pip_seed["n"] += 1
        return pip_locate(pts, ea, scaling, GridSpec(512))

    def q_minhash_big():
        return textops.minhash_signatures(pages)

    # keep list: the per-query cleanup clearCache()s and then re-pins
    # these, so a multi-query --suite-once run doesn't time later
    # queries with the edge build back inside the measured window
    return {
        "lsi_big": q_lsi_big,
        "pip_big": q_pip_big,
        "minhash_big": q_minhash_big,
        "lsi_big_unsalted": q_lsi_big_unsalted,
    }, ([ea, eb] if need_lattice else [])


def run_suite(
    cpus: int,
    sf_dir: str,
    scaling_suite: bool = False,
    warmup: bool = False,
    only: str | None = None,
) -> dict:
    from rayjoin_spark.session import get_spark

    # scaling suite: 4 waves of tasks per stage (inputs are 100x bigger,
    # straggler-robust at both core counts). Main suite: one wave — at
    # sf0.1 row counts the per-partition fixed cost (task scheduling +
    # shuffle file per bucket) dominates, and 128-bucket shuffles measure
    # ~4x slower than 32 for identical work; AQE still splits skewed
    # partitions when a cell is hot.
    fixed = os.environ.get("SPARK_GRAFT_SCALING_PARTITIONS")
    if scaling_suite:
        # fixed partition count at BOTH levels makes the two runs truly
        # "same plan, same tasks" (only the executor count differs — the
        # cluster-scaling analogy); default 4x the LARGER level, derived
        # from SPARK_GRAFT_SCALING_N so the N and 4N subprocesses agree
        # (a per-level 4*cpus would give the legs different task
        # decompositions and conflate core scaling with granularity)
        n_small = int(os.environ.get("SPARK_GRAFT_SCALING_N", "2"))
        shuffle = int(fixed) if fixed else 4 * (4 * n_small)
    else:
        shuffle = cpus
    spark = get_spark(f"bench_{cpus}", cpus=cpus, shuffle_partitions=shuffle)
    keep, index_build = [], {}
    if scaling_suite:
        qs, keep = _scaling_queries(spark, only)
    else:
        qs, keep, index_build = _queries(spark, sf_dir)
        for d_ in keep:
            d_.persist().count()
    if only:
        qs = {only: qs[only]}
    subset = os.environ.get("SPARK_GRAFT_MAIN_ONLY")
    if subset and not scaling_suite:
        want = [w.strip() for w in subset.split(",") if w.strip()]
        unknown = [k for k in want if k not in qs]
        if unknown:
            raise SystemExit(
                f"SPARK_GRAFT_MAIN_ONLY: unknown queries {unknown}; "
                f"valid names: {sorted(qs)}"
            )
        qs = {k: qs[k] for k in want}
    times, counts = {}, {}
    if scaling_suite:
        repeats = int(os.environ.get("SPARK_GRAFT_SCALING_REPEATS", "3")) if warmup else 1
    else:
        # main suite measures STEADY-STATE (the reference's built-grid
        # experiments re-query a built index): one unmeasured JIT/IO warm
        # pass, then min-of-N. overlay_chains stays single-shot — it is
        # suite-dominant and self-warms through its phase materialization.
        repeats = int(os.environ.get("SPARK_GRAFT_MAIN_REPEATS", "2"))
    cold_times = {}
    for name, build in qs.items():
        # force FULL computation: count() would let Catalyst prune value
        # columns (md5s, dots) out of aggregates; the noop sink cannot
        #
        # the two composite overlays are too expensive for an unmeasured
        # warm pass + min-of-N; instead they run exactly twice with NO
        # warm pass — the first (cold) time is reported separately as
        # {name}_cold_s, and min-of-2 is the row. Rationale: this host's
        # wall clock is contention-noisy for driver-bound composites
        # (same-code cold runs measured 35 s to 182 s in one batch), so a
        # single-shot row is a lottery; min-of-2 keeps the row comparable
        # while the _cold_s field preserves the honest first-run cost.
        overlay_like = (not scaling_suite) and name in (
            "overlay_chains",
            "overlay_biggrid",
        )
        n_rep = 2 if overlay_like else repeats
        if overlay_like:
            # measured A/B: the pinned gsize-15000 index blocks (needed by
            # the biggrid rows) cost the overlay WRITER ~2.7x even warm
            # (out_fragids 15.4 s vs 3.4 s) — the writer's localCheckpoint
            # blocks contend with pinned storage for unified memory. The
            # overlays rebuild their own state, so drop every pin first;
            # the post-query cleanup re-pins for the rows that need them.
            import gc as _gc

            spark.catalog.clearCache()
            _gc.collect()
            spark.sparkContext._jvm.System.gc()
        if warmup or (not scaling_suite and not overlay_like and n_rep > 1):
            build().write.format("noop").mode("overwrite").save()  # JIT warm
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        best = None
        n_rows = None
        for i in range(n_rep):
            obs = Observation()
            t0 = time.time()
            df = build()
            # row count observed on the SAME forced pass (a trailing
            # df.count() would re-execute every query one full extra,
            # untimed time — another 1M-point locate for pip_biggrid);
            # the observe node is attached in every repeat so all timed
            # plans stay identical
            df.observe(obs, F.count(F.lit(1)).alias("n")).write.format(
                "noop"
            ).mode("overwrite").save()
            dt = time.time() - t0
            n_rows = obs.get["n"]
            if overlay_like and i == 0:
                cold_times[f"{name}_cold_s"] = round(dt, 3)
            best = dt if best is None else min(best, dt)  # min-of-N: the
            # machine is shared; min is the least noise-contaminated sample
        times[name] = round(best, 3)
        counts[name] = n_rows
        # drop DataFrame caches + checkpointed RDDs the query left behind:
        # pinned blocks from one query otherwise evict/spill the next
        # query's shuffle working set and poison its timing
        import gc

        spark.catalog.clearCache()
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        for d_ in keep:  # re-pin shared setup state (outside timed window)
            d_.persist().count()
    out = {"times": times, "counts": counts, "total": round(sum(times.values()), 3)}
    out.update(cold_times)
    if index_build:
        out["pip_index_build"] = index_build
    check = getattr(qs.get("lsi_biggrid"), "check", None)
    if check is not None:
        out["biggrid_check"] = check()
    if "ann_topk" in qs:
        from rayjoin_spark.operators.simsearch import ann_recall

        exact = qs["ann_topk"]()
        for nm in ("ann_lsh", "ann_ivf"):
            if nm in qs:
                out[f"{nm}_recall"] = round(ann_recall(exact, qs[nm]()), 3)
    if (
        not scaling_suite
        and not subset
        and not only
        and os.environ.get("SPARK_GRAFT_SF1", "1") != "0"
    ):
        # a failed 10x block must not lose the suite computed above
        try:
            out["sf1_evidence"] = _sf1_evidence(spark)
        except Exception as e:  # noqa: BLE001 - recorded, not raised
            out["sf1_evidence"] = {"error": f"{type(e).__name__}: {e}"}
    spark.stop()
    return out


def _sf1_evidence(spark) -> dict:
    """One order of magnitude up (round-4 VERDICT #5): the four headline
    spatial queries on a 10x synthetic workload — lattice m=304 (~213k
    edges/side vs ~21k at the sf0.1 bench) and 2M query points (vs 200k)
    — with the SAME plans (no code fork) and the grid scaled ~sqrt(10)x
    (gsize 810 vs 256) so per-cell density, and therefore join shape, is
    held constant the way the reference scales gsize with input size.
    Single-shot timings (no warm pass): this is scale-shape evidence,
    not a tuned headline. Disable with SPARK_GRAFT_SF1=0."""
    from pyspark.sql import functions as F

    from rayjoin_spark.operators.lsi import lsi_join
    from rayjoin_spark.operators.nearest import nearest_edge
    from rayjoin_spark.operators.pip import pip_locate
    from rayjoin_spark.plans.layers import build_edges
    from rayjoin_spark.plans.scaling import GridSpec, compute_scaling
    from rayjoin_spark.operators.overlay import overlay
    from rayjoin_spark.sources.datagen import (
        lattice_chains,
        subdivide_fraction,
        transformed_lattice,
        uniform_points,
    )

    m = int(os.environ.get("SPARK_GRAFT_SF1_M", "304"))
    npts = int(os.environ.get("SPARK_GRAFT_SF1_NPTS", "2000000"))
    gsize = int(os.environ.get("SPARK_GRAFT_SF1_GSIZE", "810"))
    ca, pa = lattice_chains(spark, m)
    cb, pb = transformed_lattice(spark, m)
    pa = subdivide_fraction(pa, s=4, every=20)
    pb = subdivide_fraction(pb, s=4, every=20)
    scaling = compute_scaling(pa, pb)
    ea = build_edges(ca, pa, scaling)
    eb = build_edges(cb, pb, scaling)
    pts = uniform_points(spark, npts, -0.5, m + 0.5, -0.5, m + 0.5)
    g = GridSpec(gsize)
    res = {"m": m, "n_points": npts, "gsize": gsize}

    def one(name, build):
        t0 = time.time()
        n = build().count()
        res[name] = {"rows": n, "sec": round(time.time() - t0, 3)}

    one("lsi_sf1", lambda: lsi_join(ea, eb, g))
    one("pip_sf1", lambda: pip_locate(pts, ea, scaling, g))
    one("nearest_sf1", lambda: nearest_edge(pts, ea, scaling, g))

    def _knn():
        from rayjoin_spark.operators.knn import knn_points

        corpus = uniform_points(spark, npts // 8, -0.5, m + 0.5, -0.5, m + 0.5,
                                seed=1).select(
            F.col("point_id").alias("corpus_id"), "x", "y"
        )
        return knn_points(pts, corpus, scaling, g, k=3)

    one("knn_sf1", _knn)
    one("overlay_sf1", lambda: overlay(ca, pa, cb, pb, scaling, g)[0])
    return res


SCALING_QUERY_NAMES = ["lsi_big", "pip_big", "minhash_big", "lsi_big_unsalted"]
#: rows bound by the north rule (the diagnosis row is context)
BINDING_QUERY_NAMES = ["lsi_big", "pip_big", "minhash_big"]


def _one_in_subprocess(cpus: int, qname: str) -> dict:
    """One query, one FRESH process, JIT-warmed inside: sequential sessions
    in one JVM share JIT/page-cache state, which biases whichever level or
    query runs later."""
    import subprocess

    env = dict(os.environ, PYTHONPATH=os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--suite-once", str(cpus), qname],
        capture_output=True, text=True, env=env, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def _suite_in_subprocess(cpus: int) -> dict:
    times, counts = {}, {}
    for q in SCALING_QUERY_NAMES:
        r = _one_in_subprocess(cpus, q)
        times.update(r["times"])
        counts.update(r["counts"])
    return {"times": times, "counts": counts, "total": round(sum(times.values()), 3)}


#: markers around the part of BENCH.md that `--scaling` generates; the
#: hand-kept sections outside them are left as they are
SCALING_BEGIN = "<!-- bench.py --scaling: generated block, begin -->"
SCALING_END = "<!-- bench.py --scaling: generated block, end -->"


def _write_scaling_block(lines: list[str]) -> None:
    """Replace the generated block of BENCH.md with ``lines``; with no
    block yet, put it at the top and keep the rest of the file."""
    path = os.path.join(os.path.dirname(__file__) or ".", "BENCH.md")
    try:
        with open(path) as f:
            old = f.read()
    except FileNotFoundError:
        old = ""
    block = "\n".join([SCALING_BEGIN, *lines, SCALING_END])
    if SCALING_BEGIN in old and SCALING_END in old:
        head, rest = old.split(SCALING_BEGIN, 1)
        new = head + block + rest.split(SCALING_END, 1)[1]
    else:
        new = block + "\n\n" + old if old else block + "\n"
    with open(path, "w") as f:
        f.write(new)


def main():
    sf = SF_DIR.rstrip("/").split("sf")[-1]
    if "--suite-once" in sys.argv:
        i = sys.argv.index("--suite-once")
        cpus = int(sys.argv[i + 1])
        only = sys.argv[i + 2] if len(sys.argv) > i + 2 else None
        print(json.dumps(run_suite(cpus, SF_DIR, scaling_suite=True, warmup=True, only=only)))
        return
    if "--scaling" in sys.argv:
        n_small = int(os.environ.get("SPARK_GRAFT_SCALING_N", "2"))
        r_small = _suite_in_subprocess(n_small)
        r_big = _suite_in_subprocess(4 * n_small)
        eff = {
            k: round(r_small["times"][k] / r_big["times"][k] / 4.0, 3)
            for k in r_small["times"]
        }
        bind_small = sum(r_small["times"][k] for k in BINDING_QUERY_NAMES)
        bind_big = sum(r_big["times"][k] for k in BINDING_QUERY_NAMES)
        total_eff = round(bind_small / bind_big / 4.0, 3)
        reps = os.environ.get("SPARK_GRAFT_SCALING_REPEATS", "3")
        lines = [
            "# BENCH — N vs 4N parallelism (in-sandbox evidence for the north rule)",
            "",
            f"Workloads: deterministic synthetic, sized compute-dominated "
            f"(lattice LSI m={os.environ.get('SPARK_GRAFT_SCALING_M', '1536')}/"
            f"gsize={os.environ.get('SPARK_GRAFT_SCALING_GSIZE', '64')} — a coarse caller "
            f"grid the cell join refines (plans/cells.join_grid); PIP "
            f"{os.environ.get('SPARK_GRAFT_SCALING_NPTS', '4000000')} points; "
            f"400k-page MinHash); cores N={n_small} vs 4N={4 * n_small} "
            "(local mode, same machine, same plans, same input).",
            "",
            "Methodology: one OS process per (query, core-count) — sequential "
            "sessions share JVM JIT state; each process JIT-warms once then "
            f"takes the min of {reps} measurements on a host with "
            f"{os.cpu_count()} logical cores (a shared host has co-tenant "
            "noise; 4N should stay within its physical cores — the regime "
            "that transfers to N vs 4N executors).",
            "",
            "Scaling efficiency = T_N / (4 * T_4N); 1.0 = perfect linear. "
            "Throughput = output rows/sec (the north-rule metric: joined "
            "pairs/sec for the LSI row) at each parallelism.",
            "",
            "| query | rows | T_N (s) | T_4N (s) | rows/s @N | rows/s @4N | efficiency |",
            "|---|---|---|---|---|---|---|",
        ]
        def row(k):
            n_rows = r_small["counts"][k]
            return (
                f"| {k} | {n_rows} | {r_small['times'][k]} "
                f"| {r_big['times'][k]} "
                f"| {round(n_rows / r_small['times'][k])} "
                f"| {round(n_rows / r_big['times'][k])} "
                f"| {eff[k]} |"
            )

        for k in BINDING_QUERY_NAMES:
            lines.append(row(k))
        lines.append(
            f"| **total** | | {round(bind_small, 3)} | {round(bind_big, 3)} "
            f"| | | **{total_eff}** |"
        )
        lines += [
            "",
            "Per-query efficiencies on this shared host carry cross-leg "
            "co-tenant noise (repeated min-of-3 legs of the same query "
            "vary ~25% between hours, which can push one query's ratio "
            "above 1.0 and another's below 0.7 in the same table); the "
            "binding criterion is the **total** row, which aggregates "
            "the three workloads measured under the same conditions.",
        ]
        if "lsi_big_unsalted" in r_small["times"]:
            lines += [
                "",
                "## Diagnosis: salted vs plain LSI row",
                "",
                "The lsi_big row above runs the engine's skew-aware plan: the "
                "per-cell workload metrics table (plans/skew.py `hot_cells`, "
                "the analog of the reference's workload histograms, "
                "src/grid/uniform_grid.h:444-494) flags cells above 1M "
                "candidate pairs and splits each into ceil(workload/250k) "
                "2-D salt buckets (p x q factoring, capped at 32). "
                "plans/cells.join_grid refines the caller's grid to about one "
                "lattice unit per cell, no cell is hot, and both rows run the "
                "same cell join; the salted row also pays its hot-cell agg. "
                "Same output rows (parity-tested in "
                "tests/test_io_and_infra.py):",
                "",
                "| plan | T_N (s) | T_4N (s) | efficiency |",
                "|---|---|---|---|",
                f"| lsi_big (salted, binding row) | {r_small['times']['lsi_big']} "
                f"| {r_big['times']['lsi_big']} | {eff['lsi_big']} |",
                f"| lsi_big_unsalted (plain) | {r_small['times']['lsi_big_unsalted']} "
                f"| {r_big['times']['lsi_big_unsalted']} | {eff['lsi_big_unsalted']} |",
            ]
        lines += [
            "",
            "Context vs the reference (BASELINE.md; GPU RT-core numbers are "
            "context, not the bar — the binding target is the >=0.8 "
            "efficiency + row parity above): reference grid backend joins "
            "0.63M pairs/s on a single GPU at county×zipcode scale; this "
            "engine's CPU plans trade that constant for horizontal scaling "
            "and exactness (int64 predicates vs the reference's 'Roundoff "
            "error should not cause it, I hope' double compare).",
        ]
        _write_scaling_block(lines)
        print(json.dumps({"metric": "scaling_efficiency", "value": total_eff,
                          "unit": "ratio", "queries": r_big["times"], "sf": sf}))
        return

    r = run_suite(CPUS, SF_DIR)
    pairs_per_sec = (
        round(r["counts"]["lsi_lattice"] / r["times"]["lsi_lattice"])
        if r["times"].get("lsi_lattice") else None
    )
    print(json.dumps({
        "metric": "suite_seconds",
        "value": r["total"],
        "unit": "sec",
        "queries": r["times"],
        "sf": sf,
        "counts": r["counts"],
        "lsi_pairs_per_sec": pairs_per_sec,
        "ann_lsh_recall": r.get("ann_lsh_recall"),
        "ann_ivf_recall": r.get("ann_ivf_recall"),
        "overlay_chains_cold_s": r.get("overlay_chains_cold_s"),
        "overlay_biggrid_cold_s": r.get("overlay_biggrid_cold_s"),
        "biggrid_check": r.get("biggrid_check"),
        "pip_index_build": r.get("pip_index_build"),
        "sf1_evidence": r.get("sf1_evidence"),
        "cpus": CPUS,
        "methodology": "steady-state: warmed min-of-2 per query; "
                       "overlays min-of-2 with NO warm pass (first-run cost kept "
                       "as overlay_chains_cold_s / overlay_biggrid_cold_s; host "
                       "wall clock for driver-bound composites is contention-noisy"
                       " — same-code cold runs spanned 35-182 s in one batch); "
                       "PIP indexes built once (build times in pip_index_build), "
                       "mirroring the reference's build-then-repeat protocol; "
                       "sf1_evidence = the same four headline spatial plans "
                       "single-shot at 10x input (m=304, 2M points, gsize 810)",
    }))


if __name__ == "__main__":
    main()
