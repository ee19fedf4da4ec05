"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry runs the real rayjoin_spark engine operator on
geometry/text derived deterministically from the driver's parquet tables;
the matching ``oracle_sql()`` entry re-derives the same result in pure
DuckDB SQL (integer arithmetic + literal-constant snapping, so both
engines agree bit-for-bit). See rayjoin_spark/sources/derived.py.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rayjoin_spark.functions import textops
from rayjoin_spark.operators import simsearch
from rayjoin_spark.operators.knn import knn_points
from rayjoin_spark.operators.lsi import lsi_join
from rayjoin_spark.operators.pip import pip_locate
from rayjoin_spark.operators.tiles import (
    rasterize_layer,
    tile_aggregate,
    vectorize_raster,
)
from rayjoin_spark.plans import cells as cells_mod
from rayjoin_spark.sources import derived
from rayjoin_spark.sources.derived import (
    DERIVED_GRID,
    DERIVED_SCALING,
    EDGES_A_SQL,
    EDGES_B_SQL,
    points_sql,
)

# ------------------------------------------------------------------ engine


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def q_lsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    ea = derived.edges_a(spark, sf_dir)
    eb = derived.edges_b(spark, sf_dir)
    return lsi_join(ea, eb, DERIVED_GRID).select("eid_a", "eid_b")


def q_lsi_finegrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same LSI join at a 128x finer grid (gsize 8192): the derived edges
    span up to ~270 cells there, so candidate generation runs the
    long-edge fragment pre-split + (eid_a, eid_b) dedup path
    (plans/cells.py). Grid size is physical, not semantic — the oracle is
    byte-identical to lsi_join's."""
    from rayjoin_spark.plans.scaling import GridSpec

    ea = derived.edges_a(spark, sf_dir)
    eb = derived.edges_b(spark, sf_dir)
    return lsi_join(ea, eb, GridSpec(8192)).select("eid_a", "eid_b")


def q_pip_finegrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pip_locate at gsize 4096: the PipIndex explodes via fragments and
    (beyond its caps) exercises the sharded-skip-map/merge-guard paths;
    results are grid-invariant so the oracle is pip_locate's."""
    from rayjoin_spark.plans.scaling import GridSpec

    ea = derived.edges_a(spark, sf_dir)
    pts = derived.query_points(spark, sf_dir)
    out = pip_locate(pts, ea, DERIVED_SCALING, GridSpec(4096))
    return out.select(
        "point_id",
        "closest_eid",
        F.col("face_id").cast("bigint").alias("face_id"),
    )


def q_pip(spark: SparkSession, sf_dir: str) -> DataFrame:
    ea = derived.edges_a(spark, sf_dir)
    pts = derived.query_points(spark, sf_dir)
    out = pip_locate(pts, ea, DERIVED_SCALING, DERIVED_GRID)
    return out.select(
        "point_id",
        "closest_eid",
        F.col("face_id").cast("bigint").alias("face_id"),
    )


def q_grid_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    ea = derived.edges_a(spark, sf_dir)
    ec = cells_mod.explode_edges_to_cells(ea, DERIVED_GRID)
    return cells_mod.cell_counts(ec).select(
        F.col("cx").cast("bigint").alias("cx"),
        F.col("cy").cast("bigint").alias("cy"),
        F.col("ne").alias("n_edges"),
    )


def q_cell_workload(spark: SparkSession, sf_dir: str) -> DataFrame:
    ea = cells_mod.explode_edges_to_cells(derived.edges_a(spark, sf_dir), DERIVED_GRID)
    eb = cells_mod.explode_edges_to_cells(derived.edges_b(spark, sf_dir), DERIVED_GRID)
    w = cells_mod.cell_workload(ea, eb)
    # histogram bucketed by decimal digit count (portable integer log10)
    return (
        w.withColumn("bucket", F.length(F.col("workload").cast("string")))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_cells"),
            F.sum("workload").alias("total_workload"),
        )
        .select(F.col("bucket").cast("bigint").alias("bucket"), "n_cells", "total_workload")
    )


def q_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = derived.query_points(spark, sf_dir, residue=3, mod=4)
    t = tile_aggregate(pts, DERIVED_SCALING, DERIVED_GRID, shift=3)
    return t.select(
        F.col("tile_x").cast("bigint").alias("tile_x"),
        F.col("tile_y").cast("bigint").alias("tile_y"),
        "n_points",
    )


def q_raster_vectorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster <-> vector round trip (the north rule's tile-aggregation
    surface): rasterize the derived A layer (face id per tile center via
    the engine's own PIP), then vectorize — emit the boundary segments
    between tiles of differing face (east/north neighbor comparison,
    missing neighbor = exterior 0). Oracle re-derives the centers, the
    brute-force exact-key PIP, and the neighbor joins in pure SQL."""
    ea = derived.edges_a(spark, sf_dir)
    raster = rasterize_layer(ea, DERIVED_SCALING, DERIVED_GRID, shift=3)
    v = vectorize_raster(raster)
    return v.select(
        F.col("tile_x").cast("bigint").alias("tile_x"),
        F.col("tile_y").cast("bigint").alias("tile_y"),
        "orientation",
        F.col("face_a").cast("bigint").alias("face_a"),
        F.col("face_b").cast("bigint").alias("face_b"),
    )


def q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    qs = derived.query_points(spark, sf_dir, residue=2, mod=16)
    corpus = derived.query_points(spark, sf_dir, residue=3, mod=4).select(
        F.col("point_id").alias("corpus_id"), "x", "y"
    )
    out = knn_points(qs, corpus, DERIVED_SCALING, DERIVED_GRID, k=3)
    return out.select(
        "point_id", "corpus_id", "dist2", F.col("rank").cast("bigint").alias("rank")
    )


def q_dist_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-distance spatial join (radius 2^22 snapped units): bounded
    cell-neighborhood explode + one equi-join; exact int64 distances."""
    from rayjoin_spark.operators.knn import dist_join

    qs = derived.query_points(spark, sf_dir, residue=2, mod=16)
    corpus = derived.query_points(spark, sf_dir, residue=3, mod=4).select(
        F.col("point_id").alias("corpus_id"), "x", "y"
    )
    return dist_join(qs, corpus, DERIVED_SCALING, DERIVED_GRID, d_int=1 << 22).select(
        "point_id", "corpus_id", "dist2"
    )


def q_nearest_edge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-edge join (map matching): each query point -> the closest
    A-layer segment by EXACT point-to-segment squared distance (floor +
    118 fractional bits as decimal-limb long division; ties by eid).
    The third query over the reference's uniform grid after LSI
    (src/algo/lsi.h:27-103) and PIP (src/algo/pip.h:12-115): candidates
    from Chebyshev cell-ring expansion over the same edge-cell explode
    (src/grid/uniform_grid.h:63-83). Oracle: brute-force HUGEINT limb
    argmin over the full point x edge cross product."""
    from rayjoin_spark.operators.nearest import nearest_edge

    pts = derived.query_points(spark, sf_dir, residue=2, mod=16)
    ea = derived.edges_a(spark, sf_dir)
    return nearest_edge(pts, ea, DERIVED_SCALING, DERIVED_GRID).select(
        "point_id", "eid", "dist2"
    )


def q_convex_hull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group convex hull (two-level distributed reduction: partition-
    local monotone chain in mapInPandas, survivors re-hulled per group in
    applyInPandas; exact int64 cross products). The oracle is an
    INDEPENDENT characterization — Caratheodory membership: a point is a
    hull vertex iff it is in no nondegenerate closed triangle and on no
    segment of its peers."""
    from rayjoin_spark.operators.hull import convex_hull

    pts = derived.query_points(spark, sf_dir, residue=2, mod=16).select(
        F.pmod(F.col("point_id"), 96).alias("group_id"),
        DERIVED_SCALING.scale_x(F.col("x")).alias("x"),
        DERIVED_SCALING.scale_y(F.col("y")).alias("y"),
    )
    return convex_hull(pts).select("group_id", "x", "y")


def q_group_diameter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Farthest pair per group via the hull reduction (diameter endpoints
    are extreme points, so the two-level hull shrinks each group before
    the exact all-pairs max — the rotating-calipers workload). Oracle:
    brute-force max over ALL point pairs, same canonical tie-break."""
    from rayjoin_spark.operators.hull import group_diameter

    pts = derived.query_points(spark, sf_dir, residue=2, mod=16).select(
        F.pmod(F.col("point_id"), 96).alias("group_id"),
        DERIVED_SCALING.scale_x(F.col("x")).alias("x"),
        DERIVED_SCALING.scale_y(F.col("y")).alias("y"),
    )
    return group_diameter(pts).select("group_id", "x1", "y1", "x2", "y2", "dist2")


def q_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-quantized BM25 top-20 for a fixed term query (k1=1.2,
    b=0.75, ratio idf, denominators cleared by 20*L — no float ever
    compared; see functions/textops.bm25_rank). Distributed top-k via
    orderBy+limit, not a global window."""
    from rayjoin_spark.functions.textops import bm25_rank

    return bm25_rank(
        _docs(spark, sf_dir), ["spark", "join", "data", "window"], k=20
    )


def q_idw_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDW spatial interpolation (raster analytic): estimate at each
    query point from its 5 exact nearest samples with floor-quantized
    integer 1/d^2 weights — no float division in either engine; zero
    distance returns the sample value exactly."""
    from rayjoin_spark.operators.interp import idw_interpolate

    qs = derived.query_points(spark, sf_dir, residue=2, mod=16)
    corpus = derived.query_points(spark, sf_dir, residue=3, mod=4).select(
        F.col("point_id").alias("corpus_id"),
        "x",
        "y",
        F.pmod(F.col("point_id"), 1000).alias("v"),
    )
    return idw_interpolate(qs, corpus, DERIVED_SCALING, DERIVED_GRID, k=5).select(
        "point_id", "value_q", "n_neighbors"
    )


def q_face_within(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polygon-containment join (ST_Within decomposition on the engine's
    own primitives): rep-vertex PIP into layer A + LSI boundary-crossing
    poison, one left_anti join. Oracle independently re-derives the rep
    vertices, the brute-force exact-limb PIP, and the brute-force SoS
    LSI poison in SQL."""
    from rayjoin_spark.operators.faces import face_within

    return face_within(
        derived.edges_a(spark, sf_dir),
        derived.edges_b(spark, sf_dir),
        DERIVED_GRID,
    )


def q_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS link distance over the derived host graph
    (crawl depth from seed h0, capped at 8 hops). Oracle: DuckDB
    recursive CTE taking MIN(hops) per reached node."""
    from rayjoin_spark.operators import graph

    seeds = spark.createDataFrame([("h0",)], "node string")
    return graph.bfs_hops(_host_edges(spark, sf_dir), seeds, max_hops=8)


def q_sssp_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-weighted single-source shortest path (Bellman-Ford
    rounds, early exit on convergence) from seed h0 over the derived
    host graph; deterministic weights 1 + (3*src + 5*dst) % 7. Oracle:
    hop-bounded recursive CTE taking MIN(cost)."""
    from rayjoin_spark.operators import graph

    e = _host_edges(spark, sf_dir).select(
        "src",
        "dst",
        (
            1
            + F.pmod(
                3 * F.substring("src", 2, 10).cast("long")
                + 5 * F.substring("dst", 2, 10).cast("long"),
                7,
            )
        ).alias("w"),
    )
    seeds = spark.createDataFrame([("h0",)], "node string")
    return graph.sssp(e, seeds, max_rounds=12)


def q_tile_top_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tile top-3 hosts (geo x webtext composition): geocoded pages
    -> Web-Mercator tiles at zoom 5 -> per-(tile, host) counts -> skew-
    safe per-group rank (plans/ranking.grouped_index — no mega-group
    single-task window), ties count desc then host asc."""
    from rayjoin_spark.functions.cellcodes import web_mercator_tiles
    from rayjoin_spark.plans.ranking import grouped_index

    d = _docs(spark, sf_dir)
    pts = _geo_pts(d).withColumn(
        "host",
        F.concat(
            F.lit("site"), F.pmod("doc_id", 97).cast("string"), F.lit(".example")
        ),
    )
    t = web_mercator_tiles(pts, zoom=5)
    c = (
        t.groupBy("tx", "ty", "host")
        .agg(F.count("*").alias("n_pages"))
        .withColumn("neg_n", -F.col("n_pages"))
    )
    rk = grouped_index(c, ["tx", "ty"], ["neg_n", "host"], "rnk")
    return rk.filter(F.col("rnk") < 3).select(
        "tx", "ty", "host", "n_pages", F.col("rnk").cast("bigint").alias("rnk")
    )


def q_route_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-route geodesic length over the microdegree fixture (routes =
    doc_id % 97, sequenced by doc_id): haversine legs meter-rounded
    BEFORE the bigint sum, so the total is order-independent and
    engine-exact (geo_dist_join's determinism discipline)."""
    from rayjoin_spark.operators.knn import route_length

    pts = _geo_pts(_docs(spark, sf_dir)).select(
        F.pmod(F.col("doc_id"), 97).alias("route_id"),
        F.col("doc_id").alias("seq"),
        "lon_udeg",
        "lat_udeg",
    )
    return route_length(pts).select("route_id", "n_points", "length_m")


def q_od_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Origin-destination matrix: per trip (orders residue 2 mod 16),
    origin and destination points locate in layer A via TWO pip_locates
    sharing ONE PipIndex; flows aggregate per (face_o, face_d). The
    movement-analytics composition (same id, two coordinate pairs).
    Oracle: the exact-limb brute-force PIP chain twice (suffixed CTEs)
    + a join + groupBy."""
    from rayjoin_spark.operators.pip import PipIndex, pip_locate

    o_pts = derived.query_points(spark, sf_dir, residue=2, mod=16)
    d_pts = derived.query_points(spark, sf_dir, residue=2, mod=16, xm=28657, ym=14449)
    ea = derived.edges_a(spark, sf_dir)
    ix = PipIndex(ea, DERIVED_GRID)
    caches: list = []
    lo = pip_locate(
        o_pts, ea, DERIVED_SCALING, DERIVED_GRID, index=ix, caches=caches
    ).select("point_id", F.col("face_id").alias("face_o"))
    ld = pip_locate(
        d_pts, ea, DERIVED_SCALING, DERIVED_GRID, index=ix, caches=caches
    ).select("point_id", F.col("face_id").alias("face_d"))
    out = (
        lo.join(ld, "point_id")
        .groupBy("face_o", "face_d")
        .agg(F.count("*").alias("n_trips"))
        # eager cut: materialize the tiny flow table now so the locates'
        # internal persists (and the index) can be released immediately —
        # a 127-query gate session otherwise accumulates pinned frames
        # (the pip_locate docstring's eviction-churn warning)
        .localCheckpoint(eager=True)
    )
    for c in caches:
        c.unpersist()
    ix.unpersist()
    return out


def q_hotspot_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Getis-Ord-style hotspot flags over the tile-count raster:
    integer cross-multiplied 'local 3x3 mass vs uniform expectation'
    decision, no float z-score (operators/tiles.hotspot_tiles)."""
    from rayjoin_spark.operators.tiles import hotspot_tiles, tile_aggregate

    t = tile_aggregate(
        derived.query_points(spark, sf_dir, residue=3, mod=4),
        DERIVED_SCALING,
        DERIVED_GRID,
        shift=3,
    )
    return hotspot_tiles(t).select("tile_x", "tile_y", "n_points", "nbr_sum", "hot")


def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier (minimize x and y) over the snapped derived
    points — two-level reducible scan (operators/skyline.py). Oracle:
    the NOT EXISTS dominance definition, verbatim."""
    from rayjoin_spark.operators.skyline import skyline

    pts = derived.query_points(spark, sf_dir, residue=2, mod=4).select(
        DERIVED_SCALING.scale_x(F.col("x")).alias("x"),
        DERIVED_SCALING.scale_y(F.col("y")).alias("y"),
    )
    return skyline(pts).select("x", "y")


def q_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN density clustering composed from engine primitives:
    dist_join eps-neighborhoods + pointer-jumping CC over core pairs +
    deterministic MIN-label border assignment (operators/dbscan.py).
    Input: a deterministic CLUSTERED fixture (a density algorithm on a
    uniform or lattice fixture is degenerate — everything is noise or
    everything is core): 70% of docs scatter with +-1e6 jitter around
    20 hashed centers, 30% are uniform noise; integer arithmetic stated
    identically in the oracle. Cluster-mate distance <= 2.83e6 < eps
    3e6, so each populated center forms one clique component.
    Coordinates stay under 2^28, so Scaling.identity() snaps exactly.
    Oracle: brute-force neighborhoods + recursive-CTE reachability."""
    from rayjoin_spark.operators.dbscan import dbscan
    from rayjoin_spark.plans.scaling import Scaling

    i = F.col("doc_id")
    c = F.pmod(i, 20)
    member = F.pmod(i, 10) < 7
    cx = F.pmod(c * 2654435761, 300000001) - 150000000
    cy = F.pmod(c * 2246822519, 150000001) - 75000000
    pts = _docs(spark, sf_dir).select(
        i.alias("point_id"),
        F.when(member, cx + F.pmod(i * 48271, 2000001) - 1000000)
        .otherwise(F.pmod(i * 1103515245, 360000001) - 180000000)
        .cast("double")
        .alias("x"),
        F.when(member, cy + F.pmod(i * 69621, 2000001) - 1000000)
        .otherwise(F.pmod(i * 12345791, 170000001) - 85000000)
        .cast("double")
        .alias("y"),
    )
    return dbscan(
        pts, Scaling.identity(), DERIVED_GRID, eps_int=3_000_000, min_pts=4
    ).select("point_id", "cluster_id", "kind")


def q_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal statistics: integer point values (point_id % 1000) aggregated
    per containing face of the derived A layer via the engine's exact PIP;
    face 0 collects the outside so totals are conserved."""
    from rayjoin_spark.operators.faces import zonal_stats

    ea = derived.edges_a(spark, sf_dir)
    pts = derived.query_points(spark, sf_dir).withColumn(
        "value", F.pmod(F.col("point_id"), F.lit(1000))
    )
    return zonal_stats(pts, ea, DERIVED_SCALING, DERIVED_GRID).select(
        F.col("face_id").cast("bigint").alias("face_id"),
        "n_points",
        F.col("sum_val").cast("bigint").alias("sum_val"),
        F.col("min_val").cast("bigint").alias("min_val"),
        F.col("max_val").cast("bigint").alias("max_val"),
    )


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.token_count(_docs(spark, sf_dir)).select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("n_distinct_tokens").cast("bigint").alias("n_distinct_tokens"),
    )


def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.quality_score(_docs(spark, sf_dir)).select("doc_id", "quality")


def q_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.lang_id(_docs(spark, sf_dir)).select("doc_id", "lang_guess")


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.fingerprint(_docs(spark, sf_dir)).select("doc_id", "fingerprint")


def q_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.dedup_exact(_docs(spark, sf_dir)).select(
        "content_hash", "canonical_id", "n_dups"
    )


def q_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.minhash_signatures(_docs(spark, sf_dir)).select(
        "doc_id", F.col("j").cast("bigint").alias("j"), "minhash"
    )


def q_lsh_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = textops.minhash_signatures(_docs(spark, sf_dir))
    return textops.lsh_bands(sigs).select(
        "doc_id", F.col("band").cast("bigint").alias("band"), "band_key"
    )


def q_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    sigs = textops.minhash_signatures(docs)
    cands = textops.neardup_candidates(textops.lsh_bands(sigs))
    return textops.ngram_jaccard(docs, cands).select(
        "id_a", "id_b", "n_inter", "n_a", "n_b", "jaccard"
    )


def q_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-cluster assignment: LSH candidates -> exact Jaccard verify
    (integer threshold 2*n_inter >= union, i.e. J >= 0.5 with zero
    float-compare risk) -> distributed connected components (min-label
    propagation + pointer jumping) -> canonical doc per cluster. The
    full 'which rows do I keep' answer of a training-data dedup pass;
    oracle = DuckDB recursive-CTE transitive closure."""
    docs = _docs(spark, sf_dir)
    sigs = textops.minhash_signatures(docs)
    cands = textops.neardup_candidates(textops.lsh_bands(sigs))
    jac = textops.ngram_jaccard(docs, cands)
    verified = jac.filter(
        F.col("n_inter") * 2 >= F.col("n_a") + F.col("n_b") - F.col("n_inter")
    ).select("id_a", "id_b")
    return textops.neardup_components(docs, verified).select(
        "doc_id", "cluster_id", "cluster_size", "is_canonical"
    )


#: per-language keep fractions for the stratified-sampling driver query
#: (downsample dominant en, keep all zh — the usual rebalancing shape)
_STRATA_FRACTIONS = {"en": 0.25, "de": 0.5, "fr": 0.5, "es": 0.5, "zh": 1.0}


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language downsampling: md5-threshold Bernoulli
    keyed on doc_id — a pure codegen filter (no sampleBy), reproducible
    across engines, so the DuckDB oracle selects the identical rows."""
    return textops.sample_stratified(
        _docs(spark, sf_dir), _STRATA_FRACTIONS, strata_col="lang"
    ).select("doc_id", "lang", "source")


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (size 40, stride 30) — the
    pretraining-prep fan-out between cleaning and tokenization."""
    return textops.chunk_documents(
        _docs(spark, sf_dir), size=40, stride=30
    ).select("doc_id", "chunk_id", "chunk_text", "n_chunk_tokens")


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.simhash(_docs(spark, sf_dir)).select("doc_id", "simhash")


def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manku et al. (WWW 2007) simhash near-dup pairs: banded pigeonhole
    candidates (2 bands of 8 bits, lossless for hamming <= 1) + popcount
    verify — the classic web-scale near-dup join, exact by construction."""
    return textops.simhash_neardup(
        _docs(spark, sf_dir), max_hamming=1, n_bands=2
    ).select("id_a", "id_b", "hamming")


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 terms per document by integer-monotone tf-idf (keyword
    extraction; the score never compares floats, so the ranking is
    engine-exact)."""
    return textops.tfidf_topk(_docs(spark, sf_dir), k=5).select(
        "doc_id", "term", "tf", "score", "rank"
    )


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-document repetition: duplicate word-3-gram
    fraction per doc (exact counts + one IEEE division)."""
    return textops.repetition_ratio(_docs(spark, sf_dir), n=3).select(
        "doc_id", "total_ngrams", "distinct_ngrams", "rep_ratio"
    )


def q_shard_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic md5 export-shard assignment (32 shards) + per-shard
    balance stats — the pre-flight of a sharded training-data write."""
    return textops.shard_stats(_docs(spark, sf_dir), n_shards=32).select(
        F.col("shard").cast("bigint").alias("shard"),
        "n_docs",
        "total_size",
        "min_key",
        "max_key",
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic concat-then-split sequence packing (budget 256
    tokens, 16 md5 shards): every doc gets (shard, pack_id, offset)."""
    return textops.pack_sequences(_docs(spark, sf_dir), budget=256, n_shards=16).select(
        "doc_id",
        F.col("shard").cast("bigint").alias("shard"),
        "n_tokens",
        "start_off",
        "pack_id",
        "pack_off",
    )


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: word-3-gram overlap between the corpus
    and a deterministic held-out eval split (doc_id % 97 == 0); one row
    per contaminated (train, eval) pair. The eval gram table is
    broadcast — the corpus side is a single linear scan."""
    docs = _docs(spark, sf_dir)
    evalset = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    return textops.decontaminate(train, evalset, n=3).select(
        "doc_id", "eval_id", "n_shared_grams"
    )


def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over text with deterministically injected emails/IPv4s
    (the raw corpus has none): counts per class + fingerprint of the
    redacted text."""
    docs = _docs(spark, sf_dir).withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact u"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 10."),
            (F.col("doc_id") % 200).cast("string"),
            F.lit(".0.1"),
        ),
    )
    return textops.redact_pii(docs).select(
        "doc_id",
        "n_emails",
        "n_ips",
        F.md5(F.encode(F.col("redacted"), "UTF-8")).alias("red_fp"),
    )


def q_face_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-face polygon statistics (shoelace-by-incident-side) on
    the derived A layer: twice-signed-area, boundary edge count, and the
    exact squared-length perimeter proxy, all integer arithmetic."""
    from rayjoin_spark.operators.faces import face_stats

    return face_stats(derived.edges_a(spark, sf_dir)).select(
        F.col("face_id").cast("bigint").alias("face_id"),
        "area2",
        "n_edges",
        "perim2_sum",
    )


def q_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    qs = emb.filter(F.pmod(F.col("vec_id"), 100) == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return simsearch.topk_dot(emb, qs, k=5).select(
        "query_id", "corpus_id", "dot", F.col("rank").cast("bigint").alias("rank")
    )


def q_warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Archive ingest seam (sources/warc.py): pack documents into WARC
    blobs (half plain, half with the Common-Crawl record-per-gzip-member
    layout), then parse them back. Output == input proves the per-row
    byte-identical-text invariant survives the archive round trip; the
    oracle states the expected pages directly from `documents`."""
    from rayjoin_spark.sources import warc as warcmod

    d = _docs(spark, sf_dir)
    pages = d.select(
        F.pmod(F.col("doc_id"), 16).cast("long").alias("warc_group"),
        F.concat(
            F.lit("https://site"),
            F.pmod(F.col("doc_id"), 97).cast("string"),
            F.lit(".example/d/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        (F.lit(1766016000) + F.col("doc_id")).cast("long").alias("ts_epoch"),
        F.encode("text", "UTF-8").alias("html"),
    )
    plain = warcmod.pages_to_warc_blobs(pages.filter(F.col("warc_group") < 8))
    gz = warcmod.pages_to_warc_blobs(
        pages.filter(F.col("warc_group") >= 8), gzip_members=True
    )
    parsed = warcmod.parse_warc_blobs(plain.unionByName(gz))
    return parsed.select(
        "url", "ts_epoch", F.decode("html", "UTF-8").alias("text")
    )


def q_cdx_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Archive lookup index (sources/warc.cdx_index): pack documents
    into PLAIN WARC blobs (byte offsets are then pure string arithmetic
    an external engine can restate), index them, and return the full CDX
    row — SURT key, capture time, record byte span, payload sha256. The
    oracle rebuilds each record's exact byte length from the writer's
    deterministic template (placeholder md5/date strings of the right
    LENGTH) and window-sums spans into offsets; the gzip-member span
    variant is pinned by unit test (compressed lengths aren't SQL-
    computable)."""
    from rayjoin_spark.sources import warc as warcmod

    d = _docs(spark, sf_dir)
    pages = d.select(
        F.pmod(F.col("doc_id"), 16).cast("long").alias("warc_group"),
        F.concat(
            F.lit("https://site"),
            F.pmod(F.col("doc_id"), 97).cast("string"),
            F.lit(".example/d/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        (F.lit(1766016000) + F.col("doc_id")).cast("long").alias("ts_epoch"),
        F.encode("text", "UTF-8").alias("html"),
    )
    blobs = warcmod.pages_to_warc_blobs(pages)
    return warcmod.cdx_index(blobs).select(
        "surt",
        "ts_epoch",
        "url",
        "content_type",
        "offset",
        "rec_length",
        "digest_sha256",
    )


def q_wet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WET conversion-record seam (sources/warc.pages_to_wet_blobs):
    documents' text into WARC `conversion` records (half plain, half
    record-per-gzip-member), read back with keep_types=("conversion",).
    Text passthrough byte-identical; content_type pins the WET
    contract."""
    from rayjoin_spark.sources import warc as warcmod

    d = _docs(spark, sf_dir)
    pages = d.select(
        F.pmod(F.col("doc_id"), 16).cast("long").alias("warc_group"),
        F.concat(
            F.lit("https://site"),
            F.pmod(F.col("doc_id"), 97).cast("string"),
            F.lit(".example/d/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        (F.lit(1766016000) + F.col("doc_id")).cast("long").alias("ts_epoch"),
        F.col("text"),
    )
    plain = warcmod.pages_to_wet_blobs(pages.filter(F.col("warc_group") < 8))
    gz = warcmod.pages_to_wet_blobs(
        pages.filter(F.col("warc_group") >= 8), gzip_members=True
    )
    parsed = warcmod.parse_warc_blobs(
        plain.unionByName(gz), keep_types=("conversion",)
    )
    return parsed.select(
        "url",
        "ts_epoch",
        "content_type",
        F.decode("html", "UTF-8").alias("text"),
    )


def q_pages_geocode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents -> Common-Crawl-shaped pages, geocoded; byte-identical
    text passthrough is the checked invariant."""
    d = _docs(spark, sf_dir)
    mod = 1 << 32
    hx = F.pmod(F.col("doc_id") * 2654435761, mod)
    hy = F.pmod(F.col("doc_id") * 2246822519, mod)
    return d.select(
        F.concat(
            F.lit("https://site"),
            F.pmod(F.col("doc_id"), 97).cast("string"),
            F.lit(".example/d/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        (hx / F.lit(float(mod)) * F.lit(1021.0)).alias("x"),
        (hy / F.lit(float(mod)) * F.lit(1021.0)).alias("y"),
        F.col("text"),
    )


def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-derive `text` from raw html bytes (stdlib-parser extraction in
    an Arrow-batched mapInPandas, functions/htmlops.py). The html is
    built deterministically around the document text with head/script/
    style subtrees, comments, block tags and entity references; the
    oracle states the extraction contract's expected output directly —
    hash-equality proves tag stripping, subtree skipping, entity decode
    and whitespace normalization all at once."""
    from rayjoin_spark.functions import htmlops

    d = _docs(spark, sf_dir)
    html = F.concat(
        F.lit(
            "<html><head><title>skip me</title><script>var x=1;</script>"
            "<style>p{color:red}</style></head><body><h1>doc "
        ),
        F.col("doc_id").cast("string"),
        F.lit(" &amp; "),
        F.col("source"),
        F.lit("</h1><!-- dropped --><p>"),
        F.col("text"),
        F.lit("</p><div>&#169; &amp; &#8212; end</div></body></html>"),
    )
    pages = d.select("doc_id", F.encode(html, "UTF-8").alias("html"))
    return htmlops.extract_text(pages, "html", "extracted").select(
        "doc_id", "extracted"
    )


def q_structured_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-LD structured-data extraction (functions/htmlops.py
    extract_jsonld): ld+json script blocks counted, parsed, and their
    schema.org @type inventory emitted — pages deterministically carry
    one valid Article block (doc_id%3==0), a valid two-@type array plus
    a malformed block (==1), or none (==2); a plain <script> decoy is
    always present. Oracle states the contract's expected output."""
    from rayjoin_spark.functions import htmlops

    d = _docs(spark, sf_dir)
    m = F.pmod(F.col("doc_id"), 3)
    block_a = F.concat(
        F.lit('<script type="application/ld+json">{"@context":"https://schema.org",'
              '"@type":"Article","headline":"doc '),
        F.col("doc_id").cast("string"),
        F.lit('"}</script>'),
    )
    block_b = F.lit(
        '<script type="application/ld+json">[{"@type":"Product"},'
        '{"@type":"Offer"}]</script>'
        '<script type="application/ld+json">{oops</script>'
    )
    html = F.concat(
        F.lit("<html><head>"),
        F.when(m == 0, block_a).when(m == 1, block_b).otherwise(F.lit("")),
        F.lit("</head><body><p>"),
        F.col("text"),
        F.lit("</p><script>var x=1;</script></body></html>"),
    )
    pages = d.select("doc_id", F.encode(html, "UTF-8").alias("html"))
    return htmlops.extract_jsonld(pages)


def q_charset_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Charset sniffing over raw page bytes (functions/htmlops.py
    detect_charset): WHATWG-ordered precedence BOM > <meta charset> >
    strict-UTF-8 decodability > windows-1252 fallback. Payloads are
    built deterministically to hit every evidence branch by doc_id%6:
    utf-8/utf-16le/utf-16be BOMs, a meta charset declaration, plain
    ASCII (valid-utf8), and an invalid-UTF-8 byte (fallback). Oracle
    states the contract's expected output directly."""
    from rayjoin_spark.functions import htmlops

    d = _docs(spark, sf_dir)
    m = F.pmod(F.col("doc_id"), 6)
    body = F.encode(
        F.concat(
            F.lit("<html><body>doc "),
            F.col("doc_id").cast("string"),
            F.lit("</body></html>"),
        ),
        "UTF-8",
    )
    meta_page = F.encode(
        F.concat(
            F.lit('<html><head><meta charset="ISO-8859-1"></head><body>doc '),
            F.col("doc_id").cast("string"),
            F.lit("</body></html>"),
        ),
        "UTF-8",
    )
    bad_utf8 = F.concat(
        F.encode(F.lit("<html><body>caf"), "UTF-8"),
        F.lit(bytearray(b"\xe9")),
        F.encode(F.lit("</body></html>"), "UTF-8"),
    )
    html = (
        F.when(m == 0, F.concat(F.lit(bytearray(b"\xef\xbb\xbf")), body))
        .when(m == 1, F.concat(F.lit(bytearray(b"\xff\xfe")), body))
        .when(m == 2, F.concat(F.lit(bytearray(b"\xfe\xff")), body))
        .when(m == 3, meta_page)
        .when(m == 4, body)
        .otherwise(bad_utf8)
    )
    pages = d.select("doc_id", html.alias("html"))
    return htmlops.detect_charset(pages)


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact HyperLogLog (functions/sketches.hll_sketch /
    hll_estimate): per-source distinct-token cardinality from 1024
    md5-addressed registers — ONE combinable groupBy, duplicates
    absorbed map-side, no distinct shuffle — with the exact
    count_distinct riding along for comparison. Oracle rebuilds the
    identical registers and the HUGEINT integral-division estimate."""
    from rayjoin_spark.functions import sketches

    d = _docs(spark, sf_dir)
    toks = d.select(
        "source",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("term"),
    ).filter(F.col("term") != "")
    toks = toks.localCheckpoint(eager=True)  # reused by sketch + exact
    sk = sketches.hll_sketch(toks, "term", ("source",))
    est = sketches.hll_estimate(sk, ("source",))
    exact = toks.groupBy("source").agg(
        F.count_distinct("term").cast("bigint").alias("n_exact")
    )
    return est.join(exact, "source").select(
        "source", "v_empty", F.col("est_raw").cast("bigint").alias("est_raw"), "n_exact"
    )


def q_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition filters (functions/textops.gopher_repetition,
    Rae et al. 2021 table A1): duplicate line/paragraph (char) fractions
    and top-2/3/4-gram char fractions, all exact integer pairs + flags.
    Payloads branch by doc_id%4: plain, duplicated-line prefix,
    duplicated-paragraph suffix, and an n-gram spam flood. Oracle
    mirrors every unit split, tie-break, and cross-multiplied test."""
    from rayjoin_spark.functions import textops

    d = _docs(spark, sf_dir)
    m = F.pmod(F.col("doc_id"), 4)
    t = (
        F.when(m == 0, F.col("text"))
        .when(m == 1, F.concat(F.lit("dup dup dup\ndup dup dup\n"), F.col("text")))
        .when(m == 2, F.concat(F.col("text"), F.lit("\n\npara x\n\npara x")))
        .otherwise(
            F.concat(F.col("text"), F.lit(" "), F.repeat(F.lit("spam ham "), 30))
        )
    )
    return textops.gopher_repetition(d.select("doc_id", t.alias("text")))


def q_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter incremental dedup (functions/sketches.bloom_build /
    bloom_probe): a broadcast-sized bit table of the 'existing corpus'
    (doc_id%4 != 3) probed by every document's content md5. Emits both
    the bloom verdict (maybe_dup) and the exact membership (is_dup) so
    one-sidedness is visible in the gated output: maybe_dup >= is_dup
    row-wise, equality except hash collisions. Oracle rebuilds the
    identical md5-addressed filter in SQL."""
    from rayjoin_spark.functions import sketches

    d = _docs(spark, sf_dir)
    keyed = d.select("doc_id", F.md5(F.encode(F.col("text"), "UTF-8")).alias("key"))
    corpus = keyed.filter(F.pmod(F.col("doc_id"), 4) != 3).select("key")
    bloom = sketches.bloom_build(corpus, "key")
    probed = sketches.bloom_probe(keyed, bloom, "key")
    exact = corpus.distinct().withColumn("_in", F.lit(1))
    return (
        keyed.join(probed, "key")
        .join(exact, "key", "left")
        .select(
            "doc_id",
            F.col("maybe_present").cast("int").alias("maybe_dup"),
            F.coalesce(F.col("_in"), F.lit(0)).cast("int").alias("is_dup"),
        )
    )


def q_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UT1-style domain blocklist admission (functions/crawlops.
    blocklist_filter): suffix-hierarchy matching against a broadcast
    blocklist — listed domains block themselves AND all subdomains;
    urls carry userinfo + port to exercise host normalization. One in
    five pages sits on a subdomain of a listed domain (suffix path);
    the rest hit or miss exactly. Oracle mirrors the suffix explode and
    longest-rule pick."""
    from rayjoin_spark.functions import crawlops

    d = _docs(spark, sf_dir)
    host = F.when(
        F.pmod(F.col("doc_id"), 5) == 0, F.lit("deep.site13.example")
    ).otherwise(
        F.concat(
            F.lit("site"), F.pmod(F.col("doc_id"), 97).cast("string"),
            F.lit(".example"),
        )
    )
    pages = d.select(
        "doc_id",
        F.concat(
            F.lit("https://u:p@"), host, F.lit(":8080/d/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    bl = spark.createDataFrame(
        [("site13.example",), ("site29.example",), ("site31.example",)],
        "domain string",
    )
    return crawlops.blocklist_filter(pages, bl).select(
        "doc_id", "url", "host", "blocked", "matched_rule"
    )


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveWeb quality rules (functions/textops.gopher_rules,
    Rae et al. 2021 app. A1.1): integer-exact per-rule flags + verdict.
    Payloads branch by doc_id%5 to exercise every rule: plain text, a
    hash-symbol flood, bullet-led lines, ellipsis-ended lines, and an
    all-numeric de-alphabetized body. Oracle mirrors the identical
    integer cross-multiplied tests."""
    from rayjoin_spark.functions import textops

    d = _docs(spark, sf_dir)
    m = F.pmod(F.col("doc_id"), 5)
    t = (
        F.when(m == 0, F.col("text"))
        .when(m == 1, F.concat(F.col("text"), F.lit(" "), F.repeat(F.lit("# "), 40)))
        .when(m == 2, F.concat(F.lit("- a\n- b\n- c\n"), F.col("text")))
        .when(m == 3, F.concat(F.col("text"), F.lit("\nx...\ny...\nz...")))
        .otherwise(F.regexp_replace("text", "[A-Za-z]", "0"))
    )
    pages = d.select("doc_id", t.alias("text"))
    return textops.gopher_rules(pages, min_words=5)


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level duplicated-line removal (C4/CCNet rule): documents are
    re-lined into 4-token lines, lines appearing >= 2 times anywhere in
    the corpus are dropped, docs reassemble in order."""
    from rayjoin_spark.functions import htmlops

    d = _docs(spark, sf_dir)
    ml = d.select(
        "doc_id",
        F.regexp_replace("text", r"((\S+\s+){3}\S+)\s+", "$1\n").alias("text"),
    )
    return htmlops.dedup_lines(ml, "doc_id", "text", min_count=2)


def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dolma-style corpus-wide paragraph dedup: documents re-paragraphed
    into 8-token blocks separated by blank lines, paragraphs appearing
    >= 2 times anywhere in the corpus dropped, rejoined with a blank
    line (htmlops.dedup_paragraphs)."""
    from rayjoin_spark.functions import htmlops

    d = _docs(spark, sf_dir)
    mp = d.select(
        "doc_id",
        F.regexp_replace("text", r"((\S+\s+){7}\S+)\s+", "$1\n\n").alias("text"),
    )
    return htmlops.dedup_paragraphs(mp, "doc_id", "text", min_count=2).select(
        "doc_id",
        "clean_text",
        F.col("lines_kept").alias("paras_kept"),
        F.col("lines_dropped").alias("paras_dropped"),
    )


def _geo_pts(d: DataFrame) -> DataFrame:
    """Deterministic WGS84 microdegree lon/lat per document (Knuth-hash
    moduli) — the one fixture behind mercator_tiles / tile_bounds /
    geo_dist_join and bench.py's geo_join row; its THREE oracle SQL
    twins state the same arithmetic."""
    return d.select(
        "doc_id",
        (F.pmod(F.col("doc_id") * 2654435761, 360_000_001) - 180_000_000)
        .cast("bigint")
        .alias("lon_udeg"),
        (F.pmod(F.col("doc_id") * 2246822519, 170_000_001) - 85_000_000)
        .cast("bigint")
        .alias("lat_udeg"),
    )


def q_mercator_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-Mercator slippy tiles (OSM/XYZ) at zoom 11 over integer
    microdegree lon/lat derived from doc ids: exact-int64 tx, Mercator
    ty via the identical asinh-ln double formula on both engines, plus
    the Bing quadkey of the (tx, ty) tile."""
    from rayjoin_spark.functions.cellcodes import (
        interleave_bits,
        quadkey_str,
        web_mercator_tiles,
    )

    d = _docs(spark, sf_dir)
    pts = _geo_pts(d)
    t = web_mercator_tiles(pts, zoom=11)
    return t.select(
        "doc_id",
        "lon_udeg",
        "lat_udeg",
        "tx",
        "ty",
        quadkey_str(interleave_bits(F.col("tx"), F.col("ty"), 11), 11).alias("quadkey"),
    )


def q_tile_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geographic bboxes of the distinct zoom-11 tiles the corpus lands
    in (cellcodes.tile_bounds): exact integer microdegree lon edges,
    inverse-Mercator lat edges quantized to integer microdegrees (the
    exp/atan chain differs by ULPs between JVM and libm; rounding to
    1e-6 deg absorbs it)."""
    from rayjoin_spark.functions.cellcodes import tile_bounds, web_mercator_tiles

    d = _docs(spark, sf_dir)
    pts = _geo_pts(d).drop("doc_id")
    tiles = web_mercator_tiles(pts, zoom=11).select("tx", "ty").distinct()
    return tile_bounds(tiles, zoom=11).select(
        "tx", "ty", "lon_w_udeg", "lon_e_udeg", "lat_n_udeg", "lat_s_udeg"
    )


def q_geo_dist_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geodesic within-250km join over the microdegree lon/lat fixture
    (operators/knn.geo_dist_join): conservative equirectangular-cell
    candidates (lon wrap, worst-latitude ring sizing) + meter-quantized
    haversine verify. Oracle = BRUTE-FORCE all-pairs haversine — an
    independent check of the ring logic, not an echo of it."""
    from rayjoin_spark.operators.knn import geo_dist_join

    d = _docs(spark, sf_dir)
    pts = _geo_pts(d)
    q = pts.filter(F.pmod(F.col("doc_id"), 101) == 0)
    return geo_dist_join(
        q, pts, max_meters=250_000.0, query_id="doc_id", corpus_id="doc_id"
    ).toDF("point_id", "corpus_id", "dist_m")


def q_host_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host crawl statistics over the derived pages table: JVM-regex
    URL decomposition + one algebraic groupBy (functions/htmlops.py)."""
    from rayjoin_spark.functions import htmlops

    d = _docs(spark, sf_dir)
    pages = d.select(
        F.concat(
            F.lit("https://site"),
            F.pmod(F.col("doc_id"), 97).cast("string"),
            F.lit(".example/d/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        "text",
        "lang",
    )
    return htmlops.host_stats(pages).select(
        "host", "n_pages", "n_langs", "text_chars", "avg_path_depth"
    )


def q_anchor_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real link-graph extraction (functions/htmlops.py extract_links):
    every <a href> in the page bytes becomes an edge row, relative hrefs
    resolved against the page url, skipped subtrees contribute nothing.
    The oracle states the two expected links per page directly."""
    from rayjoin_spark.functions import htmlops

    d = _docs(spark, sf_dir)
    k = F.pmod(F.col("doc_id"), 97).cast("string")
    url = F.concat(
        F.lit("https://site"), k, F.lit(".example/d/"), F.col("doc_id").cast("string")
    )
    nxt = (F.col("doc_id") + 1).cast("string")
    html = F.concat(
        F.lit('<html><body><p><a href="/d/'),
        nxt,
        F.lit('">next  '),
        nxt,
        F.lit('</a></p><a href="https://site'),
        F.pmod(F.col("doc_id") + 1, 97).cast("string"),
        F.lit('.example/d/'),
        F.col("doc_id").cast("string"),
        F.lit('">cross</a><script><a href="/skipped">x</a></script></body></html>'),
    )
    pages = d.select(url.alias("url"), F.encode(html, "UTF-8").alias("html"))
    return htmlops.extract_links(pages).select("url", "href", "anchor")


def q_anchor_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text corpus (htmlops.anchor_text_agg over real extracted
    links): every page links its host hub (anchor 'home' for doc_id%3==0
    else 'Site k' — so hubs aggregate ~n/97 inbound links with two
    competing anchor texts) plus a next-doc link. Oracle restates the
    link set and replays the count/rank/top-k aggregation."""
    from rayjoin_spark.functions import htmlops

    d = _docs(spark, sf_dir)
    k = F.pmod(F.col("doc_id"), 97).cast("string")
    url = F.concat(
        F.lit("https://site"), k, F.lit(".example/d/"), F.col("doc_id").cast("string")
    )
    nxt = (F.col("doc_id") + 1).cast("string")
    html = F.concat(
        F.lit('<html><body><nav><a href="https://site'),
        k,
        F.lit('.example/">'),
        F.when(F.pmod("doc_id", 3) == 0, F.lit("home")).otherwise(
            F.concat(F.lit("Site "), k)
        ),
        F.lit('</a></nav><p><a href="/d/'),
        nxt,
        F.lit('">next</a></p></body></html>'),
    )
    pages = d.select(url.alias("url"), F.encode(html, "UTF-8").alias("html"))
    links = htmlops.extract_links(pages)
    return htmlops.anchor_text_agg(links, top_k=2).select(
        "href", "n_links", "n_distinct_anchors", "top_anchors"
    )


def q_simplify_dp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Douglas–Peucker simplification (operators/simplify.py) over
    deterministic wiggly chains derived from doc_id. DP is recursive —
    one of the contract's genuinely non-SQL-expressible ops, so this
    entry has no oracle_sql twin (driver records the rows-only check);
    exactness is pinned by tests/test_simplify.py against an independent
    arbitrary-precision recursive implementation."""
    from rayjoin_spark.operators.simplify import simplify_chains

    d = _docs(spark, sf_dir)
    pts = d.select(
        F.pmod(F.col("doc_id"), 20).alias("chain_id"),
        (F.col("doc_id") / 20).cast("int").alias("seq"),
        (F.col("doc_id") / 20).cast("long").alias("x"),
        (
            F.when(
                F.pmod(F.col("doc_id"), 9) == 0, F.lit(0)
            ).otherwise(F.pmod(F.col("doc_id") * F.col("doc_id") * 31, 11) - 5)
        ).cast("long").alias("y"),
    )
    return simplify_chains(pts, eps2=4).select(
        "chain_id", "seq", "new_seq", "x", "y"
    )


def q_fetch_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness scheduling: per-host fetch slots (plans/ranking.py
    grouped_index — the skew-safe per-group dense rank; a plain
    partitioned row_number would ship a mega-host through one task) ×
    each host's OWN Crawl-delay parsed from its robots.txt
    (crawlops.crawl_delays; 1+k%5 seconds by construction, broadcast
    into the slot table). Oracle: row_number window × the same delay
    arithmetic."""
    from rayjoin_spark.functions import crawlops, htmlops
    from rayjoin_spark.plans.ranking import grouped_index

    hosts = spark.range(97).select(
        F.concat(F.lit("site"), F.col("id").cast("string"), F.lit(".example")).alias(
            "host"
        ),
        F.concat(
            F.lit("User-agent: *\nDisallow: /private/\nCrawl-delay: "),
            (1 + F.pmod("id", 5)).cast("string"),
            F.lit("\n"),
        ).alias("robots_txt"),
    )
    delays = crawlops.crawl_delays(hosts).filter(F.col("agent") == "*").select(
        "host", "delay_ms"
    )
    d = _docs(spark, sf_dir)
    urls = d.select(
        F.concat(
            F.lit("https://site"),
            F.pmod(F.col("doc_id"), 97).cast("string"),
            F.lit(".example/d/"),
            F.col("doc_id").cast("string"),
        ).alias("url")
    )
    u = htmlops.url_parts(urls).select("url", "host")
    s = grouped_index(u, ["host"], ["url"], "slot")
    return s.join(F.broadcast(delays), "host", "left").select(
        "url",
        "host",
        F.col("slot").cast("bigint").alias("slot"),
        (F.col("slot") * F.coalesce(F.col("delay_ms"), F.lit(1000)))
        .cast("bigint")
        .alias("fetch_offset_ms"),
    )


def q_tile_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full quadtree tile pyramid, zooms 0..6, in one bounded explode +
    one combinable groupBy (operators/tiles.py tile_pyramid) — not a
    shuffle per level. Oracle: generate_series cross join + shifts."""
    from rayjoin_spark.operators.tiles import tile_pyramid

    pts = derived.query_points(spark, sf_dir, residue=3, mod=4)
    t = tile_pyramid(pts, DERIVED_SCALING, DERIVED_GRID, max_zoom=6)
    return t.select(
        F.col("zoom").cast("int").alias("zoom"),
        F.col("tile_x").cast("bigint").alias("tile_x"),
        F.col("tile_y").cast("bigint").alias("tile_y"),
        "n_points",
    )


def q_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-politeness admission (functions/crawlops.py): parse
    deterministic robots.txt bodies (every-host '*' group; every third
    host also a GraftBot-specific group that overrides it) and evaluate
    five path shapes per document url, agent 'graftbot'. Exercises
    section assignment, agent-specificity fallback, longest-prefix and
    allow-beats-disallow tie-breaks, comment stripping, and
    case-insensitive agent match. Oracle states the REP contract's
    expected verdicts directly."""
    from rayjoin_spark.functions import crawlops

    hosts = spark.range(97).select(
        F.concat(F.lit("site"), F.col("id").cast("string"), F.lit(".example")).alias(
            "host"
        ),
        F.concat(
            F.lit("User-agent: *\nDisallow: /private/\nAllow: /private/ok\n# c\n"),
            F.when(
                F.pmod("id", 3) == 0,
                F.lit("\nUser-agent: GraftBot\nDisallow: /d/\nAllow: /d/open\n"),
            ).otherwise(F.lit("")),
        ).alias("robots_txt"),
    )
    rules = crawlops.parse_robots(hosts)
    d = _docs(spark, sf_dir)
    k = F.pmod(F.col("doc_id"), 97).cast("string")
    i = F.col("doc_id")
    path = (
        F.when(F.pmod(i, 5) == 0, F.concat(F.lit("/d/"), i.cast("string")))
        .when(F.pmod(i, 5) == 1, F.concat(F.lit("/private/x"), i.cast("string")))
        .when(F.pmod(i, 5) == 2, F.concat(F.lit("/private/ok"), i.cast("string")))
        .when(F.pmod(i, 5) == 3, F.lit("/"))
        .otherwise(F.concat(F.lit("/d/open"), i.cast("string")))
    )
    urls = d.select(
        F.concat(F.lit("https://site"), k, F.lit(".example"), path).alias("url")
    )
    return crawlops.robots_allowed(
        urls, rules, agent="graftbot", broadcast_rules=True
    ).select("url", "robots_ok")


def q_corpus_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus card: the per-(lang, source) summary a dataset release
    ships — document count, total/min/max chars, distinct-content count
    (exact dup rate falls out). One combinable groupBy; every aggregate
    is integer. Oracle: the same GROUP BY."""
    d = _docs(spark, sf_dir)
    return d.groupBy("lang", "source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.length("text")).cast("bigint").alias("total_chars"),
        F.min(F.length("text")).cast("bigint").alias("min_chars"),
        F.max(F.length("text")).cast("bigint").alias("max_chars"),
        F.count_distinct(F.md5(F.encode("text", "UTF-8")))
        .cast("bigint")
        .alias("n_distinct"),
    )


def q_c4_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C4 cleaning stage (textops.c4_filter): pages are built with a
    nav line (no terminal punctuation), the document text as a
    terminated content line, a too-short line, a javascript notice, and
    conditional lines exercising every rule — the "All rights reserved."
    keeper (doc_id%4==0), the lorem-ipsum document drop (%5==0) and the
    curly-brace code drop (%7==0). Oracle states the contract's expected
    counts/verdict/reassembly directly."""
    d = _docs(spark, sf_dir)
    i = F.col("doc_id")
    page = F.concat_ws(
        "\n",
        F.lit("Home | About | Contact"),
        F.concat(F.coalesce(F.col("text"), F.lit("")), F.lit(".")),
        F.lit("click here"),
        F.lit("Please enable javascript to continue."),
        F.when(F.pmod(i, 4) == 0, F.lit("All rights reserved.")),
        F.when(F.pmod(i, 5) == 0, F.lit("lorem ipsum dolor sit amet.")),
        F.when(F.pmod(i, 7) == 0, F.lit("var f = function() { return 1; }")),
    )
    pages = d.select("doc_id", page.alias("text"))
    return textops.c4_filter(pages).select(
        "doc_id", "n_lines", "n_kept", "keep", "kept_text"
    )


def q_sitemap_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap discovery (crawlops.parse_sitemap): per document a
    pretty-printed <urlset> with an entity-escaped loc + lastmod +
    priority entry, a whitespace-padded minimal entry, and (doc_id%3==0)
    a third entry with priority only — exercising multi-line blocks,
    trimming, entity decode, optional fields and the seq order. Oracle
    states the expected (seq, loc, lastmod, priority) rows directly."""
    from rayjoin_spark.functions import crawlops

    d = _docs(spark, sf_dir)
    i = F.col("doc_id")
    k = F.pmod(i, 97).cast("string")
    istr = i.cast("string")
    day = (F.lit(10) + F.pmod(i, 19)).cast("string")
    xml = F.concat(
        F.lit(
            '<?xml version="1.0" encoding="UTF-8"?>\n'
            '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">\n'
            "  <url>\n    <loc>https://site"
        ),
        k,
        F.lit(".example/p/"),
        istr,
        F.lit("?a=1&amp;b=2</loc>\n    <lastmod>2024-03-"),
        day,
        F.lit(
            "</lastmod>\n    <priority>0.8</priority>\n  </url>\n"
            "  <url><loc> https://site"
        ),
        k,
        F.lit(".example/q/"),
        istr,
        F.lit(" </loc></url>\n"),
        F.when(
            F.pmod(i, 3) == 0,
            F.concat(
                F.lit("  <url>\n    <loc>https://site"),
                k,
                F.lit(".example/r/"),
                istr,
                F.lit("</loc>\n    <priority>0.5</priority>\n  </url>\n"),
            ),
        ).otherwise(F.lit("")),
        F.lit("</urlset>\n"),
    )
    sm = d.select("doc_id", xml.alias("sitemap_xml"))
    return crawlops.parse_sitemap(sm).select(
        "doc_id", "seq", "loc", "lastmod", "priority"
    )


def q_crawl_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end frontier build — the full discovery stack composed:
    parse_sitemap (one plain loc, one messy loc exercising
    canonicalize_url: uppercase scheme/host, default :443 port,
    fragment, padding; doc_id%3==0 adds a robots-blocked /r/ loc) ->
    canonicalize_url -> robots_allowed (every host disallows /r/;
    'graftbot' falls back to the '*' group) -> anti-join against the
    already-crawled set (even ids' /p/ urls). What survives is exactly
    the fetch list: /p/ for odd ids plus /q/ for all ids. Oracle states
    that expected set directly."""
    from rayjoin_spark.functions import crawlops, htmlops

    d = _docs(spark, sf_dir)
    i = F.col("doc_id")
    k = F.pmod(i, 97).cast("string")
    istr = i.cast("string")
    xml = F.concat(
        F.lit("<urlset>\n  <url><loc>https://site"),
        k,
        F.lit(".example/p/"),
        istr,
        F.lit("</loc></url>\n  <url><loc> HTTPS://SITE"),
        k,
        F.lit(".EXAMPLE:443/q/"),
        istr,
        F.lit("#frag </loc></url>\n"),
        F.when(
            F.pmod(i, 3) == 0,
            F.concat(
                F.lit("  <url><loc>https://site"),
                k,
                F.lit(".example/r/"),
                istr,
                F.lit("</loc></url>\n"),
            ),
        ).otherwise(F.lit("")),
        F.lit("</urlset>"),
    )
    sm = d.select("doc_id", xml.alias("sitemap_xml"))
    locs = crawlops.parse_sitemap(sm).select("doc_id", "loc")
    canon = htmlops.canonicalize_url(locs, url="loc", out="url").select(
        "doc_id", "url"
    )
    hosts = spark.range(97).select(
        F.concat(F.lit("site"), F.col("id").cast("string"), F.lit(".example")).alias(
            "host"
        ),
        F.lit("User-agent: *\nDisallow: /r/\n").alias("robots_txt"),
    )
    rules = crawlops.parse_robots(hosts)
    admitted = (
        crawlops.robots_allowed(canon, rules, agent="graftbot", broadcast_rules=True)
        .filter("robots_ok")
        .select("doc_id", "url")
    )
    crawled = d.filter(F.pmod(i, 2) == 0).select(
        F.concat(F.lit("https://site"), k, F.lit(".example/p/"), istr).alias("url")
    )
    return admitted.join(crawled, "url", "left_anti").select("doc_id", "url")


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-corpus dedup (textops.dedup_against): documents split
    into an existing corpus (doc_id % 3 != 0) and a new batch (% 3 == 0);
    keep batch rows whose text content is absent from the corpus.
    Oracle: NOT EXISTS on the text itself."""
    d = _docs(spark, sf_dir)
    ref = d.filter(F.pmod(F.col("doc_id"), 3) != 0)
    new = d.filter(F.pmod(F.col("doc_id"), 3) == 0)
    return textops.dedup_against(new, ref).select("doc_id", "text")


def q_robots_sitemaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap discovery FROM robots.txt (crawlops.robots_sitemaps): the
    ``Sitemap:`` directive is global (not section-scoped), so every host
    yields its sitemap regardless of the surrounding User-agent groups.
    Exercises mixed-case directive + host, comment stripping, leading
    whitespace, duplicate collapse, and the every-third-host extra
    news sitemap. Oracle states the expected (host, url) set."""
    from rayjoin_spark.functions import crawlops

    idstr = F.col("id").cast("string")
    hosts = spark.range(97).select(
        F.concat(F.lit("Site"), idstr, F.lit(".EXAMPLE")).alias("host"),
        F.concat(
            F.lit("User-agent: *\nDisallow: /private/\nSitemap: https://site"),
            idstr,
            F.lit(".example/sitemap.xml\n  sitemap: https://site"),
            idstr,
            F.lit(".example/sitemap.xml  # dup, stripped comment\n"),
            F.when(
                F.pmod("id", 3) == 0,
                F.concat(
                    F.lit("SITEMAP: https://site"),
                    idstr,
                    F.lit(".example/news.xml\n"),
                ),
            ).otherwise(F.lit("")),
            F.lit("User-agent: GraftBot\nDisallow: /d/\n"),
        ).alias("robots_txt"),
    )
    return crawlops.robots_sitemaps(hosts).select("host", "sitemap_url")


def q_recrawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-rate revisit scheduling (crawlops.recrawl_schedule):
    documents become 2-5 captures each with deterministic timestamps and
    a fingerprint that flips at known steps; the estimator's outputs are
    integer-exact (no log/double), so the oracle mirrors the window +
    aggregation with DuckDB's // on the same non-negative bigints."""
    from rayjoin_spark.functions import crawlops

    d = _docs(spark, sf_dir)
    i = F.col("doc_id")
    caps = d.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.pmod(i, 4) + 1)).alias("k"),
    )
    k = F.col("k")
    hist = caps.select(
        F.concat(
            F.lit("https://site"),
            F.pmod("doc_id", 97).cast("string"),
            F.lit(".example/d/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        (F.lit(1766016000) + k * (F.lit(3600) + F.pmod("doc_id", 7)))
        .cast("long")
        .alias("ts_epoch"),
        F.pmod(F.col("doc_id") + k * k, 7).cast("string").alias("fingerprint"),
    )
    return crawlops.recrawl_schedule(hist).select(
        "url",
        "n_caps",
        "n_changes",
        "span_s",
        "change_ppm",
        "revisit_s",
        "next_due_epoch",
    )


def q_crawl_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder fetch-budget allocation
    (crawlops.allocate_budget): per-host demand derived from the
    documents' host distribution (count x a 1-7 weight), global budget
    1000. Integer-exact Hamilton apportionment — the oracle replays the
    same floor + top-R-remainder arithmetic with a row_number window."""
    from rayjoin_spark.functions import crawlops

    d = _docs(spark, sf_dir)
    hosts = (
        d.groupBy(F.pmod("doc_id", 97).alias("k"))
        .agg(F.count("*").alias("n"))
        .select(
            F.concat(
                F.lit("site"), F.col("k").cast("string"), F.lit(".example")
            ).alias("host"),
            (F.col("n") * (F.pmod("k", 7) + 1)).cast("bigint").alias("demand"),
        )
    )
    return crawlops.allocate_budget(hosts, budget=1000).select(
        "host", "demand", "quota"
    )


def q_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode/whitespace normalization (textops.normalize_text):
    documents wrapped in NBSP / zero-width / CRLF / control-char /
    blank-run noise (every fifth doc swapped for an already-clean
    literal to exercise the changed=False path). Oracle replays the
    shared NORM_STEPS regexp chain (patterns are ASCII-safe and valid in
    both Java regex and RE2 — the contract NORM_STEPS documents)."""
    d = _docs(spark, sf_dir)
    messy = F.when(
        F.pmod("doc_id", 5) == 0, F.lit("Already clean.")
    ).otherwise(
        F.concat(
            F.lit("  A\u00a0B\u200b "),
            F.coalesce(F.col("text"), F.lit("")),
            F.lit("\r\nC\tD   E\u0007soft\u00adhyphen\n\n\n\n F  "),
        )
    )
    return textops.normalize_text(d.select("doc_id", messy.alias("text"))).select(
        "doc_id", "norm_text", "changed"
    )


def q_crawl_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (crawlops.crawl_diff): old crawl = every document;
    new crawl drops doc_id%5==0 (removed), rewrites text for %4==0
    (changed), adds a /new/ url for %7==0 (added), rest unchanged. The
    oracle states each url's status from the same arithmetic."""
    from rayjoin_spark.functions import crawlops

    d = _docs(spark, sf_dir)
    i = F.col("doc_id")
    url = F.concat(
        F.lit("https://site"),
        F.pmod(i, 97).cast("string"),
        F.lit(".example/d/"),
        i.cast("string"),
    )
    fp = lambda t: F.md5(F.encode(t, "UTF-8"))  # noqa: E731
    old = d.select(url.alias("url"), fp(F.col("text")).alias("fingerprint"))
    kept = d.filter(F.pmod(i, 5) != 0).select(
        url.alias("url"),
        fp(
            F.when(
                F.pmod(i, 4) == 0, F.concat(F.col("text"), F.lit("v2"))
            ).otherwise(F.col("text"))
        ).alias("fingerprint"),
    )
    added = d.filter(F.pmod(i, 7) == 0).select(
        F.concat(
            F.lit("https://site"),
            F.pmod(i, 97).cast("string"),
            F.lit(".example/new/"),
            i.cast("string"),
        ).alias("url"),
        fp(F.col("text")).alias("fingerprint"),
    )
    return crawlops.crawl_diff(old, kept.unionByName(added)).select(
        "url", "status"
    )


def q_main_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate removal (htmlops.extract_main_text): pages built with
    a nav bar, the document text as the content paragraph, a too-short
    block, a link-heavy teaser and a footer — only the content paragraph
    survives the integer link-density + min-length heuristic (and only
    when long enough). Oracle states the expected kept text directly."""
    from rayjoin_spark.functions import htmlops

    d = _docs(spark, sf_dir)
    html = F.concat(
        F.lit(
            '<html><body><div><a href="/">Home</a> | <a href="/about">About</a>'
            ' | <a href="/contact">Contact</a></div><p>'
        ),
        # null-propagation pin: a NULL text must mean an EMPTY paragraph,
        # not a NULL page (the oracle counts the 4 boilerplate blocks)
        F.coalesce(F.col("text"), F.lit("")),
        F.lit('</p><p>short</p><div>Read more: <a href="/next">next '),
        F.col("doc_id").cast("string"),
        F.lit(
            ' page link text</a></div><footer><a href="/tos">Terms</a>'
            ' <a href="/priv">Privacy</a></footer></body></html>'
        ),
    )
    pages = d.select("doc_id", F.encode(html, "UTF-8").alias("html"))
    return htmlops.extract_main_text(pages).select(
        "doc_id", "main_text", "n_blocks", "n_kept"
    )


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-novelty signal (textops.ngram_novelty): per doc, how many
    of its word trigrams appear in no other document. Oracle: the same
    distinct-gram / document-frequency CTEs in DuckDB."""
    d = _docs(spark, sf_dir)
    return textops.ngram_novelty(d).select("doc_id", "n_grams", "n_novel")


def q_latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revisit dedup (crawlops.latest_snapshot): documents become ~20
    captures per url; keep the newest per url (one combinable max_by
    groupBy). Oracle: DuckDB arg_max."""
    from rayjoin_spark.functions import crawlops

    d = _docs(spark, sf_dir)
    m = F.pmod(F.col("doc_id"), 250)  # url key: ~20 captures per url
    pages = d.select(
        F.concat(
            F.lit("https://site"),
            F.pmod(m, 97).cast("string"),
            F.lit(".example/d/"),
            m.cast("string"),
        ).alias("url"),
        (F.lit(1766016000) + F.col("doc_id")).cast("long").alias("ts_epoch"),
        F.col("text"),
    )
    return crawlops.latest_snapshot(pages, tiebreak="text").select(
        "url", "ts_epoch", "text"
    )


def q_crawl_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end crawl prioritization: the link graph EXTRACTED from
    page bytes (q_anchor_links' pages -> extract_links), collapsed to
    distinct host->host edges, ranked by integer-exact PageRank. Oracle:
    the same truncating-integer update unrolled over the expected
    host-edge set (self link + next-host link per page)."""
    from rayjoin_spark.functions import htmlops
    from rayjoin_spark.operators import graph

    links = q_anchor_links(spark, sf_dir)
    hostof = lambda c: F.lower(  # noqa: E731
        F.regexp_extract(c, htmlops._HOST_RE, 1)
    )
    e = links.select(
        hostof(F.col("url")).alias("src"), hostof(F.col("href")).alias("dst")
    ).distinct()
    return graph.pagerank(e, iters=3).select(
        F.col("node").alias("host"), "rank"
    )


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filter (functions/textops.py
    quality_classifier): integer-exact naive-Bayes-flavored linear
    scorer trained on a curated positive seed (sources src0/src1/src2)
    and applied to every document in one job. Oracle: the identical
    truncating-integer train+score as DuckDB CTEs."""
    d = _docs(spark, sf_dir)
    return textops.quality_classifier(
        d, F.col("source").isin("src0", "src1", "src2")
    ).select("doc_id", "quality_model_score", "n_tokens")


def q_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (functions/htmlops.py canonicalize_url) over
    deterministically-messed URLs (case noise, www., default ports,
    fragments, empty paths, trailing '?'). The oracle states the
    canonicalization contract's expected output directly."""
    from rayjoin_spark.functions import htmlops

    d = _docs(spark, sf_dir)
    k = F.pmod(F.col("doc_id"), 97).cast("string")
    i = F.col("doc_id")
    messy = F.concat(
        F.when(F.pmod(i, 2) == 0, F.lit("HTTP://")).otherwise(F.lit("https://")),
        F.when(F.pmod(i, 3) == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.when(F.pmod(i, 3) == 0, F.concat(F.lit("Site"), k, F.lit(".Example")))
        .otherwise(F.concat(F.lit("site"), k, F.lit(".example"))),
        F.when((F.pmod(i, 2) == 0) & (F.pmod(i, 4) == 0), F.lit(":80"))
        .when((F.pmod(i, 2) == 1) & (F.pmod(i, 4) == 1), F.lit(":443"))
        .otherwise(F.lit("")),
        F.when(F.pmod(i, 11) == 0, F.lit(""))
        .otherwise(F.concat(F.lit("/D/"), i.cast("string"))),
        F.when(F.pmod(i, 7) == 0, F.lit("?q=1"))
        .when(F.pmod(i, 13) == 0, F.lit("?"))
        .otherwise(F.lit("")),
        F.when(F.pmod(i, 5) == 0, F.lit("#Frag")).otherwise(F.lit("")),
    )
    return htmlops.canonicalize_url(d.select(messy.alias("url"))).select(
        "url", "url_canonical"
    )


def _host_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic host link graph derived from documents: a quadratic
    target (non-uniform in-degree: quadratic residues get hit twice,
    non-residues never) plus a conditional second out-link, so degrees —
    and therefore PageRank — actually vary."""
    d = _docs(spark, sf_dir)
    h = lambda c: F.concat(F.lit("h"), c.cast("string"))  # noqa: E731
    src = h(F.pmod(F.col("doc_id"), 97))
    e1 = d.select(
        src.alias("src"),
        h(F.pmod(F.col("doc_id") * F.col("doc_id") + 3, 97)).alias("dst"),
    )
    e2 = d.filter(F.pmod(F.col("doc_id"), 3) == 0).select(
        src.alias("src"), h(F.pmod(F.col("doc_id") * 7 + 13, 97)).alias("dst")
    )
    return e1.unionByName(e2).distinct()


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact PageRank (operators/graph.py) over the derived host
    graph, 4 iterations — crawl prioritization / corpus-weighting pass.
    Oracle: the identical truncating-integer update unrolled as a DuckDB
    CTE chain."""
    from rayjoin_spark.operators import graph

    return graph.pagerank(_host_edges(spark, sf_dir), iters=4)


def q_graph_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host out/in degree over the same derived link graph."""
    from rayjoin_spark.operators import graph

    return graph.degree_stats(_host_edges(spark, sf_dir))


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term -> (doc_freq, capped ascending posting list) search index
    (functions/textops.py inverted_index; skew-safe two-phase cap)."""
    return textops.inverted_index(_docs(spark, sf_dir)).select(
        "term", "doc_freq", "postings"
    )


def q_lsi_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same join, explicit hot-cell salting path (lsi_join_salted salts
    every joint cell, each into min(32, workload) buckets, exercising the
    scatter/replicate plan end-to-end).
    Oracle: identical to lsi_join — salting must not change the rows."""
    from rayjoin_spark.plans.skew import lsi_join_salted

    ea = derived.edges_a(spark, sf_dir)
    eb = derived.edges_b(spark, sf_dir)
    return lsi_join_salted(ea, eb, DERIVED_GRID)


def q_overlay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full composite overlay on the m=4 lattice pair — oracle-checked:
    sources/overlay_oracle.py reproduces the ENTIRE pipeline (brute-force
    exact LSI/PIP + topological midfaces + event-stream writer) in one
    DuckDB query, bit-for-bit."""
    from rayjoin_spark.operators.overlay import overlay
    from rayjoin_spark.plans.scaling import compute_scaling
    from rayjoin_spark.sources.datagen import lattice_chains, transformed_lattice

    ca, pa = lattice_chains(spark, 4)
    cb, pb = transformed_lattice(spark, 4)
    scaling = compute_scaling(pa, pb)
    oc, _ = overlay(ca, pa, cb, pb, scaling, DERIVED_GRID)
    return oc.select(
        F.col("chain_id").cast("bigint").alias("chain_id"),
        F.col("n_points").cast("bigint").alias("n_points"),
        F.col("first_point_id").cast("bigint").alias("first_point_id"),
        F.col("last_point_id").cast("bigint").alias("last_point_id"),
        F.col("left_face").cast("bigint").alias("left_face"),
        F.col("right_face").cast("bigint").alias("right_face"),
    )


def q_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style tumbling rollup over the events stream table; all
    checked columns are shuffle-order-independent (exact under any plan)."""
    from rayjoin_spark.functions.eventops import event_rollup

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return event_rollup(ev).select(
        "bucket", "event_type", "n_events", "n_users",
        "min_value", "max_value", "sum_k",
    )


def q_event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based per-user sessions (batch twin of the streaming
    applyInPandasWithState sessionizer), exact epoch-microsecond math."""
    from rayjoin_spark.functions.eventops import sessionize_events

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return sessionize_events(ev).select(
        "user_id", "session_start_us", "session_end_us", "n_events"
    )


def q_event_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join (click -> latest at-or-before view per user) as a
    single-shuffle union-merge — no range join, no per-row probe."""
    from rayjoin_spark.functions.eventops import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return asof_join(ev, left_type="click", right_type="view").select(
        "event_id", "user_id", "us",
        "asof_event_id", "asof_us", "asof_value", "asof_lag_us",
    )


def q_event_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join (+-30 min around each purchase, global): the 1-D
    time-chunk analog of the grid spatial join — bounded fan-out explode
    on the interval side, single-chunk map on the probe side, one
    equi-join."""
    from rayjoin_spark.functions.eventops import interval_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return interval_join(ev).select(
        "interval_id", "n_events", "n_users", "first_us", "last_us"
    )


def q_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate fraction per doc (common n-grams within
    the doc's source group) — the RefinedWeb-style template filter."""
    from rayjoin_spark.functions.textops import boilerplate_score

    return boilerplate_score(_docs(spark, sf_dir), n=5, min_docs=3).select(
        "doc_id", "n_grams", "n_boiler", "boiler_frac"
    )


def q_domain_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quota: keep the k best-quality pages per source via
    the skew-safe two-phase top-k (bucketed pre-rank bounds any window
    partition at group_size / n_buckets — a mega-domain can't pin one
    task)."""
    scored = textops.quality_score(_docs(spark, sf_dir))
    return textops.topk_per_group(
        scored, "source", "quality", "doc_id", k=5
    ).select("doc_id", "source", "quality", "rank")


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-clustering representative selection: near-dup components
    (LSH -> Jaccard-verified -> connected components) joined to quality
    scores; each cluster keeps its highest-quality doc (ties -> lowest
    id) — the final survivor set of a dedup pass."""
    docs = _docs(spark, sf_dir)
    sigs = textops.minhash_signatures(docs)
    cands = textops.neardup_candidates(textops.lsh_bands(sigs))
    jac = textops.ngram_jaccard(docs, cands)
    verified = jac.filter(
        F.col("n_inter") * 2 >= F.col("n_a") + F.col("n_b") - F.col("n_inter")
    ).select("id_a", "id_b")
    clusters = textops.neardup_components(docs, verified)
    scored = textops.quality_score(docs)
    return textops.dedup_keep_best(scored, clusters).select(
        "doc_id", "cluster_id", "kept_id", "keep"
    )


def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-doc duplicate token-window detection (fixed-window
    approximation of suffix-array substring dedup, Lee et al. 2022):
    per doc, how many of its 8-token windows appear in another doc."""
    return textops.dup_spans(_docs(spark, sf_dir), w=8).select(
        "doc_id", "n_windows", "n_dup_windows", "dup_frac"
    )


def q_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE pre-tokenizer segment count (the GPT-2 split-regex family,
    dialect-portable subset) — the token budget a real tokenizer sees,
    next to token_count's whitespace count."""
    return textops.bpe_token_count(_docs(spark, sf_dir)).select(
        "doc_id", "n_bpe_tokens"
    )


#: source mixing weights for the driver query: upsample src0 2.5x,
#: halve src1, drop src2, keep everything else at 1x
_MIX_WEIGHTS = {"src0": 2.5, "src1": 0.5, "src2": 0.0}


def q_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic domain reweighting: floor(weight) copies per doc
    plus an md5-threshold Bernoulli for the fractional part — a pure
    codegen expression + bounded explode, no shuffle."""
    return textops.mix_sources(_docs(spark, sf_dir), _MIX_WEIGHTS).select(
        "doc_id", "source", "rep"
    )


def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact Lloyd k-means over the embeddings table (k=8, two
    update rounds) — broadcast centroids, linear assign scans, combinable
    update aggs; bit-reproducible under any partitioning."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return simsearch.kmeans_labels(emb, k=8, iters=2).select(
        "vec_id", "cluster", "sq_dist"
    )


def q_kmeans_reps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity sampling: the member closest to each k-means centroid
    (one combinable min_by over the kmeans_labels output)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    labeled = simsearch.kmeans_labels(emb, k=8, iters=2)
    return simsearch.kmeans_representatives(labeled).select(
        "cluster", "rep_id", "sq_dist"
    )


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic dedup (Abbas et al. 2023): k-means clusters ->
    intra-cluster exact integer cosine pairs (>= 0.9) -> connected
    components -> keep the member farthest from its centroid. Oracle =
    the unrolled Lloyd SQL + HUGEINT cosine test + recursive-CTE CC."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return simsearch.semdedup(emb, k=8, iters=2, min_cosine=0.9).select(
        "vec_id", "cluster", "sq_dist", "dup_group", "group_size", "keep"
    )


def q_overlay_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The overlay writer's walk-order point stream — same DuckDB
    full-pipeline oracle as overlay_chains, points SELECT."""
    from rayjoin_spark.operators.overlay import overlay
    from rayjoin_spark.plans.scaling import compute_scaling
    from rayjoin_spark.sources.datagen import lattice_chains, transformed_lattice

    ca, pa = lattice_chains(spark, 4)
    cb, pb = transformed_lattice(spark, 4)
    scaling = compute_scaling(pa, pb)
    _, op = overlay(ca, pa, cb, pb, scaling, DERIVED_GRID)
    return op.select(
        F.col("chain_id").cast("bigint").alias("chain_id"),
        F.col("seq").cast("bigint").alias("seq"),
        "x",
        "y",
    )


def q_cell_morton(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical S2/H3-analog cell encoding: Morton quadtree ids of the
    derived query points (level 6 = the 64x64 grid), plus the 3-levels-up
    parent and points-per-parent rollup counts."""
    from rayjoin_spark.functions.cellcodes import morton_id, parent_id

    pts = derived.query_points(spark, sf_dir)
    ids = morton_id(pts, DERIVED_SCALING, DERIVED_GRID, level=6)
    ids = ids.withColumn("parent_id", parent_id(F.col("cell_id"), 3))
    per_parent = ids.groupBy("parent_id").agg(F.count("*").alias("n_in_parent"))
    return ids.join(per_parent, "parent_id").select(
        "point_id", "cell_id", "parent_id", "n_in_parent"
    )


def q_cell_hilbert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve cell encoding (functions/cellcodes.hilbert_id — the
    S2 face-order analog; unit-step locality Morton lacks) of the derived
    query points at level 6, plus the 3-levels-up prefix parent and
    points-per-parent rollup. Oracle: the identical unrolled state
    machine as chained DuckDB CTEs."""
    from rayjoin_spark.functions.cellcodes import hilbert_id, parent_id

    pts = derived.query_points(spark, sf_dir)
    ids = hilbert_id(pts, DERIVED_SCALING, DERIVED_GRID, level=6)
    ids = ids.withColumn("parent_id", parent_id(F.col("cell_id"), 3))
    per_parent = ids.groupBy("parent_id").agg(F.count("*").alias("n_in_parent"))
    return ids.join(per_parent, "parent_id").select(
        "point_id", "cell_id", "parent_id", "n_in_parent"
    )


def q_geohash_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geohash encoding (functions/cellcodes.geohash_id — canonical
    public bit order + base-32 alphabet, pinned against a textbook
    bisection encoder in pytest) of the derived query points at
    precision 4 over a 1024-cell grid, plus a 2-char-prefix rollup
    (the prefix-join primitive geohash exists for). Oracle: identical
    bit packing + alphabet in SQL."""
    from rayjoin_spark.functions.cellcodes import geohash_id
    from rayjoin_spark.plans.scaling import GridSpec

    pts = derived.query_points(spark, sf_dir)
    out = geohash_id(pts, DERIVED_SCALING, GridSpec(1024), precision=4).select(
        "point_id", "geohash", F.substring("geohash", 1, 2).alias("gh2")
    )
    per = out.groupBy("gh2").agg(F.count("*").alias("n_in_prefix"))
    return out.join(per, "gh2").select(
        "point_id", "geohash", "gh2", "n_in_prefix"
    )


def q_quadkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bing quadkey strings (functions/cellcodes.quadkey_str — canonical
    digit scheme pinned by the documented (3,5,level 3)->'213' example)
    for the derived query points at level 6, plus the 3-char parent
    prefix and its rollup count. Oracle: identical digit arithmetic."""
    from rayjoin_spark.functions.cellcodes import interleave_bits, quadkey_str
    from rayjoin_spark.functions.cellcodes import cell_xy

    pts = derived.query_points(spark, sf_dir)
    cx, cy = cell_xy(DERIVED_SCALING, DERIVED_GRID, F.col("x"), F.col("y"))
    ids = pts.withColumn("_m", interleave_bits(cx, cy, 6))
    out = ids.select(
        "point_id",
        quadkey_str(F.col("_m"), 6).alias("quadkey"),
        quadkey_str(F.col("_m"), 6, 3).alias("qk3"),
    )
    per = out.groupBy("qk3").agg(F.count("*").alias("n_in_parent"))
    return out.join(per, "qk3").select("point_id", "quadkey", "qk3", "n_in_parent")


def q_adaptive_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive quadtree partitioning (functions/cellcodes.adaptive_cells):
    every cell holding more than 64 of the derived query points splits,
    down to level 6; each point reports its leaf cell, leaf level, and
    leaf occupancy. The declarative replacement for the reference's GPU
    adaptive-grouping. Oracle: identical prefix-rollup counts + leaf
    criterion as chained CTEs."""
    from rayjoin_spark.functions.cellcodes import adaptive_cells

    pts = derived.query_points(spark, sf_dir)
    return adaptive_cells(
        pts, DERIVED_SCALING, DERIVED_GRID, cap=64, max_level=6
    )


def q_cells_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimal multi-level cell covering (functions/cellcodes.compact_cells,
    the S2 CellUnion::Normalize analog): level-6 Morton cells of the
    derived query points with every complete sibling quartet merged into
    its parent, recursively. Oracle: the same per-level sibling-count
    promotion as six chained DuckDB CTEs."""
    from rayjoin_spark.functions.cellcodes import compact_cells, morton_id

    pts = derived.query_points(spark, sf_dir)
    ids = morton_id(pts, DERIVED_SCALING, DERIVED_GRID, level=6)
    return compact_cells(ids, level=6)


def q_range_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial range reporting (operators/rangequery.range_report): every
    (query rectangle, edge) pair whose SEGMENT meets the rectangle —
    grid-pruned cell equi-join + exact int64 separating-axis predicate.
    Oracle: the identical integer SAT test over a rect x edge join."""
    from rayjoin_spark.operators.rangequery import range_report, snap_rects

    ea = derived.edges_a(spark, sf_dir)
    rects = snap_rects(derived.query_rects(spark, sf_dir), DERIVED_SCALING)
    return range_report(ea, rects, DERIVED_GRID)


def q_segment_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact vector-tile cutting (operators/clip.py clip_segments):
    Liang-Barsky in integer rationals — every edge clipped to every query
    rectangle it meets, endpoints as exact (num, den) pairs. Oracle: the
    identical cross-multiplied CASE folds in DuckDB."""
    from rayjoin_spark.operators.clip import clip_segments
    from rayjoin_spark.operators.rangequery import snap_rects

    ea = derived.edges_a(spark, sf_dir)
    rects = snap_rects(derived.query_rects(spark, sf_dir), DERIVED_SCALING)
    return clip_segments(ea, rects, DERIVED_GRID)


def q_tile_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tile-server encode step (operators/tiles.tile_payloads): clipped
    exact-rational segments assembled into deterministic per-tile payloads
    with md5 content digests (the cache key / ETag). Oracle: identical
    serialization + ORDER BY string_agg + md5 in DuckDB."""
    from rayjoin_spark.operators.clip import clip_segments
    from rayjoin_spark.operators.rangequery import snap_rects
    from rayjoin_spark.operators.tiles import tile_payloads

    ea = derived.edges_a(spark, sf_dir)
    rects = snap_rects(derived.query_rects(spark, sf_dir), DERIVED_SCALING)
    return tile_payloads(clip_segments(ea, rects, DERIVED_GRID))


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style bigram LM quality score (functions/textops.lm_score):
    integer-exact add-one bigram model trained on the curated seed
    (sources src0/src1/src2), applied to every document. Oracle: the
    identical truncating-integer train+score as DuckDB CTEs."""
    d = _docs(spark, sf_dir)
    return textops.lm_score(d, train=F.col("source").isin("src0", "src1", "src2"))


def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail terciles per language by LM quality
    (functions/textops.ccnet_buckets): bigram model trained on the src0
    seed, per-lang exact tercile cuts, integer bucket comparisons.
    Oracle: the lm CTEs + lower-nearest-rank tercile SQL + CASE."""
    d = _docs(spark, sf_dir)
    return textops.ccnet_buckets(d, train=F.col("source") == "src0").select(
        "doc_id", "lang", "lm_score", "n_bigrams", "p33", "p66", "bucket"
    )


def q_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column feature pipeline: image rows decode REAL PNG payloads
    with the stdlib+NumPy codec (width/height actually parsed); audio rows
    decode REAL PCM16 WAVs (RIFF parse, sample rate/channels/frames/means);
    video rows decode REAL YUV4MPEG2 clips (header parse, dims/frame
    count/fps/plane means). Oracle-checked: dims/bytes/hashes/decoder are
    literal-derivable from the deterministic fixture (_multimodal_sql);
    the float feature vector is pytest-checked instead."""
    from rayjoin_spark.functions.multimodal import extract_features, synthetic_media

    return extract_features(synthetic_media(spark, 200)).select(
        "media_id", "kind", "n_bytes", "sha256", "width", "height",
        "decode_ok", "decoder",
    )


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-banded approximate NN. The integer-lattice signature makes the
    whole plan (prefilter included) oracle-reproducible in DuckDB; recall
    vs ann_topk_dot is measured in tests and reported by bench.py."""
    emb = _emb(spark, sf_dir)
    qs = emb.filter(F.pmod(F.col("vec_id"), 100) == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return simsearch.ann_lsh_topk(emb, qs, k=5).select(
        "query_id", "corpus_id", "dot", F.col("rank").cast("bigint").alias("rank")
    )


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate NN (integer coarse quantizer + n_probe
    bucket search + exact re-rank) — second scale path beside LSH, fully
    oracle-checked; recall vs ann_topk_dot reported by bench.py."""
    emb = _emb(spark, sf_dir)
    qs = emb.filter(F.pmod(F.col("vec_id"), 100) == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return simsearch.ann_ivf_topk(emb, qs, k=5).select(
        "query_id", "corpus_id", "dot", F.col("rank").cast("bigint").alias("rank")
    )


def q_neardup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs — exhaustive O(n^2) baseline
    (oracle-checkable at any n; the scale path is neardup_embedding_lsh)."""
    return simsearch.neardup_cosine(
        _emb(spark, sf_dir), min_cosine=0.35, exhaustive=True
    ).select("id_a", "id_b", "dot", "n_a", "n_b")


def q_neardup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup via banded sign-bucket candidates + exact verify —
    the 100 TB path (no crossJoin), fully oracle-checked."""
    return simsearch.neardup_cosine(
        _emb(spark, sf_dir), min_cosine=0.35, exhaustive=False
    ).select("id_a", "id_b", "dot", "n_a", "n_b")


def q_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (MOSS; Schleimer et al. 2003): per-window
    rightmost-min k-gram hash selection — the local, position-aware
    dedup primitive. Zero-shuffle array codegen; oracle replays the
    window-min + rightmost-argmin selection with SQL window frames."""
    return textops.winnow_fingerprints(_docs(spark, sf_dir)).select(
        "doc_id", "pos", "fingerprint"
    )


def q_neardup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broder containment over the LSH candidate pairs: the asymmetric
    |A∩B|/|A| measure that catches short docs embedded in long ones."""
    docs = _docs(spark, sf_dir)
    cands = textops.neardup_candidates(
        textops.lsh_bands(textops.minhash_signatures(docs))
    )
    return textops.ngram_containment(docs, cands).select(
        "id_a", "id_b", "n_inter", "n_a", "n_b", "jaccard",
        "contain_a", "contain_b",
    )


def q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact HITS hub/authority scores over the derived host
    graph (operators/graph.py hits, 3 rounds, max-normalized). Oracle:
    the identical truncating-integer rounds unrolled as CTEs."""
    from rayjoin_spark.operators import graph

    return graph.hits(_host_edges(spark, sf_dir), iters=3)


def q_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language p25/p50/p75 of document length via the
    histogram+cumsum distributed selection (no per-group row sort)."""
    d = _docs(spark, sf_dir).select(
        "lang", F.length("text").cast("bigint").alias("len")
    )
    return textops.exact_quantiles(d, "lang", "len").select(
        "lang", "n_rows", "p25", "p50", "p75"
    )


def _meta_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic page fixture for the WAT-metadata queries: html built
    around each document with a title (entity-encoded ampersand), a
    conditional meta description (doc_id % 3), conditional meta robots
    (% 5), conditional rel=canonical (% 2, bucketed so several pages
    share one canonical), and the html lang attribute."""
    d = _docs(spark, sf_dir)
    i = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit('<html lang="'), F.col("lang"), F.lit('"><head><title>Doc '),
        i, F.lit(" &amp; "), F.col("source"), F.lit("</title>"),
        F.when(
            F.pmod(F.col("doc_id"), 3) == 0,
            F.concat(F.lit('<meta name="description" content="About doc '), i, F.lit('">')),
        ).otherwise(F.lit("")),
        F.when(
            F.pmod(F.col("doc_id"), 5) == 0,
            F.lit('<meta name="robots" content="noindex, nofollow">'),
        ).otherwise(F.lit("")),
        F.when(
            F.pmod(F.col("doc_id"), 2) == 0,
            F.concat(
                F.lit('<link rel="canonical" href="https://canon.example/'),
                F.pmod(F.col("doc_id"), 50).cast("string"), F.lit('">'),
            ),
        ).otherwise(F.lit("")),
        F.lit("</head><body><p>"), F.col("text"), F.lit("</p></body></html>"),
    )
    url = F.concat(
        F.lit("https://site"), F.pmod(F.col("doc_id"), 97).cast("string"),
        F.lit(".example/d/"), i,
    )
    return d.select("doc_id", url.alias("url"), F.encode(html, "UTF-8").alias("html"))


def q_page_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAT-style head-metadata extraction (title / meta description /
    meta robots / rel=canonical / html lang) from page bytes — the
    Common Crawl WAT-record fields via the stdlib-parser mapInPandas
    plumbing. Oracle states the expected fields directly (contract
    style), proving entity decode + first-wins + attribute parsing."""
    from rayjoin_spark.functions import htmlops

    return htmlops.extract_metadata(_meta_pages(spark, sf_dir)).select(
        "doc_id", "title", "description", "robots", "canonical", "page_lang"
    )


def q_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL dedup: group pages by their effective canonical
    (rel=canonical when present, else own url) — the crawl-side dedup
    that catches mirror/tracking-parameter duplicates before any
    content hashing. Composition: extract_metadata -> coalesce ->
    one combinable groupBy (n_pages, min doc id kept)."""
    from rayjoin_spark.functions import htmlops

    pages = _meta_pages(spark, sf_dir)
    meta = htmlops.extract_metadata(pages)
    j = pages.select("doc_id", "url").join(
        meta.select("doc_id", "canonical"), "doc_id"
    )
    return (
        j.withColumn("canonical_url", F.coalesce("canonical", "url"))
        .groupBy("canonical_url")
        .agg(
            F.count("*").cast("bigint").alias("n_pages"),
            F.min("doc_id").alias("kept_doc"),
        )
    )


def q_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unicode script composition + dominant script — pure
    codegen regexp counts (functions/textops.py script_profile)."""
    return textops.script_profile(_docs(spark, sf_dir)).select(
        "doc_id", "n_chars", "n_latin", "n_cyrillic", "n_cjk", "n_arabic",
        "dominant_script",
    )


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters (phi = 1/200) over the whitespace
    token stream — the mergeable fixed-size frequency summary
    (functions/sketches.py); exact counts ride along to exhibit the
    one-sided error. Oracle rebuilds the identical md5-addressed sketch
    in SQL."""
    from rayjoin_spark.functions import sketches

    return sketches.heavy_hitters(_docs(spark, sf_dir)).select(
        "term", "est", "n_exact"
    )


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host triangle counts over the derived link graph
    (operators/graph.py triangle_count — degree-ordered wedge counting,
    the Suri-Vassilvitskii 'last reducer' pattern, so hub fan-out stays
    O(sqrt(m))). Link-farm-clique detection signal. Oracle: the same
    orientation + wedge-close joins in SQL."""
    from rayjoin_spark.operators import graph

    return graph.triangle_count(_host_edges(spark, sf_dir))


def q_link_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-link set-similarity (co-citation mirror suspects): host pairs
    whose distinct out-neighbor sets, after dropping neighbors cited by
    more than 2 hosts (the set-sim-join prefix/stop-term filter),
    have Jaccard >= 1/3 — decided by cross-multiplied integers
    (operators/graph.py link_jaccard). Oracle: the same filtered
    universe + pair counts in SQL."""
    from rayjoin_spark.operators import graph

    return graph.link_jaccard(
        _host_edges(spark, sf_dir), sim_num=1, sim_den=3, max_fanout=2
    )


def q_host_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over a deterministic 5-chain host graph
    (k -> k+5 for k <= 91: the 97 hosts split into 5 path components by
    k mod 5) via the engine's pointer-jumping min-label CC
    (plans/labels.min_label via neardup_components — O(log n) rounds, not
    O(diameter), which these ~20-long chains actually exercise, unlike
    the tiny near-dup cliques). Oracle: recursive-CTE reachability with
    MIN-label, size and canonical flag."""
    from rayjoin_spark.functions.textops import neardup_components

    d = _docs(spark, sf_dir)
    k = F.pmod(F.col("doc_id"), 97)
    h = lambda c: F.concat(F.lit("h"), c.cast("string"))  # noqa: E731
    pairs = (
        d.select(k.alias("k"))
        .filter(F.col("k") <= 91)
        .distinct()
        .select(h(F.col("k")).alias("id_a"), h(F.col("k") + 5).alias("id_b"))
    )
    ids = (
        pairs.select(F.col("id_a").alias("host"))
        .unionByName(pairs.select(F.col("id_b").alias("host")))
        .distinct()
    )
    return neardup_components(ids, pairs, id_col="host")


def q_moran_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global Moran's I over the tile-count raster (rook weights,
    operators/tiles.moran_i): the exact-integer spatial-autocorrelation
    fraction — one row (n_tiles, w_sum, moran_num, moran_den); I =
    n_tiles*num/(w_sum*den). decimal(38,0) internally (planet-scale
    s_i products overflow int64), bigint at this boundary (exact at
    gate scale). Oracle: same scaled-deviation sums in SQL."""
    from rayjoin_spark.operators.tiles import moran_i, tile_aggregate

    pts = derived.query_points(spark, sf_dir, residue=3, mod=4)
    t = tile_aggregate(pts, DERIVED_SCALING, DERIVED_GRID, shift=3)
    return moran_i(t).select(
        "n_tiles",
        "w_sum",
        F.col("moran_num").cast("bigint").alias("moran_num"),
        F.col("moran_den").cast("bigint").alias("moran_den"),
    )


def q_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI-style collocation extraction (functions/textops.collocations):
    adjacent token pairs whose frequency beats 2x their independence
    expectation, decided by the cross-multiplied integer inequality
    den*n_ab*N^2 >= num*M*n_a*n_b (no log, no float). Oracle: identical
    counts + HUGEINT inequality."""
    return textops.collocations(
        _docs(spark, sf_dir), min_count=2, ratio_num=2, ratio_den=1
    )


def q_dwell_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trajectory segmentation + dwell flags (operators/knn.py
    dwell_segments) over the microdegree route fixture: split where the
    meter-rounded haversine leg exceeds 12,000 km (uniform random globe
    points average ~10,000 km legs, so both branches are exercised),
    dwell = segment with >= 3 points. Oracle: same haversine + window
    cumulative-sum segmentation."""
    from rayjoin_spark.operators.knn import dwell_segments

    pts = _geo_pts(_docs(spark, sf_dir)).select(
        F.pmod(F.col("doc_id"), 97).alias("route_id"),
        F.col("doc_id").alias("seq"),
        "lon_udeg",
        "lat_udeg",
    )
    return dwell_segments(pts, jump_m=12_000_000, min_pts=3)


def q_union_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union-of-rectangles coverage area (operators/sweep.py
    union_area): ~overlapping integer boxes (centers Lehmer-hashed into
    a 2^20 square, half-widths up to ~2000, x1 occasionally negative to
    exercise the negative-floor tile path), tile-partitioned sweep,
    exact integer area per occupied tile. Oracle: an INDEPENDENT global
    SQL slab sweep (x-compression + running-max y-union via windows) —
    a different algorithm producing the same integers."""
    from rayjoin_spark.operators.sweep import union_area

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    k = F.col("o_orderkey")
    cx = F.pmod(k * 14741, 1 << 20)
    cy = F.pmod(k * 28657, 1 << 20)
    w = F.pmod(k, 2000) + 2
    h = F.pmod(k, 1700) + 2
    rects = o.filter(F.pmod(k, 16) == 3).select(
        (cx - w).cast("bigint").alias("x1"),
        (cy - h).cast("bigint").alias("y1"),
        (cx + w).cast("bigint").alias("x2"),
        (cy + h).cast("bigint").alias("y2"),
    )
    return union_area(rects, tile_shift=16)


def q_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity-span coalescing (functions/eventops.py
    interval_merge): each event opens a half-open 30-minute window
    [us, us + 1800s); overlapping/touching windows merge into maximal
    busy spans — the 1-D measure-union sibling of union_area, pure
    codegen. Oracle: same running-max-reach window + cumsum."""
    from rayjoin_spark.functions.eventops import interval_merge

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    iv = e.select(
        "user_id",
        us.alias("lo"),
        (us + 1800 * 1_000_000).alias("hi"),
    )
    return interval_merge(iv)


def q_xsect_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intersection-point density raster: the LSI join's EXACT rational
    intersection points (num/den, decimal(38,0)) rolled up to 2^25-wide
    tiles by exact rational floor division (tile = floor(num/(den*W))
    via the subtract-pmod decimal form — no double ever decides a tile).
    The composition showcase: spatial join -> exact geometry -> raster
    rollup in one declarative plan. Oracle: the LSI SQL + HUGEINT xsect
    + the same floor arithmetic."""
    ea = derived.edges_a(spark, sf_dir)
    eb = derived.edges_b(spark, sf_dir)
    pts = lsi_join(ea, eb, DERIVED_GRID, with_points=True)
    w = 1 << 25
    md = f"(den * CAST({w} AS decimal(38,0)))"

    def tile(num: str) -> F.Column:
        return F.expr(
            f"CAST(({num} - pmod({num}, {md})) DIV {md} AS BIGINT)"
        )

    return (
        pts.select(tile("num_x").alias("tile_x"), tile("num_y").alias("tile_y"))
        .groupBy("tile_x", "tile_y")
        .agg(F.count("*").cast("bigint").alias("n_xsects"))
    )


def q_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link reciprocity over the derived host graph (operators/graph.py
    reciprocity): distinct non-loop edges with a reverse edge. Oracle:
    EXISTS over the swapped edge set."""
    from rayjoin_spark.operators import graph

    return graph.reciprocity(_host_edges(spark, sf_dir))


def q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-assortativity sums over the derived host graph
    (operators/graph.py degree_assortativity; r = (m*s_jk - s_j^2) /
    (m*s_j2 - s_j^2) left to the caller). decimal(38,0) internally,
    bigint at this boundary. Oracle: same sums in SQL."""
    from rayjoin_spark.operators import graph

    return graph.degree_assortativity(_host_edges(spark, sf_dir)).select(
        "m",
        F.col("s_j").cast("bigint").alias("s_j"),
        F.col("s_jk").cast("bigint").alias("s_jk"),
        F.col("s_j2").cast("bigint").alias("s_j2"),
    )


def q_closest_pair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global closest pair over the derived point fixture
    (operators/knn.py closest_pair — knn_points of the points against
    themselves with k=2, pairs with id_a < id_b; the least pair's first
    point PROVABLY has it in its top 2, ties break on (dist2, id, id)).
    Oracle: brute-force min over all pairs with the same lexicographic
    tiebreak."""
    from rayjoin_spark.operators.knn import closest_pair

    pts = derived.query_points(spark, sf_dir, residue=2, mod=4)
    return closest_pair(pts, DERIVED_SCALING, DERIVED_GRID)


def q_local_moran(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local Moran's I (LISA) components per tile
    (operators/tiles.local_moran): s_i and s_i * Σ_{rook} s_j as exact
    integers — the per-tile cluster/outlier call that pairs with the
    global `moran_tiles`. decimal internally, bigint at this boundary.
    Oracle: same scaled-deviation arithmetic per tile."""
    from rayjoin_spark.operators.tiles import local_moran, tile_aggregate

    pts = derived.query_points(spark, sf_dir, residue=3, mod=4)
    t = tile_aggregate(pts, DERIVED_SCALING, DERIVED_GRID, shift=3)
    return local_moran(t).select(
        "tile_x",
        "tile_y",
        "n_points",
        F.col("s").cast("bigint").alias("s"),
        "w_i",
        F.col("local_num").cast("bigint").alias("local_num"),
    )


def q_burst_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal burst flags per event type (functions/eventops.py
    burst_detect): hourly buckets, burst when count >= 3x the trailing
    mean over up to 6 previous observed buckets (cross-multiplied
    integers, >= 3 buckets of history required). Oracle: same windows."""
    from rayjoin_spark.functions.eventops import burst_detect

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return burst_detect(e, window=6, factor=3, min_history=3)


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling (functions/textops.weighted_sample):
    per source keep the 10 docs with smallest md5-priority h/w, w =
    n_chars — reproducible importance sampling for corpus mixing; the
    h/w order is the exact 62-fractional-bit limb key (pip.py
    technique). Oracle: same h, HUGEINT limb arithmetic, same
    row_number."""
    return textops.weighted_sample(
        _docs(spark, sf_dir), "n_chars", k=10, group_col="source"
    )


def q_rect_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rect-rect intersection join (operators/rangequery.rect_join):
    the AABB overlay primitive with the LSI plan shape — cell-bucketed
    equi-join, exact closed-interval overlap, min-shared-cell ownership
    dedup (a column filter, no dropDuplicates). A side = the standard
    query_rects fixture; B side = a second Lehmer family (residue 7).
    Oracle: brute-force overlap join."""
    from rayjoin_spark.operators.rangequery import rect_join, snap_rects

    ra = snap_rects(derived.query_rects(spark, sf_dir), DERIVED_SCALING)
    rb = snap_rects(
        derived.query_rects(
            spark, sf_dir, residue=7, xm=20021, ym=33461, wm=31, hm=23
        ),
        DERIVED_SCALING,
    )
    return rect_join(ra, rb, DERIVED_GRID)


def q_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-3 co-occurrence association (functions/textops.py
    skipgram_pairs — the word2vec counting pass; collocations is the
    window=1 ordered special case). Oracle: same unordered pair
    explode + HUGEINT independence inequality."""
    return textops.skipgram_pairs(
        _docs(spark, sf_dir), window=3, min_count=2, ratio_num=2, ratio_den=1
    )


def q_tile_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tile exact percentiles (geo x stats composition): point
    values (point_id % 1000) rolled to shift-3 tiles, p25/p50/p75 per
    tile via the histogram-sized exact selection
    (functions/textops.exact_quantiles — no per-group row sort). The
    tile key packs (tile_x, tile_y) into one bigint. Oracle: same
    nearest-rank arithmetic in SQL."""
    from rayjoin_spark.operators.tiles import tile_of

    pts = derived.query_points(spark, sf_dir, residue=3, mod=4)
    p = pts.select(
        F.pmod(F.col("point_id"), 1000).alias("value"),
        tile_of(DERIVED_GRID.cell_of(DERIVED_SCALING.scale_x(F.col("x"))), 3).alias("_tx"),
        tile_of(DERIVED_GRID.cell_of(DERIVED_SCALING.scale_y(F.col("y"))), 3).alias("_ty"),
    ).select(
        (F.col("_tx") * 4096 + F.col("_ty")).cast("bigint").alias("tile_key"),
        "value",
    )
    return textops.exact_quantiles(p, "tile_key", "value").select(
        "tile_key",
        "n_rows",
        F.col("p25").cast("bigint").alias("p25"),
        F.col("p50").cast("bigint").alias("p50"),
        F.col("p75").cast("bigint").alias("p75"),
    )


def q_raster_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster change detection (operators/tiles.raster_diff): tile
    counts of two point epochs (orders residues 3 and 1) full-outer
    joined, each tile classified added/removed/changed/same with the
    signed delta — the recrawl-targeting composition. Oracle: two tile
    CTEs + the same classification."""
    from rayjoin_spark.operators.tiles import raster_diff, tile_aggregate

    ta = tile_aggregate(
        derived.query_points(spark, sf_dir, residue=3, mod=4),
        DERIVED_SCALING, DERIVED_GRID, shift=3,
    )
    tb = tile_aggregate(
        derived.query_points(spark, sf_dir, residue=1, mod=4),
        DERIVED_SCALING, DERIVED_GRID, shift=3,
    )
    return raster_diff(ta, tb)


def q_mirror_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mirror-cluster extraction: link_jaccard's co-citation suspect
    pairs fed to the pointer-jumping CC — suspects collapse into mirror
    groups with a canonical representative (the link-structure sibling
    of neardup_clusters). Oracle: the link_jaccard SQL + recursive-CTE
    reachability."""
    from rayjoin_spark.functions.textops import neardup_components
    from rayjoin_spark.operators import graph

    pairs = graph.link_jaccard(
        _host_edges(spark, sf_dir), sim_num=1, sim_den=3, max_fanout=2
    ).select(F.col("node_a").alias("id_a"), F.col("node_b").alias("id_b"))
    ids = (
        pairs.select(F.col("id_a").alias("host"))
        .unionByName(pairs.select(F.col("id_b").alias("host")))
        .distinct()
    )
    return neardup_components(ids, pairs, id_col="host")


def q_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components (operators/graph.scc —
    randomized-priority forward/backward min-label peeling; each peel
    assigns every color root's SCC) over a deterministic MULTI-SCC directed
    graph: per decade a 10-chain with a 6->3 back edge (one 4-cycle SCC
    per decade) plus one-way cross-decade bridges — ~10 size-4 SCCs
    among singletons, several peels deep (the full host graph is one
    giant SCC, which would be a trivial check). Oracle: mutual
    reachability stated DIRECTLY (recursive-CTE pair closure + min) —
    independent of the FW-BW algorithm."""
    from rayjoin_spark.operators import graph

    d = _docs(spark, sf_dir)
    k = F.pmod(F.col("doc_id"), 97)
    h = lambda c: F.concat(F.lit("h"), c.cast("string"))  # noqa: E731
    base = d.select(k.alias("k")).distinct()
    e1 = base.filter((F.pmod("k", 10) != 9) & (F.col("k") <= 95)).select(
        h(F.col("k")).alias("src"), h(F.col("k") + 1).alias("dst")
    )
    e2 = base.filter(F.pmod("k", 10) == 6).select(
        h(F.col("k")).alias("src"), h(F.col("k") - 3).alias("dst")
    )
    e3 = base.filter((F.pmod("k", 10) == 0) & (F.col("k") <= 86)).select(
        h(F.col("k")).alias("src"), h(F.col("k") + 10).alias("dst")
    )
    return graph.scc(e1.unionByName(e2).unionByName(e3))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the LSI spatial join on sf0.001-derived layers."""
    return q_lsi(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "dedup_keep_best": q_dedup_keep_best,
        "dup_spans": q_dup_spans,
        "mirror_clusters": q_mirror_clusters,
        "pages_geocode": q_pages_geocode,
        "kmeans_reps": q_kmeans_reps,
        "raster_vectorize": q_raster_vectorize,
        "scc_hosts": q_scc,
        "semdedup": q_semdedup,
        "neardup_clusters": q_neardup_clusters,
        "face_stats": q_face_stats,
        "decontaminate": q_decontaminate,
        "xsect_density": q_xsect_density,
        "dist_join": q_dist_join,
        "convex_hull": q_convex_hull,
        "group_diameter": q_group_diameter,
        "bm25_rank": q_bm25_rank,
        "idw_interpolate": q_idw_interpolate,
        "face_within": q_face_within,
        "bfs_hops": q_bfs_hops,
        "sssp_hosts": q_sssp_hosts,
        "tile_top_hosts": q_tile_top_hosts,
        "route_length": q_route_length,
        "od_matrix": q_od_matrix,
        "hotspot_tiles": q_hotspot_tiles,
        "skyline": q_skyline,
        "dbscan": q_dbscan,
        "zonal_stats": q_zonal_stats,
        "neardup_containment": q_neardup_containment,
        "hits_hosts": q_hits,
        "host_components": q_host_components,
        "page_metadata": q_page_metadata,
        "canonical_dedup": q_canonical_dedup,
        "lsi_join_salted": q_lsi_salted,
        "rect_join": q_rect_join,
        "cells_compact": q_cells_compact,
        "range_report": q_range_report,
        "dwell_segments": q_dwell_segments,
        "ccnet_buckets": q_ccnet_buckets,
        "tile_payloads": q_tile_payloads,
        "lsi_join_finegrid": q_lsi_finegrid,
        "segment_clip": q_segment_clip,
        "overlay_chains": q_overlay,
        "overlay_points": q_overlay_points,
        "nearest_edge": q_nearest_edge,
        "lsi_join": q_lsi,
        "geo_dist_join": q_geo_dist_join,
        "pip_locate": q_pip,
        "pip_locate_finegrid": q_pip_finegrid,
        "knn_cellring": q_knn,
        "closest_pair": q_closest_pair,
        "burst_detect": q_burst_detect,
        "weighted_sample": q_weighted_sample,
        "heavy_hitters": q_heavy_hitters,
        "skipgram_pairs": q_skipgram_pairs,
        "tile_quantiles": q_tile_quantiles,
        "raster_diff": q_raster_diff,
        "source_mix": q_source_mix,
        "repetition_ratio": q_repetition,
        "shard_stats": q_shard_stats,
        "winnow_fingerprints": q_winnow,
        "graph_degrees": q_graph_degrees,
        "inverted_index": q_inverted_index,
        "quality_classifier": q_quality_classifier,
        "url_canonical": q_url_canonical,
        "anchor_links": q_anchor_links,
        "anchor_profile": q_anchor_profile,
        "crawl_priorities": q_crawl_priorities,
        "latest_snapshot": q_latest_snapshot,
        "ngram_novelty": q_ngram_novelty,
        "main_content": q_main_content,
        "dedup_incremental": q_dedup_incremental,
        "corpus_card": q_corpus_card,
        "c4_filter": q_c4_filter,
        "sitemap_parse": q_sitemap_parse,
        "robots_sitemaps": q_robots_sitemaps,
        "cdx_index": q_cdx_index,
        "wet_roundtrip": q_wet_roundtrip,
        "recrawl_schedule": q_recrawl_schedule,
        "crawl_budget": q_crawl_budget,
        "normalize_text": q_normalize_text,
        "crawl_diff": q_crawl_diff,
        "crawl_frontier": q_crawl_frontier,
        "robots_filter": q_robots_filter,
        "fetch_schedule": q_fetch_schedule,
        "tile_pyramid": q_tile_pyramid,
        "simplify_dp": q_simplify_dp,
        "cell_hilbert": q_cell_hilbert,
        "adaptive_cells": q_adaptive_cells,
        "geohash_encode": q_geohash_encode,
        "quadkey_encode": q_quadkey,
        "mercator_tiles": q_mercator_tiles,
        "tile_bounds": q_tile_bounds,
        "structured_data": q_structured_data,
        "event_asof": q_event_asof,
        "event_interval_join": q_event_interval_join,
        "boilerplate_frac": q_boilerplate,
        "domain_topk": q_domain_topk,
        "grid_cell_counts": q_grid_cells,
        "cell_workload_hist": q_cell_workload,
        "tile_counts": q_tiles,
        "tfidf_topk": q_tfidf_topk,
        "script_profile": q_script_profile,
        "token_count": q_token_count,
        "bpe_token_count": q_bpe_tokens,
        "quality_score": q_quality,
        "lang_guess": q_lang,
        "doc_fingerprint": q_fingerprint,
        "dedup_exact": q_dedup,
        "minhash_signatures": q_minhash,
        "lsh_bands": q_lsh_bands,
        "neardup_jaccard": q_neardup,
        "pack_sequences": q_pack_sequences,
        "sample_stratified": q_sample_stratified,
        "doc_chunks": q_doc_chunks,
        "simhash16": q_simhash,
        "simhash_neardup": q_simhash_neardup,
        "ann_topk_dot": q_ann,
        "kmeans_labels": q_kmeans,
        "warc_roundtrip": q_warc_roundtrip,
        "html_extract": q_html_extract,
        "charset_detect": q_charset_detect,
        "gopher_rules": q_gopher_rules,
        "gopher_repetition": q_gopher_repetition,
        "blocklist_filter": q_blocklist_filter,
        "bloom_dedup": q_bloom_dedup,
        "hll_distinct": q_hll_distinct,
        "line_dedup": q_line_dedup,
        "paragraph_dedup": q_paragraph_dedup,
        "host_stats": q_host_stats,
        "pagerank_hosts": q_pagerank,
        "triangle_count": q_triangle_count,
        "link_jaccard": q_link_jaccard,
        "length_quantiles": q_length_quantiles,
        "moran_tiles": q_moran_tiles,
        "collocations": q_collocations,
        "lm_score": q_lm_score,
        "union_area": q_union_area,
        "interval_merge": q_interval_merge,
        "reciprocity": q_reciprocity,
        "assortativity": q_assortativity,
        "redact_pii": q_redact_pii,
        "local_moran": q_local_moran,
        "cell_morton": q_cell_morton,
        "event_rollup": q_event_rollup,
        "event_sessions": q_event_sessions,
        "multimodal_features": q_multimodal,
        "ann_lsh_topk": q_ann_lsh,
        "ann_ivf_topk": q_ann_ivf,
        "neardup_embedding": q_neardup_embedding,
        "neardup_embedding_lsh": q_neardup_embedding_lsh,
    }


# ------------------------------------------------------------------ oracles

_CELL = derived.cell_sql

_LSI_SQL = f"""
WITH ea AS ({EDGES_A_SQL}),
     eb AS ({EDGES_B_SQL}),
     j AS (
  SELECT ea.eid AS eid_a, eb.eid AS eid_b,
         ea.x1 AS ax1, ea.y1 AS ay1, ea.x2 AS ax2, ea.y2 AS ay2,
         eb.x1 AS bx1, eb.y1 AS by1, eb.x2 AS bx2, eb.y2 AS by2,
         (ea.x1 * eb.a + ea.y1 * eb.b + eb.c) AS s_a1,
         (ea.x2 * eb.a + ea.y2 * eb.b + eb.c) AS s_a2,
         (eb.x1 * ea.a + eb.y1 * ea.b + ea.c) AS s_b1,
         (eb.x2 * ea.a + eb.y2 * ea.b + ea.c) AS s_b2,
         ea.a AS aa, ea.b AS ab, eb.a AS ba, eb.b AS bb
  FROM ea, eb
), sos AS (
  SELECT eid_a, eid_b, ax1, ay1, ax2, ay2, bx1, by1, bx2, by2,
         CASE WHEN s_a1 <> 0 THEN s_a1 WHEN ba <> 0 THEN -ba ELSE -bb END AS e_a1,
         CASE WHEN s_a2 <> 0 THEN s_a2 WHEN ba <> 0 THEN -ba ELSE -bb END AS e_a2,
         CASE WHEN s_b1 <> 0 THEN s_b1 WHEN aa <> 0 THEN aa ELSE ab END AS e_b1,
         CASE WHEN s_b2 <> 0 THEN s_b2 WHEN aa <> 0 THEN aa ELSE ab END AS e_b2
  FROM j
)
SELECT eid_a, eid_b FROM sos
WHERE ((e_a1 > 0) <> (e_a2 > 0)) AND ((e_b1 > 0) <> (e_b2 > 0))
  AND NOT ((ax1 = bx1 AND ay1 = by1 AND ax2 = bx2 AND ay2 = by2)
        OR (ax1 = bx2 AND ay1 = by2 AND ax2 = bx1 AND ay2 = by1))
"""

def _pip_core_sql(pts_cte: str, sfx: str = "") -> str:
    """Brute-force exact-limb PIP argmin CTE chain (cand/keyed/best) over
    an `ea` edge CTE; `pts_cte` must expose (point_id, px, py). Shared by
    _PIP_SQL / _FACE_WITHIN_SQL / _OD_MATRIX_SQL so the trickiest SQL in
    this file (the two-limb floor-division keys mirroring
    operators/pip.py) lives once. ``sfx`` suffixes the CTE names so two
    chains can coexist in one query."""
    return f"""cand{sfx} AS (
  SELECT p.point_id, e.eid, e.x1, e.x2, e.a, e.b,
         e.left_polygon_id, e.right_polygon_id,
         (-e.a * p.px - e.c) AS n
  FROM {pts_cte} p, ea e
  WHERE p.px >= least(e.x1, e.x2) AND p.px <= greatest(e.x1, e.x2)
    AND p.px <> greatest(e.x1, e.x2)
    AND (CASE WHEN (p.px * e.a + p.py * e.b + e.c) <> 0
              THEN (p.px * e.a + p.py * e.b + e.c)
              WHEN e.a <> 0 THEN e.a ELSE e.b END) < 0
), keyed{sfx} AS (
  SELECT *,
    (n - ((n % b) + b) % b) // b AS yk_hi,
    ((((n % b) + b) % b) * 2147483648
      - (((n % b) + b) % b) * 2147483648 % b) // b * 2147483648
    + ((((n % b) + b) % b) * 2147483648 % b * 2147483648
       - (((n % b) + b) % b) * 2147483648 % b * 2147483648 % b) // b AS yk_lo,
    (a * 2147483648 - ((a * 2147483648) % b + b) % b) // b AS sk_hi,
    (((a * 2147483648) % b + b) % b * 2147483648
     - ((a * 2147483648) % b + b) % b * 2147483648 % b) // b AS sk_lo
  FROM cand{sfx}
), best{sfx} AS (
  SELECT point_id, eid, x1, x2, left_polygon_id, right_polygon_id,
         row_number() OVER (PARTITION BY point_id
                            ORDER BY yk_hi ASC, yk_lo ASC,
                                     sk_hi DESC, sk_lo DESC, eid ASC) AS rn
  FROM keyed{sfx}
)"""


_PIP_SQL = f"""
WITH ea AS ({EDGES_A_SQL}),
     pts AS ({points_sql(2, 4)}),
     {_pip_core_sql('pts')}
SELECT p.point_id, b.eid AS closest_eid,
       CAST(COALESCE(CASE WHEN b.x1 < b.x2 THEN b.right_polygon_id
                          ELSE b.left_polygon_id END, 0) AS BIGINT) AS face_id
FROM pts p LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (point_id)
"""

# raster<->vector oracle: tile centers re-derived with the identical IEEE
# double chain as operators/tiles.py tile_centers (internal-domain center,
# unscale, re-snap), then the same brute-force exact-key PIP as _PIP_SQL,
# then east/north neighbor comparison (missing neighbor = exterior 0).
_RV_NT = (DERIVED_GRID.grid_size + 7) >> 3  # n_tiles at shift 3
_RV_SPAN = (1 << 3) / DERIVED_GRID.cell_scale
_RV_CX = (
    f"(({-(1 << 28)} + (gx.g + 0.5) * {_RV_SPAN!r}) - {DERIVED_SCALING.dx!r})"
    f" / {DERIVED_SCALING.rx!r}"
)
_RV_CY = (
    f"(({-(1 << 28)} + (gy.g + 0.5) * {_RV_SPAN!r}) - {DERIVED_SCALING.dy!r})"
    f" / {DERIVED_SCALING.ry!r}"
)
_RASTER_VECTORIZE_SQL = f"""
WITH ea AS ({EDGES_A_SQL}),
     centers AS (
  SELECT gx.g * {_RV_NT} + gy.g AS point_id, gx.g AS tile_x, gy.g AS tile_y,
         {derived._snap_sql(_RV_CX, 'x')} AS px,
         {derived._snap_sql(_RV_CY, 'y')} AS py
  FROM generate_series(0, {_RV_NT - 1}) gx(g),
       generate_series(0, {_RV_NT - 1}) gy(g)
), cand AS (
  SELECT p.point_id, e.eid, e.x1, e.x2, e.a, e.b,
         e.left_polygon_id, e.right_polygon_id,
         (-e.a * p.px - e.c) AS n
  FROM centers p, ea e
  WHERE p.px >= least(e.x1, e.x2) AND p.px <= greatest(e.x1, e.x2)
    AND p.px <> greatest(e.x1, e.x2)
    AND (CASE WHEN (p.px * e.a + p.py * e.b + e.c) <> 0
              THEN (p.px * e.a + p.py * e.b + e.c)
              WHEN e.a <> 0 THEN e.a ELSE e.b END) < 0
), keyed AS (
  SELECT *,
    (n - ((n % b) + b) % b) // b AS yk_hi,
    ((((n % b) + b) % b) * 2147483648
      - (((n % b) + b) % b) * 2147483648 % b) // b * 2147483648
    + ((((n % b) + b) % b) * 2147483648 % b * 2147483648
       - (((n % b) + b) % b) * 2147483648 % b * 2147483648 % b) // b AS yk_lo,
    (a * 2147483648 - ((a * 2147483648) % b + b) % b) // b AS sk_hi,
    (((a * 2147483648) % b + b) % b * 2147483648
     - ((a * 2147483648) % b + b) % b * 2147483648 % b) // b AS sk_lo
  FROM cand
), best AS (
  SELECT point_id, eid, x1, x2, left_polygon_id, right_polygon_id,
         row_number() OVER (PARTITION BY point_id
                            ORDER BY yk_hi ASC, yk_lo ASC,
                                     sk_hi DESC, sk_lo DESC, eid ASC) AS rn
  FROM keyed
), located AS (
  SELECT c.tile_x, c.tile_y,
         CAST(COALESCE(CASE WHEN b.x1 < b.x2 THEN b.right_polygon_id
                            ELSE b.left_polygon_id END, 0) AS BIGINT) AS face_id
  FROM centers c LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (point_id)
)
SELECT b.tile_x, b.tile_y, 'v' AS orientation,
       b.face_id AS face_a, COALESCE(e.face_id, 0) AS face_b
FROM located b LEFT JOIN located e
  ON e.tile_x = b.tile_x + 1 AND e.tile_y = b.tile_y
WHERE b.face_id <> COALESCE(e.face_id, 0)
UNION ALL
SELECT b.tile_x, b.tile_y, 'h' AS orientation,
       b.face_id AS face_a, COALESCE(n2.face_id, 0) AS face_b
FROM located b LEFT JOIN located n2
  ON n2.tile_x = b.tile_x AND n2.tile_y = b.tile_y + 1
WHERE b.face_id <> COALESCE(n2.face_id, 0)
"""

_GRID_CELLS_SQL = f"""
WITH ea AS ({EDGES_A_SQL}),
     boxed AS (
  SELECT least({_CELL('x1')}, {_CELL('x2')}) AS ix1,
         greatest({_CELL('x1')}, {_CELL('x2')}) AS ix2,
         least({_CELL('y1')}, {_CELL('y2')}) AS iy1,
         greatest({_CELL('y1')}, {_CELL('y2')}) AS iy2
  FROM ea
), cx AS (
  SELECT CAST(unnest(range(ix1, ix2 + 1)) AS BIGINT) AS cx, iy1, iy2 FROM boxed
)
SELECT cx, CAST(unnest(range(iy1, iy2 + 1)) AS BIGINT) AS cy, 1 AS one
FROM cx
"""

_GRID_CELLS_AGG_SQL = f"""
SELECT cx, cy, COUNT(*) AS n_edges
FROM ({_GRID_CELLS_SQL})
GROUP BY cx, cy
"""


def _cells_of(src_sql: str) -> str:
    return f"""
  SELECT cx, CAST(unnest(range(iy1, iy2 + 1)) AS BIGINT) AS cy FROM (
    SELECT CAST(unnest(range(ix1, ix2 + 1)) AS BIGINT) AS cx, iy1, iy2 FROM (
      SELECT least({_CELL('x1')}, {_CELL('x2')}) AS ix1,
             greatest({_CELL('x1')}, {_CELL('x2')}) AS ix2,
             least({_CELL('y1')}, {_CELL('y2')}) AS iy1,
             greatest({_CELL('y1')}, {_CELL('y2')}) AS iy2
      FROM ({src_sql})
    )
  )"""


_WORKLOAD_SQL = f"""
WITH ca AS (SELECT cx, cy, COUNT(*) AS ne_a FROM ({_cells_of(EDGES_A_SQL)}) GROUP BY cx, cy),
     cb AS (SELECT cx, cy, COUNT(*) AS ne_b FROM ({_cells_of(EDGES_B_SQL)}) GROUP BY cx, cy),
     w AS (SELECT ca.ne_a * cb.ne_b AS workload FROM ca JOIN cb USING (cx, cy))
SELECT CAST(length(CAST(workload AS VARCHAR)) AS BIGINT) AS bucket,
       COUNT(*) AS n_cells, CAST(SUM(workload) AS BIGINT) AS total_workload
FROM w GROUP BY 1
"""

_TILES_SQL = f"""
WITH pts AS ({points_sql(3, 4)})
SELECT CAST(({_CELL('px')} >> 3) AS BIGINT) AS tile_x,
       CAST(({_CELL('py')} >> 3) AS BIGINT) AS tile_y,
       COUNT(*) AS n_points
FROM pts GROUP BY 1, 2
"""

#: every zoom level's tile is the level-6 cell right-shifted (DuckDB >>
#: matches Spark shiftright on non-negative ints)
_TILE_PYRAMID_SQL = f"""
WITH pts AS ({points_sql(3, 4)}),
     z AS (SELECT unnest(generate_series(0, 6)) AS zoom)
SELECT CAST(zoom AS INT) AS zoom,
       CAST(({_CELL('px')} >> (6 - zoom)) AS BIGINT) AS tile_x,
       CAST(({_CELL('py')} >> (6 - zoom)) AS BIGINT) AS tile_y,
       COUNT(*) AS n_points
FROM pts CROSS JOIN z GROUP BY 1, 2, 3
"""

_FETCH_SCHEDULE_SQL = """
WITH u AS (
  SELECT doc_id,
         'https://site' || CAST(doc_id % 97 AS VARCHAR) || '.example/d/'
           || CAST(doc_id AS VARCHAR) AS url,
         'site' || CAST(doc_id % 97 AS VARCHAR) || '.example' AS host
  FROM documents
)
SELECT url, host,
       CAST(row_number() OVER (PARTITION BY host ORDER BY url) - 1 AS BIGINT) AS slot,
       CAST((row_number() OVER (PARTITION BY host ORDER BY url) - 1)
            * (1 + (doc_id % 97) % 5) * 1000 AS BIGINT) AS fetch_offset_ms
FROM u
"""

_KNN_SQL = f"""
WITH qs AS ({points_sql(2, 16)}),
     corpus AS ({points_sql(3, 4)}),
     d AS (
  SELECT q.point_id, c.point_id AS corpus_id,
         (c.px - q.px) * (c.px - q.px) + (c.py - q.py) * (c.py - q.py) AS dist2
  FROM qs q, corpus c
), r AS (
  SELECT *, row_number() OVER (PARTITION BY point_id
                               ORDER BY dist2 ASC, corpus_id ASC) AS rank
  FROM d
)
SELECT point_id, corpus_id, dist2, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 3
"""

_TOKENS = "string_split_regex(trim(text), '\\s+')"

_TOKEN_COUNT_SQL = f"""
SELECT doc_id,
       CAST(length({_TOKENS}) AS BIGINT) AS n_tokens,
       CAST(length(list_distinct({_TOKENS})) AS BIGINT) AS n_distinct_tokens
FROM documents
"""

_STOP = "['the','a','of','and','to','in','is','on','for','with']"

_QUALITY_EXPR = f"""0.4 * least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
  + 0.3 * (CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
           / greatest(CAST(length(text) AS DOUBLE), 1.0))
  + 0.3 * least((CAST(length(list_filter({_TOKENS}, x -> list_contains({_STOP}, lower(x)))) AS DOUBLE)
                 / greatest(CAST(length({_TOKENS}) AS DOUBLE), 1.0)) * 4.0, 1.0)"""

_QUALITY_SQL = f"""
SELECT doc_id,
  {_QUALITY_EXPR}
  AS quality
FROM documents
"""

_LANG_SQL = """
WITH t AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks FROM documents
), h AS (
  SELECT doc_id,
    length(list_filter(toks, x -> list_contains(['the','and','of','to','is'], x))) AS en,
    length(list_filter(toks, x -> list_contains(['der','die','und','das','ist'], x))) AS de,
    length(list_filter(toks, x -> list_contains(['le','la','et','les','est'], x))) AS fr
  FROM t
)
SELECT doc_id,
  CASE WHEN greatest(en, de, fr) = 0 THEN 'und'
       WHEN en = greatest(en, de, fr) THEN 'en'
       WHEN de = greatest(en, de, fr) THEN 'de'
       ELSE 'fr' END AS lang_guess
FROM h
"""

_FINGERPRINT_SQL = """
SELECT doc_id, md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fingerprint
FROM documents
"""

_DEDUP_SQL = """
SELECT md5(text) AS content_hash, MIN(doc_id) AS canonical_id, COUNT(*) AS n_dups
FROM documents GROUP BY 1
"""

_SHINGLES_SQL = """
  SELECT doc_id, substr(text, CAST(pos AS INT), 9) AS shingle
  FROM (
    SELECT doc_id, text, unnest(range(1, greatest(length(text) - 8, 1) + 1)) AS pos
    FROM documents
  )"""

_MINHASH_MINS = ",\n         ".join(
    f"MIN(substr(h, {4 * j + 1}, 32) || substr(h, 1, {4 * j})) AS m{j}" for j in range(8)
)
_MINHASH_UNION = "\nUNION ALL ".join(
    f"SELECT doc_id, CAST({j} AS BIGINT) AS j, m{j} AS minhash FROM g" for j in range(8)
)

_MINHASH_SQL = f"""
WITH sh AS (
  SELECT doc_id, md5(shingle) AS h FROM ({_SHINGLES_SQL})
), g AS (
  SELECT doc_id,
         {_MINHASH_MINS}
  FROM sh GROUP BY doc_id
)
{_MINHASH_UNION}
"""

_LSH_BANDS_SQL = f"""
WITH m AS ({_MINHASH_SQL})
SELECT doc_id, CAST(j // 2 AS BIGINT) AS band,
       string_agg(CAST(j AS VARCHAR) || '=' || minhash, '|'
                  ORDER BY CAST(j AS VARCHAR) || '=' || minhash) AS band_key
FROM m GROUP BY doc_id, j // 2
"""

_NEARDUP_SQL = f"""
WITH bands AS ({_LSH_BANDS_SQL}),
     pairs AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM bands l JOIN bands r ON l.band = r.band AND l.band_key = r.band_key
  WHERE l.doc_id < r.doc_id
), sh AS (SELECT DISTINCT doc_id, shingle FROM ({_SHINGLES_SQL})),
   ns AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
   inter AS (
  SELECT p.id_a, p.id_b, COUNT(*) AS n_inter
  FROM pairs p
  JOIN sh a ON a.doc_id = p.id_a
  JOIN sh b ON b.doc_id = p.id_b AND b.shingle = a.shingle
  GROUP BY p.id_a, p.id_b
)
SELECT p.id_a, p.id_b,
       COALESCE(i.n_inter, 0) AS n_inter, na.n AS n_a, nb.n AS n_b,
       COALESCE(i.n_inter, 0) / CAST(na.n + nb.n - COALESCE(i.n_inter, 0) AS DOUBLE) AS jaccard
FROM pairs p
LEFT JOIN inter i USING (id_a, id_b)
JOIN ns na ON na.doc_id = p.id_a
JOIN ns nb ON nb.doc_id = p.id_b
"""

def _sample_stratified_sql() -> str:
    from rayjoin_spark.functions.textops import hex_threshold

    cases = " ".join(
        f"WHEN '{lang}' THEN '{hex_threshold(frac)}'"
        for lang, frac in sorted(_STRATA_FRACTIONS.items())
    )
    return f"""
SELECT doc_id, lang, source FROM documents
WHERE md5(CAST(doc_id AS VARCHAR)) < CASE lang {cases} ELSE '00000000' END
"""


_DOC_CHUNKS_SQL = """
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents
), e AS (
  SELECT doc_id, toks,
         unnest(range(0, (greatest(len(toks), 1) - 1) // 30 + 1)) AS chunk_id
  FROM t
)
SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       array_to_string(list_slice(toks, chunk_id * 30 + 1, chunk_id * 30 + 40), ' ') AS chunk_text,
       CAST(len(list_slice(toks, chunk_id * 30 + 1, chunk_id * 30 + 40)) AS BIGINT) AS n_chunk_tokens
FROM e
"""


_NEARDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE verified AS (
  SELECT id_a, id_b FROM ({_NEARDUP_SQL})
  WHERE n_inter * 2 >= n_a + n_b - n_inter
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM verified
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM verified
), reach(id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT reach.id, edges.dst FROM reach JOIN edges ON edges.src = reach.r
), lab AS (
  SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id
), sz AS (
  SELECT cluster_id, COUNT(*) AS cluster_size FROM lab GROUP BY cluster_id
)
SELECT lab.doc_id, lab.cluster_id, sz.cluster_size,
       lab.doc_id = lab.cluster_id AS is_canonical
FROM lab JOIN sz USING (cluster_id)
"""

_SIMHASH_SQL = """
WITH sh AS (
  SELECT doc_id, md5(substr(t, CAST(pos AS INT), 9)) AS h
  FROM (
    SELECT doc_id, substr(text, 1, 128) AS t,
           unnest(range(1, greatest(length(substr(text, 1, 128)) - 8, 1) + 1)) AS pos
    FROM documents
  )
), bits AS (
  SELECT doc_id, CAST(bit AS INT) AS bit,
         ((strpos('0123456789abcdef', substr(h, CAST(bit // 4 AS INT) + 1, 1)) - 1)
          // CAST(power(2, 3 - bit % 4) AS INT)) % 2 AS bitval
  FROM sh, (SELECT unnest(range(0, 16)) AS bit)
), votes AS (
  SELECT doc_id, bit, SUM(CASE WHEN bitval = 1 THEN 1 ELSE -1 END) AS v
  FROM bits GROUP BY doc_id, bit
)
SELECT doc_id,
       CAST(SUM(CASE WHEN v > 0 THEN CAST(power(2, bit) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
FROM votes GROUP BY doc_id
"""

_TFIDF_SQL = """
WITH t AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM t WHERE term <> '' GROUP BY doc_id, term
), dfreq AS (
  SELECT term, COUNT(*) AS df_t FROM tf GROUP BY term
), nd AS (SELECT COUNT(*) AS n_docs FROM documents),
   scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         tf.tf * ((nd.n_docs * 1000000) // dfreq.df_t) AS score
  FROM tf JOIN dfreq USING (term) CROSS JOIN nd
), ranked AS (
  SELECT doc_id, term, tf, score,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank
  FROM scored
)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(score AS BIGINT) AS score,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5
"""

_REPETITION_SQL = """
WITH t AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks FROM documents
), g AS (
  SELECT doc_id, array_to_string(list_slice(toks, CAST(i AS INT), CAST(i AS INT) + 2), ' ') AS gram
  FROM (SELECT doc_id, toks, unnest(range(1, greatest(len(toks) - 2, 0) + 1)) AS i FROM t)
), per AS (
  SELECT doc_id, COUNT(*) AS total_ngrams, COUNT(DISTINCT gram) AS distinct_ngrams
  FROM g GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(per.total_ngrams, 0) AS BIGINT) AS total_ngrams,
       CAST(COALESCE(per.distinct_ngrams, 0) AS BIGINT) AS distinct_ngrams,
       (COALESCE(per.total_ngrams, 0) - COALESCE(per.distinct_ngrams, 0))
         / CAST(greatest(COALESCE(per.total_ngrams, 0), 1) AS DOUBLE) AS rep_ratio
FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
"""

#: shard = first 12 hex chars of md5(key) as int, mod n — mirrors
#: rayjoin_spark.functions.textops.shard_assign
def _shard_sql(n: int) -> str:
    return (
        "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT)"
        f" % {n}"
    )


_SHARD_STATS_SQL = f"""
WITH s AS (
  SELECT doc_id, n_chars, {_shard_sql(32)} AS shard FROM documents
)
SELECT CAST(shard AS BIGINT) AS shard, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_size,
       MIN(doc_id) AS min_key, MAX(doc_id) AS max_key
FROM s GROUP BY shard
"""

_PACK_SQL = f"""
WITH d AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
         {_shard_sql(16)} AS shard
  FROM documents
), c AS (
  SELECT doc_id, shard, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_off
  FROM d
)
SELECT doc_id, CAST(shard AS BIGINT) AS shard, n_tokens,
       end_off - n_tokens AS start_off,
       (end_off - n_tokens) // 256 AS pack_id,
       (end_off - n_tokens) % 256 AS pack_off
FROM c
"""

#: zonal stats = the PIP oracle grouped by face (value = point_id % 1000,
#: integer so SUM is order-independent and engine-exact)
_ZONAL_SQL_TMPL = """
WITH pip AS ({pip_sql})
SELECT CAST(face_id AS BIGINT) AS face_id,
       COUNT(*) AS n_points,
       CAST(SUM(point_id % 1000) AS BIGINT) AS sum_val,
       CAST(MIN(point_id % 1000) AS BIGINT) AS min_val,
       CAST(MAX(point_id % 1000) AS BIGINT) AS max_val
FROM pip GROUP BY face_id
"""

_DIST_JOIN_SQL = f"""
WITH q AS ({points_sql(2, 16)}),
     c AS ({points_sql(3, 4)})
SELECT q.point_id AS point_id, c.point_id AS corpus_id,
       (q.px - c.px) * (q.px - c.px) + (q.py - c.py) * (q.py - c.py) AS dist2
FROM q, c
WHERE (q.px - c.px) * (q.px - c.px) + (q.py - c.py) * (q.py - c.py)
      <= {(1 << 22) ** 2}
"""

#: brute-force nearest-edge with the engine's exact limb key in HUGEINT:
#: d2f = floor(d2); lo1/lo2 = next 59-bit fractional limbs of cross^2/len2
#: (c2 <= 2^118 < 2^127; (c2 % len2) * 2^59 <= 2^118 — no overflow)
_NEAREST_EDGE_SQL = f"""
WITH qs AS ({points_sql(2, 16)}),
     e AS ({derived.EDGES_A_SQL}),
     d AS (
  SELECT q.point_id, e.eid,
         (e.x2 - e.x1) AS dx, (e.y2 - e.y1) AS dy,
         (q.px - e.x1) AS wx, (q.py - e.y1) AS wy,
         (q.px - e.x2) AS vx, (q.py - e.y2) AS vy
  FROM qs q CROSS JOIN e
), m AS (
  SELECT point_id, eid,
         dx * wx + dy * wy AS dot,
         dx * dx + dy * dy AS len2,
         CAST(dx * dx + dy * dy AS HUGEINT) AS len2h,
         CAST(dx * wy - dy * wx AS HUGEINT)
           * CAST(dx * wy - dy * wx AS HUGEINT) AS c2,
         wx * wx + wy * wy AS d2a, vx * vx + vy * vy AS d2b
  FROM d
), k AS (
  SELECT point_id, eid,
         CASE WHEN len2 = 0 OR dot <= 0 THEN d2a
              WHEN dot >= len2 THEN d2b
              ELSE CAST(c2 // len2h AS BIGINT) END AS d2f,
         CASE WHEN len2 = 0 OR dot <= 0 OR dot >= len2 THEN 0
              ELSE CAST(((c2 % len2h) * 576460752303423488) // len2h AS BIGINT)
              END AS lo1,
         CASE WHEN len2 = 0 OR dot <= 0 OR dot >= len2 THEN 0
              ELSE CAST((((c2 % len2h) * 576460752303423488) % len2h)
                        * 576460752303423488 // len2h AS BIGINT) END AS lo2
  FROM m
), r AS (
  SELECT point_id, eid, d2f,
         row_number() OVER (PARTITION BY point_id
                            ORDER BY d2f, lo1, lo2, eid) AS rn
  FROM k
)
SELECT point_id, eid, d2f AS dist2 FROM r WHERE rn = 1
"""

#: independent hull-vertex characterization (Caratheodory in 2-D): a
#: distinct point p is NOT extreme iff some nondegenerate closed triangle
#: of peers contains it, or it lies on a segment between two peers.
#: All sign tests are int64 (cross of snapped diffs <= 2^59).
_CONVEX_HULL_SQL = f"""
WITH raw AS ({points_sql(2, 16)}),
pts AS (SELECT DISTINCT point_id % 96 AS group_id, px AS x, py AS y FROM raw),
tri AS (
  SELECT a.group_id,
         a.x AS ax, a.y AS ay, b.x AS bx, b.y AS by_, c.x AS cx, c.y AS cy
  FROM pts a JOIN pts b USING (group_id) JOIN pts c USING (group_id)
  WHERE (a.x < b.x OR (a.x = b.x AND a.y < b.y))
    AND (b.x < c.x OR (b.x = c.x AND b.y < c.y))
    AND (b.x - a.x) * (c.y - a.y) - (b.y - a.y) * (c.x - a.x) <> 0
),
inside AS (
  SELECT DISTINCT p.group_id, p.x, p.y
  FROM pts p JOIN tri t ON p.group_id = t.group_id
  WHERE NOT ((p.x = t.ax AND p.y = t.ay) OR (p.x = t.bx AND p.y = t.by_)
             OR (p.x = t.cx AND p.y = t.cy))
    AND ((  (t.bx - t.ax) * (p.y - t.ay) - (t.by_ - t.ay) * (p.x - t.ax) >= 0
        AND (t.cx - t.bx) * (p.y - t.by_) - (t.cy - t.by_) * (p.x - t.bx) >= 0
        AND (t.ax - t.cx) * (p.y - t.cy) - (t.ay - t.cy) * (p.x - t.cx) >= 0)
     OR (   (t.bx - t.ax) * (p.y - t.ay) - (t.by_ - t.ay) * (p.x - t.ax) <= 0
        AND (t.cx - t.bx) * (p.y - t.by_) - (t.cy - t.by_) * (p.x - t.bx) <= 0
        AND (t.ax - t.cx) * (p.y - t.cy) - (t.ay - t.cy) * (p.x - t.cx) <= 0))
),
onseg AS (
  SELECT DISTINCT p.group_id, p.x, p.y
  FROM pts p JOIN pts a ON p.group_id = a.group_id
             JOIN pts b ON p.group_id = b.group_id
  WHERE (a.x < b.x OR (a.x = b.x AND a.y < b.y))
    AND NOT ((p.x = a.x AND p.y = a.y) OR (p.x = b.x AND p.y = b.y))
    AND (b.x - a.x) * (p.y - a.y) - (b.y - a.y) * (p.x - a.x) = 0
    AND p.x BETWEEN least(a.x, b.x) AND greatest(a.x, b.x)
    AND p.y BETWEEN least(a.y, b.y) AND greatest(a.y, b.y)
)
SELECT group_id, x, y FROM pts
EXCEPT SELECT group_id, x, y FROM inside
EXCEPT SELECT group_id, x, y FROM onseg
"""

_GROUP_DIAMETER_SQL = f"""
WITH raw AS ({points_sql(2, 16)}),
pts AS (SELECT DISTINCT point_id % 96 AS group_id, px AS x, py AS y FROM raw),
pairs AS (
  SELECT p.group_id, p.x AS x1, p.y AS y1, q.x AS x2, q.y AS y2,
         (p.x - q.x) * (p.x - q.x) + (p.y - q.y) * (p.y - q.y) AS dist2
  FROM pts p JOIN pts q USING (group_id)
  WHERE (p.x < q.x OR (p.x = q.x AND p.y <= q.y))
), r AS (
  SELECT *, row_number() OVER (PARTITION BY group_id
                               ORDER BY dist2 DESC, x1, y1, x2, y2) AS rn
  FROM pairs
)
SELECT group_id, x1, y1, x2, y2, dist2 FROM r WHERE rn = 1
"""

_BM25_SQL = """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                     x -> x <> '') AS toks
  FROM documents
), b AS (
  SELECT doc_id, len(toks) AS dl,
         list_filter(toks, x -> list_contains(['spark','join','data','window'], x)) AS q
  FROM t
), tf AS (
  SELECT doc_id, dl, term, COUNT(*) AS tf
  FROM (SELECT doc_id, dl, unnest(q) AS term FROM b) GROUP BY 1, 2, 3
), dfreq AS (SELECT term, COUNT(*) AS df_t FROM tf GROUP BY 1),
stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS l_total FROM b),
scored AS (
  SELECT tf.doc_id,
         CAST((((2 * CAST(n_docs AS HUGEINT) - 2 * df_t + 1) * 1000000)
               // (2 * df_t + 1))
              * ((44 * CAST(tf AS HUGEINT) * l_total * 1000000000)
                 // (20 * CAST(tf AS HUGEINT) * l_total
                     + 6 * CAST(l_total AS HUGEINT)
                     + 18 * CAST(dl AS HUGEINT) * n_docs))
              // 1000000000 AS BIGINT) AS term_score
  FROM tf JOIN dfreq USING (term) CROSS JOIN stats
), agg AS (
  SELECT doc_id, SUM(term_score) AS score FROM scored GROUP BY 1
)
SELECT doc_id, CAST(score AS BIGINT) AS score,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
FROM agg ORDER BY score DESC, doc_id LIMIT 20
"""

_IDW_SQL = f"""
WITH qs AS ({points_sql(2, 16)}),
     corpus AS ({points_sql(3, 4)}),
     d AS (
  SELECT q.point_id, c.point_id AS corpus_id,
         (c.px - q.px) * (c.px - q.px) + (c.py - q.py) * (c.py - q.py) AS dist2
  FROM qs q, corpus c
), r AS (
  SELECT *, row_number() OVER (PARTITION BY point_id
                               ORDER BY dist2 ASC, corpus_id ASC) AS rank
  FROM d
), nn AS (SELECT * FROM r WHERE rank <= 5),
a AS (
  SELECT point_id,
         MIN(CASE WHEN dist2 = 0 THEN corpus_id END) AS exact_id,
         SUM(CASE WHEN dist2 > 0 THEN CAST(corpus_id % 1000 AS HUGEINT)
                  * (1000000000000000 // dist2) END) AS num,
         SUM(CASE WHEN dist2 > 0
                  THEN CAST(1000000000000000 // dist2 AS HUGEINT) END) AS den,
         MIN(CASE WHEN rank = 1 THEN corpus_id % 1000 END) AS nearest_v,
         COUNT(*) AS n
  FROM nn GROUP BY 1
)
SELECT point_id,
       CAST(CASE WHEN exact_id IS NOT NULL THEN exact_id % 1000
                 WHEN den IS NULL OR den = 0 THEN nearest_v
                 ELSE num // den END AS BIGINT) AS value_q,
       CAST(n AS BIGINT) AS n_neighbors
FROM a
"""

_FACE_WITHIN_SQL = f"""
WITH ea AS ({EDGES_A_SQL}),
     eb AS ({EDGES_B_SQL}),
     vb AS (
  SELECT left_polygon_id AS f, x1 AS x, y1 AS y FROM eb
  UNION ALL SELECT left_polygon_id, x2, y2 FROM eb
  UNION ALL SELECT right_polygon_id, x1, y1 FROM eb
  UNION ALL SELECT right_polygon_id, x2, y2 FROM eb
), rep AS (
  -- face 0 = exterior / no-polygon marker: never a containment subject
  SELECT f AS point_id, x AS px, y AS py FROM (
    SELECT *, row_number() OVER (PARTITION BY f ORDER BY x, y) AS rn FROM vb
    WHERE f <> 0
  ) WHERE rn = 1
), {_pip_core_sql('rep')}, located AS (
  SELECT p.point_id AS face_b,
         CAST(COALESCE(CASE WHEN b.x1 < b.x2 THEN b.right_polygon_id
                            ELSE b.left_polygon_id END, 0) AS BIGINT) AS face_a
  FROM rep p LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (point_id)
), lj AS (
  SELECT ea.left_polygon_id AS la, ea.right_polygon_id AS ra,
         eb.left_polygon_id AS lb, eb.right_polygon_id AS rb,
         ea.x1 AS ax1, ea.y1 AS ay1, ea.x2 AS ax2, ea.y2 AS ay2,
         eb.x1 AS bx1, eb.y1 AS by1, eb.x2 AS bx2, eb.y2 AS by2,
         (ea.x1 * eb.a + ea.y1 * eb.b + eb.c) AS s_a1,
         (ea.x2 * eb.a + ea.y2 * eb.b + eb.c) AS s_a2,
         (eb.x1 * ea.a + eb.y1 * ea.b + ea.c) AS s_b1,
         (eb.x2 * ea.a + eb.y2 * ea.b + ea.c) AS s_b2,
         ea.a AS aa, ea.b AS ab, eb.a AS ba, eb.b AS bb
  FROM ea, eb
), lsos AS (
  SELECT la, ra, lb, rb, ax1, ay1, ax2, ay2, bx1, by1, bx2, by2,
         CASE WHEN s_a1 <> 0 THEN s_a1 WHEN ba <> 0 THEN -ba ELSE -bb END AS e_a1,
         CASE WHEN s_a2 <> 0 THEN s_a2 WHEN ba <> 0 THEN -ba ELSE -bb END AS e_a2,
         CASE WHEN s_b1 <> 0 THEN s_b1 WHEN aa <> 0 THEN aa ELSE ab END AS e_b1,
         CASE WHEN s_b2 <> 0 THEN s_b2 WHEN aa <> 0 THEN aa ELSE ab END AS e_b2
  FROM lj
), poison AS (
  SELECT DISTINCT u.fa AS face_a, v.fb AS face_b
  FROM (
    SELECT la, ra, lb, rb FROM lsos
    WHERE ((e_a1 > 0) <> (e_a2 > 0)) AND ((e_b1 > 0) <> (e_b2 > 0))
      AND NOT ((ax1 = bx1 AND ay1 = by1 AND ax2 = bx2 AND ay2 = by2)
            OR (ax1 = bx2 AND ay1 = by2 AND ax2 = bx1 AND ay2 = by1))
  ) s, (VALUES (0), (1)) su(i), (VALUES (0), (1)) sv(j),
  LATERAL (SELECT CASE WHEN su.i = 0 THEN s.la ELSE s.ra END AS fa) u,
  LATERAL (SELECT CASE WHEN sv.j = 0 THEN s.lb ELSE s.rb END AS fb) v
)
SELECT l.face_b, l.face_a FROM located l
WHERE l.face_a <> 0
  AND NOT EXISTS (SELECT 1 FROM poison w
                  WHERE w.face_a = l.face_a AND w.face_b = l.face_b)
"""

_TILE_TOP_HOSTS_SQL = """
WITH pts AS (
  SELECT doc_id,
         CAST((doc_id * 2654435761) % 360000001 - 180000000 AS BIGINT) AS lon_udeg,
         CAST((doc_id * 2246822519) % 170000001 - 85000000 AS BIGINT) AS lat_udeg,
         'site' || CAST(doc_id % 97 AS VARCHAR) || '.example' AS host
  FROM documents
), r AS (
  SELECT *,
         CAST(greatest(-85051130, least(85051130, lat_udeg)) AS DOUBLE)
           / 1000000.0 * (pi() / 180.0) AS lr
  FROM pts
), t AS (
  SELECT host,
         greatest(CAST(0 AS BIGINT), least(CAST(31 AS BIGINT),
           ((lon_udeg + 180000000) * 32) // 360000000)) AS tx,
         greatest(CAST(0 AS BIGINT), least(CAST(31 AS BIGINT),
           CAST(floor((1.0 - ln(tan(lr) + sqrt(tan(lr) * tan(lr) + 1.0)) / pi())
                      / 2.0 * 32.0) AS BIGINT))) AS ty
  FROM r
), c AS (
  SELECT tx, ty, host, COUNT(*) AS n_pages FROM t GROUP BY 1, 2, 3
), rk AS (
  SELECT *, row_number() OVER (PARTITION BY tx, ty
                               ORDER BY n_pages DESC, host ASC) AS rn
  FROM c
)
SELECT tx, ty, host, n_pages, CAST(rn - 1 AS BIGINT) AS rnk
FROM rk WHERE rn <= 3
"""

_ROUTE_LENGTH_SQL = """
WITH pts AS (
  SELECT doc_id % 97 AS route_id, doc_id AS seq,
         CAST((doc_id * 2654435761) % 360000001 - 180000000 AS BIGINT) AS lon_udeg,
         CAST((doc_id * 2246822519) % 170000001 - 85000000 AS BIGINT) AS lat_udeg
  FROM documents
), lagged AS (
  SELECT route_id, lon_udeg, lat_udeg,
         lag(lon_udeg) OVER (PARTITION BY route_id ORDER BY seq) AS plon,
         lag(lat_udeg) OVER (PARTITION BY route_id ORDER BY seq) AS plat
  FROM pts
), legs AS (
  SELECT route_id,
         CASE WHEN plon IS NULL THEN NULL ELSE
           CAST(round(12742000.0 * asin(sqrt(
             sin(CAST(lat_udeg - plat AS DOUBLE) * (pi() / 180.0 / 1000000.0) / 2.0)
               * sin(CAST(lat_udeg - plat AS DOUBLE) * (pi() / 180.0 / 1000000.0) / 2.0)
             + cos(CAST(plat AS DOUBLE) * (pi() / 180.0 / 1000000.0))
               * cos(CAST(lat_udeg AS DOUBLE) * (pi() / 180.0 / 1000000.0))
               * sin(CAST(lon_udeg - plon AS DOUBLE) * (pi() / 180.0 / 1000000.0) / 2.0)
               * sin(CAST(lon_udeg - plon AS DOUBLE) * (pi() / 180.0 / 1000000.0) / 2.0)
           ))) AS BIGINT) END AS leg_m
  FROM lagged
)
SELECT route_id, CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(COALESCE(SUM(leg_m), 0) AS BIGINT) AS length_m
FROM legs GROUP BY 1
"""

_OD_MATRIX_SQL = f"""
WITH ea AS ({EDGES_A_SQL}),
     o AS ({points_sql(2, 16)}),
     d AS (
  SELECT o_orderkey AS point_id,
         {derived._snap_sql(f'CAST((o_orderkey * 28657) % {derived.P} AS DOUBLE)', 'x')} AS px,
         {derived._snap_sql(f'CAST((o_orderkey * 14449) % {derived.P} AS DOUBLE)', 'y')} AS py
  FROM orders WHERE o_orderkey % 16 = 2
),
{_pip_core_sql('o', '_o')},
{_pip_core_sql('d', '_d')},
lo AS (
  SELECT p.point_id,
         CAST(COALESCE(CASE WHEN b.x1 < b.x2 THEN b.right_polygon_id
                            ELSE b.left_polygon_id END, 0) AS BIGINT) AS face_o
  FROM o p LEFT JOIN (SELECT * FROM best_o WHERE rn = 1) b USING (point_id)
), ld AS (
  SELECT p.point_id,
         CAST(COALESCE(CASE WHEN b.x1 < b.x2 THEN b.right_polygon_id
                            ELSE b.left_polygon_id END, 0) AS BIGINT) AS face_d
  FROM d p LEFT JOIN (SELECT * FROM best_d WHERE rn = 1) b USING (point_id)
)
SELECT face_o, face_d, COUNT(*) AS n_trips
FROM lo JOIN ld USING (point_id) GROUP BY 1, 2
"""

_HOTSPOT_SQL = f"""
WITH pts AS ({points_sql(3, 4)}),
t AS (
  SELECT CAST(({_CELL('px')} >> 3) AS BIGINT) AS tile_x,
         CAST(({_CELL('py')} >> 3) AS BIGINT) AS tile_y,
         COUNT(*) AS n
  FROM pts GROUP BY 1, 2
), stats AS (SELECT COUNT(*) AS n_tiles, SUM(n) AS total FROM t),
probes AS (
  SELECT t.tile_x, t.tile_y, t.n,
         t.tile_x + dx.v AS nx, t.tile_y + dy.v AS ny
  FROM t, (VALUES (-1), (0), (1)) dx(v), (VALUES (-1), (0), (1)) dy(v)
), agg AS (
  SELECT p.tile_x, p.tile_y, p.n,
         SUM(COALESCE(nb.n, 0)) AS nbr_sum
  FROM probes p LEFT JOIN t nb ON nb.tile_x = p.nx AND nb.tile_y = p.ny
  GROUP BY 1, 2, 3
)
SELECT tile_x, tile_y, n AS n_points, CAST(nbr_sum AS BIGINT) AS nbr_sum,
       nbr_sum * n_tiles * 100 > 9 * total * 150 AS hot
FROM agg CROSS JOIN stats
"""

#: global Moran's I as the exact fraction over rook-neighbor tile pairs:
#: s_i = N*x_i - T (scaled deviation; the N^2 cancels in the ratio), one
#: row (n_tiles, w_sum, moran_num, moran_den). HUGEINT products mirror
#: the engine's decimal(38,0); bigint at the boundary.
_MORAN_SQL = f"""
WITH pts AS ({points_sql(3, 4)}),
t AS (
  SELECT CAST(({_CELL('px')} >> 3) AS BIGINT) AS tile_x,
         CAST(({_CELL('py')} >> 3) AS BIGINT) AS tile_y,
         COUNT(*) AS n
  FROM pts GROUP BY 1, 2
), stats AS (SELECT COUNT(*) AS n_tiles, SUM(n) AS total FROM t),
s AS (
  SELECT tile_x, tile_y,
         CAST(n_tiles AS HUGEINT) * n - total AS s
  FROM t CROSS JOIN stats
),
probes AS (
  SELECT s.s, s.tile_x + o.dx AS nx, s.tile_y + o.dy AS ny
  FROM s, (VALUES (-1, 0), (1, 0), (0, -1), (0, 1)) o(dx, dy)
),
cr AS (
  SELECT COUNT(*) AS w_sum, SUM(p.s * nb.s) AS num
  FROM probes p JOIN s nb ON nb.tile_x = p.nx AND nb.tile_y = p.ny
)
SELECT (SELECT CAST(n_tiles AS BIGINT) FROM stats) AS n_tiles,
       CAST(w_sum AS BIGINT) AS w_sum,
       CAST(num AS BIGINT) AS moran_num,
       (SELECT CAST(SUM(s * s) AS BIGINT) FROM s) AS moran_den
FROM cr
"""

#: LSI pairs (same SoS chain as _LSI_SQL, geometry kept) -> exact
#: HUGEINT intersection point (mirrors operators/lsi.with_xsect_point:
#: sign-normalized den, bbox clamp) -> exact rational floor division to
#: 2^25-wide tiles -> count. W = 33554432; M = den * W <= 2^84 fits
#: HUGEINT.
_XSECT_DENSITY_SQL = f"""
WITH ea AS ({EDGES_A_SQL}),
     eb AS ({EDGES_B_SQL}),
     j AS (
  SELECT ea.x1 AS ax1, ea.y1 AS ay1, ea.x2 AS ax2, ea.y2 AS ay2,
         eb.x1 AS bx1, eb.y1 AS by1, eb.x2 AS bx2, eb.y2 AS by2,
         (ea.x1 * eb.a + ea.y1 * eb.b + eb.c) AS s_a1,
         (ea.x2 * eb.a + ea.y2 * eb.b + eb.c) AS s_a2,
         (eb.x1 * ea.a + eb.y1 * ea.b + ea.c) AS s_b1,
         (eb.x2 * ea.a + eb.y2 * ea.b + ea.c) AS s_b2,
         ea.a AS aa, ea.b AS ab_, ea.c AS ac,
         eb.a AS ba, eb.b AS bb, eb.c AS bc
  FROM ea, eb
), sos AS (
  SELECT *,
         CASE WHEN s_a1 <> 0 THEN s_a1 WHEN ba <> 0 THEN -ba ELSE -bb END AS e_a1,
         CASE WHEN s_a2 <> 0 THEN s_a2 WHEN ba <> 0 THEN -ba ELSE -bb END AS e_a2,
         CASE WHEN s_b1 <> 0 THEN s_b1 WHEN aa <> 0 THEN aa ELSE ab_ END AS e_b1,
         CASE WHEN s_b2 <> 0 THEN s_b2 WHEN aa <> 0 THEN aa ELSE ab_ END AS e_b2
  FROM j
), hits AS (
  SELECT * FROM sos
  WHERE ((e_a1 > 0) <> (e_a2 > 0)) AND ((e_b1 > 0) <> (e_b2 > 0))
    AND NOT ((ax1 = bx1 AND ay1 = by1 AND ax2 = bx2 AND ay2 = by2)
          OR (ax1 = bx2 AND ay1 = by2 AND ax2 = bx1 AND ay2 = by1))
), x0 AS (
  SELECT CAST(aa AS HUGEINT) * bb - CAST(ba AS HUGEINT) * ab_ AS den0,
         CAST(bc AS HUGEINT) * ab_ - CAST(ac AS HUGEINT) * bb AS numx0,
         CAST(ba AS HUGEINT) * ac - CAST(aa AS HUGEINT) * bc AS numy0,
         least(ax1, ax2, bx1, bx2) AS lo_x, greatest(ax1, ax2, bx1, bx2) AS hi_x,
         least(ay1, ay2, by1, by2) AS lo_y, greatest(ay1, ay2, by1, by2) AS hi_y
  FROM hits
), xn AS (
  SELECT CASE WHEN den0 < 0 THEN -den0 ELSE den0 END AS den,
         CASE WHEN den0 < 0 THEN -numx0 ELSE numx0 END AS num_x0,
         CASE WHEN den0 < 0 THEN -numy0 ELSE numy0 END AS num_y0,
         lo_x, hi_x, lo_y, hi_y
  FROM x0
), cl AS (
  SELECT den, den * 33554432 AS m,
         CASE WHEN num_x0 < lo_x * den THEN lo_x * den
              WHEN num_x0 > hi_x * den THEN hi_x * den ELSE num_x0 END AS num_x,
         CASE WHEN num_y0 < lo_y * den THEN lo_y * den
              WHEN num_y0 > hi_y * den THEN hi_y * den ELSE num_y0 END AS num_y
  FROM xn
), tiles AS (
  SELECT (num_x - ((num_x % m) + m) % m) // m AS tile_x,
         (num_y - ((num_y % m) + m) % m) // m AS tile_y
  FROM cl
)
SELECT CAST(tile_x AS BIGINT) AS tile_x, CAST(tile_y AS BIGINT) AS tile_y,
       CAST(COUNT(*) AS BIGINT) AS n_xsects
FROM tiles GROUP BY 1, 2
"""

_LOCAL_MORAN_SQL = f"""
WITH pts AS ({points_sql(3, 4)}),
t AS (
  SELECT CAST(({_CELL('px')} >> 3) AS BIGINT) AS tile_x,
         CAST(({_CELL('py')} >> 3) AS BIGINT) AS tile_y,
         COUNT(*) AS n
  FROM pts GROUP BY 1, 2
), stats AS (SELECT COUNT(*) AS n_tiles, SUM(n) AS total FROM t),
s AS (
  SELECT tile_x, tile_y, n,
         CAST(n_tiles AS HUGEINT) * n - total AS s
  FROM t CROSS JOIN stats
),
probes AS (
  SELECT s.tile_x, s.tile_y, s.n, s.s,
         s.tile_x + o.dx AS nx, s.tile_y + o.dy AS ny
  FROM s, (VALUES (-1, 0), (1, 0), (0, -1), (0, 1)) o(dx, dy)
)
SELECT p.tile_x, p.tile_y, CAST(p.n AS BIGINT) AS n_points,
       CAST(p.s AS BIGINT) AS s,
       CAST(COUNT(nb.s) AS BIGINT) AS w_i,
       CAST(p.s * COALESCE(SUM(nb.s), 0) AS BIGINT) AS local_num
FROM probes p
LEFT JOIN s nb ON nb.tile_x = p.nx AND nb.tile_y = p.ny
GROUP BY p.tile_x, p.tile_y, p.n, p.s
"""

_BURST_SQL = """
WITH cnt AS (
  SELECT event_type,
         (epoch_us(ts) - ((epoch_us(ts) % 3600000000 + 3600000000) % 3600000000))
           // 3600000000 AS bucket,
         COUNT(*) AS n_events
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
), w AS (
  SELECT event_type, bucket, n_events,
         COALESCE(SUM(n_events) OVER (PARTITION BY event_type ORDER BY bucket
                        ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING), 0) AS prev_sum,
         COUNT(n_events) OVER (PARTITION BY event_type ORDER BY bucket
                        ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING) AS "trailing"
  FROM cnt
)
SELECT event_type, CAST(bucket AS BIGINT) AS bucket,
       CAST(n_events AS BIGINT) AS n_events,
       CAST(prev_sum AS BIGINT) AS prev_sum,
       CAST("trailing" AS BIGINT) AS "trailing",
       "trailing" >= 3 AND n_events * "trailing" >= 3 * prev_sum AS burst
FROM w
"""

def _rect_join_sql() -> str:
    """Brute-force AABB overlap join over both snapped rect fixtures —
    independent of the engine's cell bucketing + ownership dedup."""
    from rayjoin_spark.sources.derived import rects_sql

    return f"""
WITH ra AS ({rects_sql()}),
rb AS ({_rects_b_sql()})
SELECT a.rect_id AS rect_a, b.rect_id AS rect_b
FROM ra a, rb b
WHERE a.rx1 <= b.rx2 AND b.rx1 <= a.rx2
  AND a.ry1 <= b.ry2 AND b.ry1 <= a.ry2
"""


_TILE_QUANTILES_SQL = f"""
WITH pts AS ({points_sql(3, 4)}),
v AS (
  SELECT CAST(({_CELL('px')} >> 3) AS BIGINT) * 4096
         + CAST(({_CELL('py')} >> 3) AS BIGINT) AS tile_key,
         point_id % 1000 AS value
  FROM pts
),
hist AS (SELECT tile_key, value, COUNT(*) AS c FROM v GROUP BY 1, 2),
cum AS (
  SELECT tile_key, value, c,
         SUM(c) OVER (PARTITION BY tile_key ORDER BY value
                      ROWS UNBOUNDED PRECEDING) AS cm
  FROM hist
),
tot AS (SELECT tile_key, SUM(c) AS n_rows FROM hist GROUP BY 1)
SELECT c.tile_key, CAST(t.n_rows AS BIGINT) AS n_rows,
       CAST(MIN(CASE WHEN cm >= ((t.n_rows - 1) * 25) // 100 + 1 THEN value END) AS BIGINT) AS p25,
       CAST(MIN(CASE WHEN cm >= ((t.n_rows - 1) * 50) // 100 + 1 THEN value END) AS BIGINT) AS p50,
       CAST(MIN(CASE WHEN cm >= ((t.n_rows - 1) * 75) // 100 + 1 THEN value END) AS BIGINT) AS p75
FROM cum c JOIN tot t USING (tile_key)
GROUP BY c.tile_key, t.n_rows
"""

_CLOSEST_PAIR_SQL = f"""
WITH pts AS ({points_sql(2, 4)}),
pr AS (
  SELECT a.point_id AS pa, b.point_id AS pb,
         (a.px - b.px) * (a.px - b.px) + (a.py - b.py) * (a.py - b.py) AS d2
  FROM pts a JOIN pts b ON a.point_id < b.point_id
)
SELECT pa AS point_a, pb AS point_b, CAST(d2 AS BIGINT) AS dist2
FROM pr ORDER BY d2, pa, pb LIMIT 1
"""

_SKYLINE_SQL = f"""
WITH raw AS ({points_sql(2, 4)}),
pts AS (SELECT DISTINCT px AS x, py AS y FROM raw)
SELECT x, y FROM pts p
WHERE NOT EXISTS (
  SELECT 1 FROM pts q
  WHERE q.x <= p.x AND q.y <= p.y AND (q.x < p.x OR q.y < p.y)
)
"""

_DBSCAN_SQL = f"""
WITH RECURSIVE pts AS (
  SELECT doc_id AS point_id,
         CAST(CASE WHEN doc_id % 10 < 7
              THEN ((doc_id % 20) * 2654435761) % 300000001 - 150000000
                   + (doc_id * 48271) % 2000001 - 1000000
              ELSE (doc_id * 1103515245) % 360000001 - 180000000 END AS BIGINT) AS px,
         CAST(CASE WHEN doc_id % 10 < 7
              THEN ((doc_id % 20) * 2246822519) % 150000001 - 75000000
                   + (doc_id * 69621) % 2000001 - 1000000
              ELSE (doc_id * 12345791) % 170000001 - 85000000 END AS BIGINT) AS py
  FROM documents
),
nb AS (
  SELECT p.point_id AS a, q.point_id AS b
  FROM pts p, pts q
  WHERE (p.px - q.px) * (p.px - q.px) + (p.py - q.py) * (p.py - q.py)
        <= {3_000_000 ** 2}
),
cnt AS (SELECT a, COUNT(*) AS n FROM nb GROUP BY 1),
core AS (SELECT a AS id FROM cnt WHERE n >= 4),
ce AS (
  SELECT nb.a, nb.b FROM nb
  JOIN core c1 ON c1.id = nb.a JOIN core c2 ON c2.id = nb.b
),
walk(id, r) AS (
  SELECT id, id FROM core
  UNION
  SELECT w.id, ce.b FROM walk w JOIN ce ON ce.a = w.r
),
lab AS (SELECT id, MIN(r) AS cluster_id FROM walk GROUP BY 1),
border AS (
  SELECT nb.a AS id, MIN(l.cluster_id) AS cluster_id
  FROM nb JOIN core c ON c.id = nb.b JOIN lab l ON l.id = nb.b
  WHERE nb.a NOT IN (SELECT id FROM core)
  GROUP BY 1
)
SELECT p.point_id,
       CAST(COALESCE(l.cluster_id, b.cluster_id, -1) AS BIGINT) AS cluster_id,
       CASE WHEN l.id IS NOT NULL THEN 'core'
            WHEN b.id IS NOT NULL THEN 'border' ELSE 'noise' END AS kind
FROM pts p LEFT JOIN lab l ON l.id = p.point_id
           LEFT JOIN border b ON b.id = p.point_id
"""

_DECONTAMINATE_SQL = """
WITH t AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks FROM documents
), g AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(toks, CAST(i AS INT), CAST(i AS INT) + 2), ' ') AS gram
  FROM (SELECT doc_id, toks, unnest(range(1, greatest(len(toks) - 2, 0) + 1)) AS i FROM t)
)
SELECT b.doc_id AS doc_id, a.doc_id AS eval_id, COUNT(*) AS n_shared_grams
FROM g a JOIN g b ON a.gram = b.gram
WHERE a.doc_id % 97 = 0 AND b.doc_id % 97 <> 0
GROUP BY b.doc_id, a.doc_id
"""

_REDACT_PII_SQL = """
WITH injected AS (
  SELECT doc_id,
         concat(text, ' contact u', CAST(doc_id AS VARCHAR), '@example.com or 10.',
                CAST(doc_id % 200 AS VARCHAR), '.0.1') AS t
  FROM documents
), e AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
         regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t2
  FROM injected
)
SELECT doc_id, n_emails,
       CAST(len(regexp_extract_all(t2, '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}')) AS BIGINT) AS n_ips,
       md5(regexp_replace(t2, '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}', '<IP>', 'g')) AS red_fp
FROM e
"""

_FACE_STATS_SQL = f"""
WITH ea AS ({EDGES_A_SQL}),
sides AS (
  SELECT left_polygon_id AS face_id,
         CAST(x1 * y2 - x2 * y1 AS HUGEINT) AS sc,
         (x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1) AS len2
  FROM ea
  UNION ALL
  SELECT right_polygon_id,
         -CAST(x1 * y2 - x2 * y1 AS HUGEINT),
         (x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1)
  FROM ea
)
SELECT CAST(face_id AS BIGINT) AS face_id,
       CAST(SUM(sc) AS BIGINT) AS area2,
       COUNT(*) AS n_edges,
       CAST(SUM(len2) AS BIGINT) AS perim2_sum
FROM sides GROUP BY face_id
"""

_ANN_SQL = """
WITH iv AS (
  SELECT vec_id, list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS v
  FROM embeddings
), q AS (SELECT vec_id AS query_id, v AS qv FROM iv WHERE vec_id % 100 = 0),
   d AS (
  SELECT q.query_id, c.vec_id AS corpus_id,
         CAST(list_dot_product(CAST(c.v AS DOUBLE[]), CAST(q.qv AS DOUBLE[])) AS BIGINT) AS dot
  FROM iv c, q WHERE c.vec_id <> q.query_id
), r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, corpus_id ASC) AS rank
  FROM d
)
SELECT query_id, corpus_id, dot, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 5
"""

_NEARDUP_EMB_SQL = """
WITH iv AS (
  SELECT vec_id, list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS v
  FROM embeddings
), d AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         CAST(list_dot_product(CAST(a.v AS DOUBLE[]), CAST(b.v AS DOUBLE[])) AS BIGINT) AS dot,
         CAST(list_dot_product(CAST(a.v AS DOUBLE[]), CAST(a.v AS DOUBLE[])) AS BIGINT) AS n_a,
         CAST(list_dot_product(CAST(b.v AS DOUBLE[]), CAST(b.v AS DOUBLE[])) AS BIGINT) AS n_b
  FROM iv a, iv b WHERE a.vec_id < b.vec_id
)
SELECT id_a, id_b, dot, n_a, n_b FROM d
WHERE dot >= 0 AND CAST(dot AS HUGEINT) * dot * 10000 >= CAST(1225 AS HUGEINT) * n_a * n_b
"""

def _sig_sql(vcol: str, n_planes: int, dim: int = 64) -> str:
    """DuckDB replica of simsearch._rh_signature: pure-integer random-
    hyperplane sign bits over the int-scaled vector column."""
    bits = []
    for p in range(n_planes):
        comp = (
            f"list_sum(list_transform(range(0, {dim}), i -> "
            f"{vcol}[CAST(i AS INT)+1] * (({p}*{dim}+i) * 2654435761 "
            f"% 4294967296 - 2147483648)))"
        )
        bits.append(f"(CASE WHEN {comp} > 0 THEN {1 << p} ELSE 0 END)")
    return " + ".join(bits)


_IV_SQL = """
  SELECT vec_id, list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS v
  FROM embeddings
"""

_NEARDUP_EMB_LSH_SQL = f"""
WITH iv AS ({_IV_SQL}),
 sigs AS (SELECT vec_id, v, {_sig_sql('v', 6)} AS sig FROM iv),
 keys AS (SELECT vec_id, t, (sig >> (t * 2)) & 3 AS k
          FROM sigs, (SELECT unnest(range(0, 3)) AS t)),
 pairs AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
           FROM keys a JOIN keys b ON a.t = b.t AND a.k = b.k
           WHERE a.vec_id < b.vec_id),
 d AS (SELECT p.id_a, p.id_b,
         CAST(list_dot_product(CAST(a.v AS DOUBLE[]), CAST(b.v AS DOUBLE[])) AS BIGINT) AS dot,
         CAST(list_dot_product(CAST(a.v AS DOUBLE[]), CAST(a.v AS DOUBLE[])) AS BIGINT) AS n_a,
         CAST(list_dot_product(CAST(b.v AS DOUBLE[]), CAST(b.v AS DOUBLE[])) AS BIGINT) AS n_b
       FROM pairs p
       JOIN sigs a ON a.vec_id = p.id_a
       JOIN sigs b ON b.vec_id = p.id_b)
SELECT id_a, id_b, dot, n_a, n_b FROM d
WHERE dot >= 0 AND CAST(dot AS HUGEINT) * dot * 10000 >= CAST(1225 AS HUGEINT) * n_a * n_b
"""

_ANN_LSH_SQL = f"""
WITH iv AS ({_IV_SQL}),
 sigs AS (SELECT vec_id, v, {_sig_sql('v', 16)} AS sig FROM iv),
 q AS (SELECT vec_id AS query_id, v AS qv, sig FROM sigs WHERE vec_id % 100 = 0),
 ck AS (SELECT vec_id AS corpus_id, t, (sig >> (t * 2)) & 3 AS k
        FROM sigs, (SELECT unnest(range(0, 8)) AS t)),
 qk AS (SELECT query_id, t, (sig >> (t * 2)) & 3 AS k
        FROM q, (SELECT unnest(range(0, 8)) AS t)),
 cand AS (SELECT DISTINCT qk.query_id, ck.corpus_id
          FROM ck JOIN qk ON ck.t = qk.t AND ck.k = qk.k
          WHERE ck.corpus_id <> qk.query_id),
 d AS (SELECT cand.query_id, cand.corpus_id,
         CAST(list_dot_product(CAST(c.v AS DOUBLE[]), CAST(q.qv AS DOUBLE[])) AS BIGINT) AS dot
       FROM cand
       JOIN sigs c ON c.vec_id = cand.corpus_id
       JOIN q ON q.query_id = cand.query_id),
 r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                    ORDER BY dot DESC, corpus_id ASC) AS rank
       FROM d)
SELECT query_id, corpus_id, dot, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 5
"""

_ANN_IVF_SQL = f"""
WITH iv AS ({_IV_SQL}),
 cents AS (SELECT vec_id AS cid, v AS cent,
                  CAST(list_dot_product(CAST(v AS DOUBLE[]), CAST(v AS DOUBLE[])) AS BIGINT) AS cent_n2
           FROM iv
           WHERE vec_id % (SELECT GREATEST(37, CAST(CEIL(COUNT(*) / 4096.0) AS BIGINT))
                           FROM iv) = 1),
 ak AS (SELECT c.vec_id AS corpus_id, ct.cid,
               ct.cent_n2 - 2 * CAST(list_dot_product(CAST(c.v AS DOUBLE[]), CAST(ct.cent AS DOUBLE[])) AS BIGINT) AS akey
        FROM iv c, cents ct),
 assign AS (SELECT corpus_id, cid FROM (
     SELECT *, row_number() OVER (PARTITION BY corpus_id ORDER BY akey, cid) AS rn
     FROM ak) WHERE rn = 1),
 q AS (SELECT vec_id AS query_id, v AS qv FROM iv WHERE vec_id % 100 = 0),
 pk AS (SELECT q.query_id, ct.cid,
               ct.cent_n2 - 2 * CAST(list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(ct.cent AS DOUBLE[])) AS BIGINT) AS qkey
        FROM q, cents ct),
 probes AS (SELECT query_id, cid FROM (
     SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY qkey, cid) AS pr
     FROM pk) WHERE pr <= 40),
 d AS (SELECT p.query_id, a.corpus_id,
              CAST(list_dot_product(CAST(c.v AS DOUBLE[]), CAST(qq.qv AS DOUBLE[])) AS BIGINT) AS dot
       FROM probes p JOIN assign a ON a.cid = p.cid
       JOIN iv c ON c.vec_id = a.corpus_id
       JOIN q qq ON qq.query_id = p.query_id
       WHERE a.corpus_id <> p.query_id),
 r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                    ORDER BY dot DESC, corpus_id ASC) AS rank
       FROM d)
SELECT query_id, corpus_id, dot, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 5
"""

#: extraction contract stated directly: head/script/style subtrees and
#: comments vanish, h1/p/div are line breaks, entities decode
#: (&amp; &#169; &#8212;), whitespace normalizes — so the expected text
#: is exactly three lines
_HTML_EXTRACT_SQL = """
SELECT doc_id,
       'doc ' || CAST(doc_id AS VARCHAR) || ' & ' || source || chr(10) ||
       text || chr(10) || '© & — end' AS extracted
FROM documents
"""

_LINE_DEDUP_SQL = r"""
WITH ml AS (
  SELECT doc_id,
         regexp_replace(text, '((\S+\s+){3}\S+)\s+', '\1' || chr(10), 'g') AS t
  FROM documents
), lines AS (
  SELECT doc_id,
         generate_subscripts(string_split(t, chr(10)), 1) AS line_no,
         unnest(string_split(t, chr(10))) AS line
  FROM ml
), dup AS (
  SELECT line FROM lines GROUP BY line HAVING count(*) >= 2
), agg AS (
  SELECT l.doc_id,
         string_agg(CASE WHEN d.line IS NULL THEN l.line END,
                    chr(10) ORDER BY l.line_no) AS clean_text,
         count(*) FILTER (WHERE d.line IS NULL) AS lines_kept,
         count(*) FILTER (WHERE d.line IS NOT NULL) AS lines_dropped
  FROM lines l LEFT JOIN dup d USING (line)
  GROUP BY l.doc_id
)
SELECT doc_id, coalesce(clean_text, '') AS clean_text,
       CAST(coalesce(lines_kept, 0) AS BIGINT) AS lines_kept,
       CAST(coalesce(lines_dropped, 0) AS BIGINT) AS lines_dropped
FROM agg
"""

#: derived host link graph shared by the pagerank/degree oracles
_HOST_EDGES_SQL = """
e AS (
  SELECT DISTINCT src, dst FROM (
    SELECT 'h' || CAST(doc_id % 97 AS VARCHAR) AS src,
           'h' || CAST((doc_id * doc_id + 3) % 97 AS VARCHAR) AS dst FROM documents
    UNION ALL
    SELECT 'h' || CAST(doc_id % 97 AS VARCHAR),
           'h' || CAST((doc_id * 7 + 13) % 97 AS VARCHAR) FROM documents
    WHERE doc_id % 3 = 0
  )
)
"""


_BFS_HOPS_SQL = f"""
WITH RECURSIVE {_HOST_EDGES_SQL.strip()},
walk(node, hops) AS (
  SELECT 'h0', 0
  UNION
  SELECT e.dst, w.hops + 1 FROM walk w JOIN e ON e.src = w.node
  WHERE w.hops < 8
)
SELECT node, CAST(MIN(hops) AS BIGINT) AS hops FROM walk GROUP BY 1
"""


_SSSP_SQL = f"""
WITH RECURSIVE {_HOST_EDGES_SQL.strip()},
ew AS (
  SELECT src, dst,
         1 + (3 * CAST(substr(src, 2) AS BIGINT)
              + 5 * CAST(substr(dst, 2) AS BIGINT)) % 7 AS w
  FROM e
),
walk(node, cost, hops) AS (
  SELECT 'h0', CAST(0 AS BIGINT), 0
  UNION
  SELECT ew.dst, wk.cost + ew.w, wk.hops + 1
  FROM walk wk JOIN ew ON ew.src = wk.node
  WHERE wk.hops < 12
)
SELECT node, CAST(MIN(cost) AS BIGINT) AS cost FROM walk GROUP BY 1
"""

#: per-node triangle counts — INDEPENDENT of the engine's degree-ordered
#: orientation: plain a<b<c id-ordered closure (each triangle once),
#: exploded back to its three corners, zero-filled over incident nodes.
_TRIANGLE_SQL = f"""
WITH {_HOST_EDGES_SQL.strip()},
und AS (
  SELECT DISTINCT least(src, dst) AS lo, greatest(src, dst) AS hi
  FROM e WHERE src <> dst
),
nodes AS (SELECT lo AS node FROM und UNION SELECT hi FROM und),
tri AS (
  SELECT u.lo AS a, u.hi AS b, v.hi AS c
  FROM und u
  JOIN und v ON v.lo = u.hi
  JOIN und w ON w.lo = u.lo AND w.hi = v.hi
),
corners AS (
  SELECT a AS node FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
SELECT n.node, CAST(COALESCE(t.cnt, 0) AS BIGINT) AS triangles
FROM nodes n
LEFT JOIN (SELECT node, COUNT(*) AS cnt FROM corners GROUP BY 1) t USING (node)
"""

_LINK_JACCARD_SQL = f"""
WITH {_HOST_EDGES_SQL.strip()},
f AS (
  SELECT src AS s, dst AS d FROM e
  WHERE d IN (SELECT dst FROM e GROUP BY dst HAVING COUNT(*) <= 2)
),
deg AS (SELECT s, COUNT(*) AS deg FROM f GROUP BY s),
pairs AS (
  SELECT a.s AS node_a, b.s AS node_b, COUNT(*) AS shared
  FROM f a JOIN f b ON a.d = b.d AND a.s < b.s
  GROUP BY 1, 2
)
SELECT node_a, node_b, CAST(shared AS BIGINT) AS shared,
       CAST(da.deg + db.deg - shared AS BIGINT) AS union_cnt
FROM pairs
JOIN deg da ON da.s = node_a
JOIN deg db ON db.s = node_b
WHERE 3 * shared >= 1 * (da.deg + db.deg - shared)
"""

_COLLOCATIONS_SQL = """
WITH t AS (
  SELECT string_split_regex(trim(text), '\\s+') AS toks FROM documents
  WHERE len(trim(text)) > 0
),
uni AS (SELECT unnest(toks) AS w FROM t),
un AS (SELECT w, COUNT(*) AS n FROM uni GROUP BY 1),
bi AS (
  SELECT toks[i] AS w1, toks[i + 1] AS w2
  FROM (SELECT toks, unnest(range(1, len(toks))) AS i FROM t
        WHERE len(toks) >= 2)
),
bn_all AS (SELECT w1, w2, COUNT(*) AS n_ab FROM bi GROUP BY 1, 2),
bn AS (SELECT * FROM bn_all WHERE n_ab >= 2),
tot AS (SELECT (SELECT SUM(n) FROM un) AS n_total,
               (SELECT SUM(n_ab) FROM bn_all) AS m_total)
SELECT w1, w2, CAST(n_ab AS BIGINT) AS n_ab,
       CAST(ua.n AS BIGINT) AS n_a, CAST(ub.n AS BIGINT) AS n_b
FROM bn
JOIN un ua ON ua.w = bn.w1
JOIN un ub ON ub.w = bn.w2
CROSS JOIN tot
WHERE 1 * CAST(n_ab AS HUGEINT) * n_total * n_total
      >= 2 * CAST(m_total AS HUGEINT) * ua.n * ub.n
"""

#: same haversine leg expression as _ROUTE_LENGTH_SQL (the shared
#: _haversine_m IEEE op order), then break/cumsum segmentation.
_DWELL_SQL = """
WITH pts AS (
  SELECT doc_id % 97 AS route_id, doc_id AS seq,
         CAST((doc_id * 2654435761) % 360000001 - 180000000 AS BIGINT) AS lon_udeg,
         CAST((doc_id * 2246822519) % 170000001 - 85000000 AS BIGINT) AS lat_udeg
  FROM documents
), lagged AS (
  SELECT route_id, seq, lon_udeg, lat_udeg,
         lag(lon_udeg) OVER (PARTITION BY route_id ORDER BY seq) AS plon,
         lag(lat_udeg) OVER (PARTITION BY route_id ORDER BY seq) AS plat
  FROM pts
), legs AS (
  SELECT route_id, seq,
         CASE WHEN plon IS NULL THEN NULL ELSE
           CAST(round(12742000.0 * asin(sqrt(
             sin(CAST(lat_udeg - plat AS DOUBLE) * (pi() / 180.0 / 1000000.0) / 2.0)
               * sin(CAST(lat_udeg - plat AS DOUBLE) * (pi() / 180.0 / 1000000.0) / 2.0)
             + cos(CAST(plat AS DOUBLE) * (pi() / 180.0 / 1000000.0))
               * cos(CAST(lat_udeg AS DOUBLE) * (pi() / 180.0 / 1000000.0))
               * sin(CAST(lon_udeg - plon AS DOUBLE) * (pi() / 180.0 / 1000000.0) / 2.0)
               * sin(CAST(lon_udeg - plon AS DOUBLE) * (pi() / 180.0 / 1000000.0) / 2.0)
           ))) AS BIGINT) END AS leg
  FROM lagged
), brk AS (
  SELECT route_id, seq, leg,
         CASE WHEN leg IS NULL OR leg > 12000000 THEN 1 ELSE 0 END AS b
  FROM legs
), seg AS (
  SELECT route_id, seq, leg, b,
         SUM(b) OVER (PARTITION BY route_id ORDER BY seq
                      ROWS UNBOUNDED PRECEDING) AS seg_id
  FROM brk
)
SELECT route_id, CAST(seg_id AS BIGINT) AS seg_id,
       CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(MIN(seq) AS BIGINT) AS start_seq,
       CAST(MAX(seq) AS BIGINT) AS end_seq,
       CAST(COALESCE(SUM(CASE WHEN b = 0 THEN leg END), 0) AS BIGINT) AS intra_m,
       COUNT(*) >= 3 AS is_dwell
FROM seg GROUP BY 1, 2
"""

#: INDEPENDENT algorithm vs operators/sweep.py: global slab sweep in
#: SQL (x-coordinate compression + running-max y-interval union via a
#: window), same per-tile integers. Floor division of possibly-negative
#: coords uses the subtract-pmod form ((x % W) + W) % W.
_UNION_AREA_SQL = """
WITH rect AS (
  SELECT (o_orderkey * 14741) % 1048576 - (o_orderkey % 2000 + 2) AS x1,
         (o_orderkey * 28657) % 1048576 - (o_orderkey % 1700 + 2) AS y1,
         (o_orderkey * 14741) % 1048576 + (o_orderkey % 2000 + 2) AS x2,
         (o_orderkey * 28657) % 1048576 + (o_orderkey % 1700 + 2) AS y2
  FROM orders WHERE o_orderkey % 16 = 3
),
tx AS (
  SELECT x1, y1, x2, y2,
         unnest(range((x1 - ((x1 % 65536) + 65536) % 65536) // 65536,
                      (x2 - 1 - (((x2 - 1) % 65536) + 65536) % 65536) // 65536 + 1)) AS tile_x
  FROM rect
),
txy AS (
  SELECT x1, y1, x2, y2, tile_x,
         unnest(range((y1 - ((y1 % 65536) + 65536) % 65536) // 65536,
                      (y2 - 1 - (((y2 - 1) % 65536) + 65536) % 65536) // 65536 + 1)) AS tile_y
  FROM tx
),
clip AS (
  SELECT tile_x, tile_y,
         greatest(x1, tile_x * 65536) AS cx1,
         least(x2, (tile_x + 1) * 65536) AS cx2,
         greatest(y1, tile_y * 65536) AS cy1,
         least(y2, (tile_y + 1) * 65536) AS cy2
  FROM txy
),
ex AS (
  SELECT DISTINCT tile_x, tile_y, cx1 AS x FROM clip
  UNION
  SELECT DISTINCT tile_x, tile_y, cx2 FROM clip
),
slab AS (
  SELECT tile_x, tile_y, x AS xs,
         lead(x) OVER (PARTITION BY tile_x, tile_y ORDER BY x) AS xe
  FROM ex
),
slab2 AS (SELECT * FROM slab WHERE xe IS NOT NULL),
cand AS (
  SELECT s.tile_x, s.tile_y, s.xs, s.xe, c.cy1, c.cy2
  FROM slab2 s
  JOIN clip c ON c.tile_x = s.tile_x AND c.tile_y = s.tile_y
             AND c.cx1 <= s.xs AND c.cx2 >= s.xe
),
m AS (
  SELECT tile_x, tile_y, xs, xe, cy1, cy2,
         max(cy2) OVER (PARTITION BY tile_x, tile_y, xs
                        ORDER BY cy1, cy2
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevr
  FROM cand
)
SELECT tile_x, tile_y,
       CAST(SUM((xe - xs) * greatest(0, cy2 - greatest(cy1, COALESCE(prevr, cy1)))) AS BIGINT) AS area
FROM m GROUP BY 1, 2
"""

_INTERVAL_MERGE_SQL = """
WITH iv AS (
  SELECT user_id, epoch_us(ts) AS lo, epoch_us(ts) + 1800000000 AS hi
  FROM events
), r AS (
  SELECT user_id, lo, hi,
         max(hi) OVER (PARTITION BY user_id ORDER BY lo, hi
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS reach
  FROM iv
), f AS (
  SELECT user_id, lo, hi,
         CASE WHEN reach IS NULL OR lo > reach THEN 1 ELSE 0 END AS nw
  FROM r
), g AS (
  SELECT user_id, lo, hi,
         SUM(nw) OVER (PARTITION BY user_id ORDER BY lo, hi
                       ROWS UNBOUNDED PRECEDING) AS span_id
  FROM f
)
SELECT user_id, CAST(span_id AS BIGINT) AS span_id,
       CAST(MIN(lo) AS BIGINT) AS lo, CAST(MAX(hi) AS BIGINT) AS hi,
       CAST(COUNT(*) AS BIGINT) AS n_merged
FROM g GROUP BY 1, 2
"""

_RECIPROCITY_SQL = f"""
WITH {_HOST_EDGES_SQL.strip()},
d AS (SELECT DISTINCT src, dst FROM e WHERE src <> dst)
SELECT CAST((SELECT COUNT(*) FROM d) AS BIGINT) AS n_edges,
       CAST((SELECT COUNT(*) FROM d WHERE EXISTS
          (SELECT 1 FROM d r WHERE r.src = d.dst AND r.dst = d.src)) AS BIGINT)
         AS n_reciprocal
"""

_ASSORTATIVITY_SQL = f"""
WITH {_HOST_EDGES_SQL.strip()},
und AS (
  SELECT DISTINCT least(src, dst) AS lo, greatest(src, dst) AS hi
  FROM e WHERE src <> dst
),
deg AS (
  SELECT node, COUNT(*) AS deg
  FROM (SELECT lo AS node FROM und UNION ALL SELECT hi FROM und)
  GROUP BY 1
),
sym AS (SELECT lo AS u, hi AS v FROM und UNION ALL SELECT hi AS u, lo AS v FROM und)
SELECT CAST(COUNT(*) AS BIGINT) AS m,
       CAST(SUM(du.deg) AS BIGINT) AS s_j,
       CAST(SUM(CAST(du.deg AS HUGEINT) * dv.deg) AS BIGINT) AS s_jk,
       CAST(SUM(CAST(du.deg AS HUGEINT) * du.deg) AS BIGINT) AS s_j2
FROM sym
JOIN deg du ON du.node = sym.u
JOIN deg dv ON dv.node = sym.v
"""

def _rects_b_sql() -> str:
    """DuckDB twin of q_rect_join's B-side fixture — the SAME
    parameterized derivation as the engine side (derived.rects_sql)."""
    from rayjoin_spark.sources.derived import rects_sql

    return rects_sql(residue=7, xm=20021, ym=33461, wm=31, hm=23)


_SKIPGRAM_SQL = """
WITH t AS (
  SELECT string_split_regex(trim(text), '\\s+') AS toks FROM documents
  WHERE len(trim(text)) > 0
),
uni AS (SELECT unnest(toks) AS w FROM t),
un AS (SELECT w, COUNT(*) AS n FROM uni GROUP BY 1),
pr AS (
  SELECT least(toks[i], toks[i + d]) AS w1,
         greatest(toks[i], toks[i + d]) AS w2
  FROM (
    SELECT toks, d, unnest(range(1, len(toks) - d + 1)) AS i
    FROM (
      SELECT toks, unnest(range(1, least(3, len(toks) - 1) + 1)) AS d
      FROM t WHERE len(toks) >= 2
    )
  )
),
bn_all AS (SELECT w1, w2, COUNT(*) AS n_ab FROM pr GROUP BY 1, 2),
bn AS (SELECT * FROM bn_all WHERE n_ab >= 2),
tot AS (SELECT (SELECT SUM(n) FROM un) AS n_total,
               (SELECT SUM(n_ab) FROM bn_all) AS m_total)
SELECT w1, w2, CAST(n_ab AS BIGINT) AS n_ab,
       CAST(ua.n AS BIGINT) AS n_a, CAST(ub.n AS BIGINT) AS n_b
FROM bn
JOIN un ua ON ua.w = bn.w1
JOIN un ub ON ub.w = bn.w2
CROSS JOIN tot
WHERE 1 * CAST(n_ab AS HUGEINT) * n_total * n_total
      >= 2 * CAST(m_total AS HUGEINT) * ua.n * ub.n
"""

_RASTER_DIFF_SQL = f"""
WITH pa AS ({points_sql(3, 4)}),
pb AS ({points_sql(1, 4)}),
ta AS (
  SELECT CAST(({_CELL('px')} >> 3) AS BIGINT) AS tile_x,
         CAST(({_CELL('py')} >> 3) AS BIGINT) AS tile_y,
         COUNT(*) AS n FROM pa GROUP BY 1, 2
),
tb AS (
  SELECT CAST(({_CELL('px')} >> 3) AS BIGINT) AS tile_x,
         CAST(({_CELL('py')} >> 3) AS BIGINT) AS tile_y,
         COUNT(*) AS n FROM pb GROUP BY 1, 2
),
j AS (
  SELECT COALESCE(ta.tile_x, tb.tile_x) AS tile_x,
         COALESCE(ta.tile_y, tb.tile_y) AS tile_y,
         COALESCE(ta.n, 0) AS n_a, COALESCE(tb.n, 0) AS n_b
  FROM ta FULL OUTER JOIN tb
    ON ta.tile_x = tb.tile_x AND ta.tile_y = tb.tile_y
)
SELECT tile_x, tile_y, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       CAST(n_b - n_a AS BIGINT) AS delta,
       CASE WHEN n_a = 0 THEN 'added' WHEN n_b = 0 THEN 'removed'
            WHEN n_a <> n_b THEN 'changed' ELSE 'same' END AS status
FROM j
"""

_MIRROR_CLUSTERS_SQL = f"""
WITH RECURSIVE pairs AS ({_LINK_JACCARD_SQL.strip()}),
nodes AS (
  SELECT node_a AS host FROM pairs UNION SELECT node_b FROM pairs
),
edges AS (
  SELECT node_a AS src, node_b AS dst FROM pairs
  UNION ALL SELECT node_b, node_a FROM pairs
),
reach(id, r) AS (
  SELECT host, host FROM nodes
  UNION
  SELECT reach.id, edges.dst FROM reach JOIN edges ON edges.src = reach.r
),
lab AS (SELECT id AS host, MIN(r) AS cluster_id FROM reach GROUP BY 1),
sz AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM lab GROUP BY 1)
SELECT lab.host, lab.cluster_id, sz.cluster_size,
       lab.host = lab.cluster_id AS is_canonical
FROM lab JOIN sz USING (cluster_id)
"""

_WEIGHTED_SAMPLE_SQL = """
WITH b AS (
  SELECT source, doc_id, CAST(n_chars AS BIGINT) AS w,
         CAST(concat('0x', substr(md5('ws1:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
  FROM documents WHERE n_chars > 0
), keyed AS (
  SELECT source, doc_id, w, h,
         CAST(h AS HUGEINT) // w AS pri_q,
         (CAST(h AS HUGEINT) % w) * 2147483648 // w AS pri_r1,
         ((CAST(h AS HUGEINT) % w) * 2147483648 % w) * 2147483648 // w AS pri_r2
  FROM b
), r AS (
  SELECT source, doc_id, w,
         row_number() OVER (PARTITION BY source
                            ORDER BY pri_q, pri_r1, pri_r2, h, doc_id) - 1
           AS sample_rank
  FROM keyed
)
SELECT source, doc_id, w AS weight, CAST(sample_rank AS BIGINT) AS sample_rank
FROM r WHERE sample_rank < 10
"""

_SCC_SQL = """
WITH RECURSIVE ks AS (
  SELECT DISTINCT doc_id % 97 AS k FROM documents
),
e AS (
  SELECT 'h' || CAST(k AS VARCHAR) AS src,
         'h' || CAST(k + 1 AS VARCHAR) AS dst
  FROM ks WHERE k % 10 <> 9 AND k <= 95
  UNION ALL
  SELECT 'h' || CAST(k AS VARCHAR), 'h' || CAST(k - 3 AS VARCHAR)
  FROM ks WHERE k % 10 = 6
  UNION ALL
  SELECT 'h' || CAST(k AS VARCHAR), 'h' || CAST(k + 10 AS VARCHAR)
  FROM ks WHERE k % 10 = 0 AND k <= 86
),
d AS (SELECT DISTINCT src, dst FROM e WHERE src <> dst),
-- node universe from the RAW edges: self-loop-only nodes are
-- edge-incident singleton SCCs (mirrors operators/graph.scc)
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
reach(a, b) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT reach.a, d.dst FROM reach JOIN d ON d.src = reach.b
),
mut AS (
  SELECT r1.a AS node, MIN(r1.b) AS scc_id
  FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
  GROUP BY 1
),
sz AS (SELECT scc_id, COUNT(*) AS scc_size FROM mut GROUP BY 1)
SELECT mut.node, mut.scc_id, CAST(sz.scc_size AS BIGINT) AS scc_size
FROM mut JOIN sz USING (scc_id)
"""

_HOST_COMPONENTS_SQL = """
WITH RECURSIVE ks AS (
  SELECT DISTINCT doc_id % 97 AS k FROM documents WHERE doc_id % 97 <= 91
),
pe AS (
  SELECT 'h' || CAST(k AS VARCHAR) AS a, 'h' || CAST(k + 5 AS VARCHAR) AS b
  FROM ks
),
nodes AS (SELECT a AS host FROM pe UNION SELECT b FROM pe),
edges AS (SELECT a AS src, b AS dst FROM pe UNION ALL SELECT b, a FROM pe),
reach(id, r) AS (
  SELECT host, host FROM nodes
  UNION
  SELECT reach.id, edges.dst FROM reach JOIN edges ON edges.src = reach.r
),
lab AS (SELECT id AS host, MIN(r) AS cluster_id FROM reach GROUP BY 1),
sz AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM lab GROUP BY 1)
SELECT lab.host, lab.cluster_id, sz.cluster_size,
       lab.host = lab.cluster_id AS is_canonical
FROM lab JOIN sz USING (cluster_id)
"""


def _pagerank_sql(iters: int = 4, scale: int = 1_000_000,
                  damp_num: int = 85, damp_den: int = 100,
                  edges_sql: str | None = None) -> str:
    """Unrolled truncating-integer PageRank, mirroring operators/graph.py
    exactly: DuckDB // and Spark DIV agree on non-negative values.
    `edges_sql` must define a CTE named ``e`` with (src, dst)."""
    base = (scale * (damp_den - damp_num)) // damp_den
    sql = (
        f"WITH {(edges_sql or _HOST_EDGES_SQL).strip()},\n"
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),\n"
        "deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),\n"
        f"r0 AS (SELECT node, CAST({scale} AS BIGINT) AS rank FROM nodes)"
    )
    for i in range(1, iters + 1):
        sql += f""",
r{i} AS (
  SELECT n.node, CAST({base} + ({damp_num} * coalesce(s.s, 0)) // {damp_den} AS BIGINT) AS rank
  FROM nodes n LEFT JOIN (
    SELECT e.dst, sum(r.rank // d.deg) AS s
    FROM e JOIN deg d ON e.src = d.src JOIN r{i - 1} r ON r.node = e.src
    GROUP BY e.dst) s ON s.dst = n.node
)"""
    return sql + f"\nSELECT node, rank FROM r{iters}"


_GRAPH_DEGREES_SQL = f"""
WITH {_HOST_EDGES_SQL.strip()},
o AS (SELECT src AS node, count(*) AS od FROM e GROUP BY src),
i AS (SELECT dst AS node, count(*) AS id_ FROM e GROUP BY dst)
SELECT coalesce(o.node, i.node) AS node,
       CAST(coalesce(od, 0) AS BIGINT) AS out_degree,
       CAST(coalesce(id_, 0) AS BIGINT) AS in_degree
FROM o FULL OUTER JOIN i ON o.node = i.node
"""

#: two links per page: the relative one resolves against the page url,
#: the anchor's double space collapses to one (whitespace contract)
_ANCHOR_LINKS_SQL = """
WITH p AS (
  SELECT doc_id,
         'https://site' || CAST(doc_id % 97 AS VARCHAR) || '.example/d/'
           || CAST(doc_id AS VARCHAR) AS url
  FROM documents
)
SELECT url,
       'https://site' || CAST(doc_id % 97 AS VARCHAR) || '.example/d/'
         || CAST(doc_id + 1 AS VARCHAR) AS href,
       'next ' || CAST(doc_id + 1 AS VARCHAR) AS anchor
FROM p
UNION ALL
SELECT url,
       'https://site' || CAST((doc_id + 1) % 97 AS VARCHAR) || '.example/d/'
         || CAST(doc_id AS VARCHAR) AS href,
       'cross' AS anchor
FROM p
"""

#: anchor_profile: restate the extracted link set (hub link with one of
#: two anchors + next-doc link), then the same count / rank (n desc,
#: anchor asc) / top-2 join-and-aggregate.
_ANCHOR_PROFILE_SQL = """
WITH links AS (
  SELECT 'https://site' || CAST(doc_id % 97 AS VARCHAR) || '.example/' AS href,
         CASE WHEN doc_id % 3 = 0 THEN 'home'
              ELSE 'Site ' || CAST(doc_id % 97 AS VARCHAR) END AS anchor
  FROM documents
  UNION ALL
  SELECT 'https://site' || CAST(doc_id % 97 AS VARCHAR) || '.example/d/'
           || CAST(doc_id + 1 AS VARCHAR) AS href,
         'next' AS anchor
  FROM documents
), cnt AS (
  SELECT href, anchor, COUNT(*) AS n FROM links GROUP BY href, anchor
), rk AS (
  SELECT *, row_number() OVER (PARTITION BY href ORDER BY n DESC, anchor) - 1 AS rk
  FROM cnt
), tot AS (
  SELECT href, CAST(SUM(n) AS BIGINT) AS n_links,
         COUNT(*) AS n_distinct_anchors
  FROM cnt GROUP BY href
), top AS (
  SELECT href, string_agg(anchor, '|' ORDER BY rk) AS top_anchors
  FROM rk WHERE rk < 2 GROUP BY href
)
SELECT tot.href, n_links, n_distinct_anchors, top_anchors
FROM tot JOIN top USING (href)
"""

#: expected REP verdicts: GraftBot hosts (k%3==0) use ONLY the specific
#: group (Disallow /d/ overridden by Allow /d/open); others use '*'
#: (Disallow /private/ overridden by Allow /private/ok)
_ROBOTS_FILTER_SQL = """
SELECT 'https://site' || CAST(doc_id % 97 AS VARCHAR) || '.example'
       || (CASE doc_id % 5
             WHEN 0 THEN '/d/' || CAST(doc_id AS VARCHAR)
             WHEN 1 THEN '/private/x' || CAST(doc_id AS VARCHAR)
             WHEN 2 THEN '/private/ok' || CAST(doc_id AS VARCHAR)
             WHEN 3 THEN '/'
             ELSE '/d/open' || CAST(doc_id AS VARCHAR) END) AS url,
       (CASE WHEN (doc_id % 97) % 3 = 0
             THEN doc_id % 5 <> 0
             ELSE doc_id % 5 <> 1 END) AS robots_ok
FROM documents
"""

#: robots_sitemaps: the directive is host-global, so the expected set is
#: one sitemap.xml per host (the indented mixed-case duplicate collapses)
#: plus news.xml for hosts ≡ 0 (mod 3); host lowers like all crawlops keys.
_ROBOTS_SITEMAPS_SQL = """
WITH h AS (SELECT CAST(range AS BIGINT) AS id FROM range(97))
SELECT 'site' || CAST(id AS VARCHAR) || '.example' AS host,
       'https://site' || CAST(id AS VARCHAR) || '.example/sitemap.xml' AS sitemap_url
FROM h
UNION ALL
SELECT 'site' || CAST(id AS VARCHAR) || '.example' AS host,
       'https://site' || CAST(id AS VARCHAR) || '.example/news.xml' AS sitemap_url
FROM h WHERE id % 3 = 0
"""

#: recrawl_schedule: same capture fixture, same lag-window change flags,
#: same integer estimator (DuckDB // == Spark DIV on these non-negative
#: bigints; SUM is HUGEINT in DuckDB -> cast back to BIGINT).
_RECRAWL_SCHEDULE_SQL = """
WITH caps AS (
  SELECT 'https://site' || CAST(d.doc_id % 97 AS VARCHAR) || '.example/d/'
           || CAST(d.doc_id AS VARCHAR) AS url,
         CAST(1766016000 + g.k * (3600 + d.doc_id % 7) AS BIGINT) AS ts_epoch,
         CAST((d.doc_id + g.k * g.k) % 7 AS VARCHAR) AS fingerprint
  FROM documents d,
       unnest(generate_series(0, CAST(d.doc_id % 4 + 1 AS BIGINT))) AS g(k)
), chg AS (
  SELECT url, ts_epoch,
         CASE WHEN lag(fingerprint) OVER (PARTITION BY url ORDER BY ts_epoch, fingerprint)
                   IS NOT NULL
               AND fingerprint <> lag(fingerprint)
                   OVER (PARTITION BY url ORDER BY ts_epoch, fingerprint)
              THEN 1 ELSE 0 END AS c
  FROM caps
), agg AS (
  SELECT url, COUNT(*) AS n_caps, CAST(SUM(c) AS BIGINT) AS n_changes,
         MAX(ts_epoch) - MIN(ts_epoch) AS span_s, MAX(ts_epoch) AS last_ts
  FROM chg GROUP BY url
), est AS (
  SELECT *, CASE WHEN n_changes > 0 THEN span_s // n_changes
                 ELSE span_s * 2 END AS raw_est
  FROM agg
)
SELECT url, n_caps, n_changes, span_s,
       (n_changes * 1000000) // greatest(n_caps - 1, 1) AS change_ppm,
       greatest(raw_est, 60) AS revisit_s,
       last_ts + greatest(raw_est, 60) AS next_due_epoch
FROM est
"""

#: crawl_budget: same Hamilton apportionment — floor shares, then +1 to
#: the R largest remainders (tie: host asc), R = budget - sum(floors).
_CRAWL_BUDGET_SQL = """
WITH hosts AS (
  SELECT 'site' || CAST(doc_id % 97 AS VARCHAR) || '.example' AS host,
         CAST(COUNT(*) * ((doc_id % 97) % 7 + 1) AS BIGINT) AS demand
  FROM documents GROUP BY doc_id % 97
), tot AS (
  SELECT CAST(SUM(demand) AS BIGINT) AS t FROM hosts
), j AS (
  SELECT host, demand,
         least(1000, t) AS beff,
         (least(1000, t) * demand) // t AS base,
         (least(1000, t) * demand) % t AS rem
  FROM hosts, tot
), rk AS (
  SELECT *, row_number() OVER (ORDER BY rem DESC, host) - 1 AS r FROM j
), sb AS (
  SELECT CAST(SUM(base) AS BIGINT) AS s FROM j
)
SELECT host, demand,
       CAST(base + CASE WHEN r < beff - s THEN 1 ELSE 0 END AS BIGINT) AS quota
FROM rk, sb
"""


def _normalize_text_sql() -> str:
    """DuckDB twin of textops.normalize_text over the messy fixture:
    replays the shared NORM_STEPS chain verbatim (the patterns are
    ASCII-safe in both Java regex and RE2); replacement newlines emit as
    chr(10) because RE2/SQL replacement-string escaping differs."""
    expr = "messy"
    for pat, rep in textops.NORM_STEPS:
        # per-CHARACTER translation (newline -> chr(10), else a quoted
        # literal); fail loudly on quotes rather than emit a subtly
        # wrong oracle if NORM_STEPS ever grows one
        assert "'" not in pat and "'" not in rep, (pat, rep)
        rep_sql = (
            "||".join("chr(10)" if ch == "\n" else f"'{ch}'" for ch in rep)
            or "''"
        )
        expr = f"regexp_replace({expr}, '{pat}', {rep_sql}, 'g')"
    return f"""
WITH m AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN 'Already clean.'
              ELSE '  A' || chr(160) || 'B' || chr(8203) || ' '
                   || COALESCE(text, '')
                   || chr(13) || chr(10) || 'C' || chr(9) || 'D   E'
                   || chr(7) || 'soft' || chr(173) || 'hyphen'
                   || repeat(chr(10), 4) || ' F  '
         END AS messy
  FROM documents
)
SELECT doc_id, {expr} AS norm_text,
       (messy IS DISTINCT FROM {expr}) AS changed
FROM m
"""


#: crawl_diff: status from the fixture arithmetic — removed for %5==0,
#: changed for %4==0 (text rewritten), unchanged otherwise, plus an
#: added /new/ url for %7==0. md5 never collides on 'text' vs 'textv2'.
_CRAWL_DIFF_SQL = """
SELECT 'https://site' || CAST(doc_id % 97 AS VARCHAR) || '.example/d/'
         || CAST(doc_id AS VARCHAR) AS url,
       CASE WHEN doc_id % 5 = 0 THEN 'removed'
            WHEN doc_id % 4 = 0 THEN 'changed'
            ELSE 'unchanged' END AS status
FROM documents
UNION ALL
SELECT 'https://site' || CAST(doc_id % 97 AS VARCHAR) || '.example/new/'
         || CAST(doc_id AS VARCHAR) AS url,
       'added' AS status
FROM documents WHERE doc_id % 7 = 0
"""

_CORPUS_CARD_SQL = """
SELECT lang, source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS total_chars,
       CAST(min(length(text)) AS BIGINT) AS min_chars,
       CAST(max(length(text)) AS BIGINT) AS max_chars,
       CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct
FROM documents GROUP BY lang, source
"""

#: the oracle STATES the C4 contract's expected output for the
#: constructed pages (verified: no document text contains javascript /
#: lorem ipsum / '{' / a newline, and every text has >= 3 words, so the
#: content line is always kept and only the injected lines vary)
_C4_FILTER_SQL = """
SELECT doc_id,
       CAST(4 + (doc_id % 4 = 0)::INT + (doc_id % 5 = 0)::INT
              + (doc_id % 7 = 0)::INT AS BIGINT) AS n_lines,
       CAST(1 + (doc_id % 4 = 0)::INT + (doc_id % 5 = 0)::INT AS BIGINT) AS n_kept,
       (doc_id % 4 = 0 AND doc_id % 5 <> 0 AND doc_id % 7 <> 0) AS keep,
       coalesce(text, '') || '.'
         || CASE WHEN doc_id % 4 = 0
                 THEN chr(10) || 'All rights reserved.' ELSE '' END
         || CASE WHEN doc_id % 5 = 0
                 THEN chr(10) || 'lorem ipsum dolor sit amet.' ELSE '' END
       AS kept_text
FROM documents
"""

#: the oracle STATES the expected sitemap entries for the constructed
#: <urlset> documents (entity &amp; decoded, padding trimmed, absent
#: lastmod/priority NULL, seq = file order)
_SITEMAP_PARSE_SQL = """
WITH d AS (
  SELECT doc_id,
         CAST(doc_id % 97 AS VARCHAR) AS k,
         CAST(10 + doc_id % 19 AS VARCHAR) AS day
  FROM documents
)
SELECT doc_id, CAST(0 AS BIGINT) AS seq,
       'https://site' || k || '.example/p/' || CAST(doc_id AS VARCHAR)
         || '?a=1&b=2' AS loc,
       '2024-03-' || day AS lastmod,
       CAST(0.8 AS DOUBLE) AS priority
FROM d
UNION ALL
SELECT doc_id, CAST(1 AS BIGINT),
       'https://site' || k || '.example/q/' || CAST(doc_id AS VARCHAR),
       CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE)
FROM d
UNION ALL
SELECT doc_id, CAST(2 AS BIGINT),
       'https://site' || k || '.example/r/' || CAST(doc_id AS VARCHAR),
       CAST(NULL AS VARCHAR), CAST(0.5 AS DOUBLE)
FROM d WHERE doc_id % 3 = 0
"""

#: the oracle STATES the expected frontier: /p/ urls for ids not yet
#: crawled (odd), /q/ urls for every id (canonicalization collapses the
#: messy loc), /r/ urls robots-blocked away
_CRAWL_FRONTIER_SQL = """
WITH d AS (SELECT doc_id, CAST(doc_id % 97 AS VARCHAR) AS k FROM documents)
SELECT doc_id,
       'https://site' || k || '.example/p/' || CAST(doc_id AS VARCHAR) AS url
FROM d WHERE doc_id % 2 <> 0
UNION ALL
SELECT doc_id,
       'https://site' || k || '.example/q/' || CAST(doc_id AS VARCHAR) AS url
FROM d
"""

#: md5-anti-join == NOT EXISTS on the content itself (md5 is injective
#: for the compare's purposes on both engines)
_DEDUP_INCREMENTAL_SQL = """
SELECT n.doc_id, n.text
FROM documents n
WHERE n.doc_id % 3 = 0
  AND NOT EXISTS (
    SELECT 1 FROM documents r WHERE r.doc_id % 3 <> 0 AND r.text = n.text
  )
"""

#: expected main content: only the document-text paragraph survives the
#: heuristic (nav/teaser/footer are link-dense, 'short' is too short),
#: and only when its normalized length >= 15
_MAIN_CONTENT_SQL = r"""
SELECT doc_id,
       CASE WHEN length(regexp_replace(trim(text), '\s+', ' ', 'g')) >= 15
            THEN regexp_replace(trim(text), '\s+', ' ', 'g') ELSE '' END AS main_text,
       CAST(4 + CASE WHEN length(trim(text)) > 0 THEN 1 ELSE 0 END AS INT) AS n_blocks,
       CAST(CASE WHEN length(regexp_replace(trim(text), '\s+', ' ', 'g')) >= 15
            THEN 1 ELSE 0 END AS INT) AS n_kept
FROM documents
"""

#: DuckDB list slice t[i:i+2] is inclusive (3 tokens) == Spark slice(t,i,3)
_NGRAM_NOVELTY_SQL = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t FROM documents
),
g AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS gram
  FROM toks, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS u(i)
),
cnt AS (SELECT gram, count(*) AS dfq FROM g GROUP BY gram),
per AS (
  SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         CAST(sum(CASE WHEN c.dfq = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
  FROM g JOIN cnt c USING (gram) GROUP BY g.doc_id
)
SELECT d.doc_id, coalesce(p.n_grams, 0) AS n_grams, coalesce(p.n_novel, 0) AS n_novel
FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id
"""

#: newest capture per url; ts is unique per url by construction so the
#: md5 tiebreak never fires at test scale
_LATEST_SNAPSHOT_SQL = """
WITH p AS (
  SELECT 'https://site' || CAST((doc_id % 250) % 97 AS VARCHAR) || '.example/d/'
           || CAST(doc_id % 250 AS VARCHAR) AS url,
         CAST(1766016000 + doc_id AS BIGINT) AS ts_epoch,
         text
  FROM documents
)
SELECT url, max(ts_epoch) AS ts_epoch, arg_max(text, ts_epoch) AS text
FROM p GROUP BY url
"""

#: host edges the link extraction is EXPECTED to yield: a self link
#: (relative next-doc href) and a next-host link per page
_CRAWL_EDGES_SQL = """
e AS (
  SELECT DISTINCT src, dst FROM (
    SELECT 'site' || CAST(doc_id % 97 AS VARCHAR) || '.example' AS src,
           'site' || CAST(doc_id % 97 AS VARCHAR) || '.example' AS dst FROM documents
    UNION ALL
    SELECT 'site' || CAST(doc_id % 97 AS VARCHAR) || '.example',
           'site' || CAST((doc_id + 1) % 97 AS VARCHAR) || '.example' FROM documents
  )
)
"""

#: identical truncating-integer train+score (DuckDB // == Spark DIV on
#: non-negative values; weights and scores are all >= 0)
_QUALITY_CLASSIFIER_SQL = r"""
WITH tok AS (
  SELECT doc_id, CAST(source IN ('src0','src1','src2') AS INT) AS pos,
         unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
  FROM documents
),
vocab AS (
  SELECT term, (1000 * (sum(pos) + 1)) // (count(*) + 2) AS w
  FROM tok GROUP BY term
)
SELECT t.doc_id, CAST(sum(v.w) // count(*) AS BIGINT) AS quality_model_score,
       CAST(count(*) AS BIGINT) AS n_tokens
FROM tok t JOIN vocab v USING (term)
GROUP BY t.doc_id
"""

#: the messy input construction mirrors the Spark query; the canonical
#: column states the contract's expected output directly
_URL_CANONICAL_SQL = """
SELECT
  (CASE WHEN doc_id % 2 = 0 THEN 'HTTP://' ELSE 'https://' END)
  || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.Site' || CAST(doc_id % 97 AS VARCHAR) || '.Example'
           ELSE 'site' || CAST(doc_id % 97 AS VARCHAR) || '.example' END)
  || (CASE WHEN doc_id % 2 = 0 AND doc_id % 4 = 0 THEN ':80'
           WHEN doc_id % 2 = 1 AND doc_id % 4 = 1 THEN ':443' ELSE '' END)
  || (CASE WHEN doc_id % 11 = 0 THEN '' ELSE '/D/' || CAST(doc_id AS VARCHAR) END)
  || (CASE WHEN doc_id % 7 = 0 THEN '?q=1'
           WHEN doc_id % 13 = 0 THEN '?' ELSE '' END)
  || (CASE WHEN doc_id % 5 = 0 THEN '#Frag' ELSE '' END) AS url,
  (CASE WHEN doc_id % 2 = 0 THEN 'http://' ELSE 'https://' END)
  || 'site' || CAST(doc_id % 97 AS VARCHAR) || '.example'
  || (CASE WHEN doc_id % 11 = 0 THEN '/' ELSE '/D/' || CAST(doc_id AS VARCHAR) END)
  || (CASE WHEN doc_id % 7 = 0 THEN '?q=1' ELSE '' END) AS url_canonical
FROM documents
"""

_INVERTED_INDEX_SQL = r"""
WITH t AS (
  SELECT DISTINCT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
  FROM documents
)
SELECT term, CAST(count(*) AS BIGINT) AS doc_freq,
       array_to_string(list_sort(list(doc_id))[1:16], ',') AS postings
FROM t GROUP BY term
"""

#: the derived pages' path is always '/d/<doc_id>' (depth 2)
_HOST_STATS_SQL = """
SELECT 'site' || CAST(doc_id % 97 AS VARCHAR) || '.example' AS host,
       COUNT(*) AS n_pages,
       COUNT(DISTINCT lang) AS n_langs,
       CAST(SUM(length(text)) AS BIGINT) AS text_chars,
       AVG(2.0) AS avg_path_depth
FROM documents GROUP BY 1
"""

#: the WARC round trip must reproduce the input pages exactly
_WARC_ROUNDTRIP_SQL = """
SELECT 'https://site' || CAST(doc_id % 97 AS VARCHAR) || '.example/d/' || CAST(doc_id AS VARCHAR) AS url,
       CAST(1766016000 + doc_id AS BIGINT) AS ts_epoch,
       text
FROM documents
"""

#: cdx_index: the writer's record template is deterministic, so each
#: record's byte length is string arithmetic — the md5/date placeholders
#: below only contribute their (fixed) LENGTHs; offsets are the window-
#: sum of preceding record lengths within a blob (records sort by url).
_CDX_INDEX_SQL = """
WITH pages AS (
  SELECT CAST(doc_id % 16 AS BIGINT) AS grp,
         CAST(doc_id % 97 AS VARCHAR) AS k,
         'https://site' || CAST(doc_id % 97 AS VARCHAR) || '.example/d/'
           || CAST(doc_id AS VARCHAR) AS url,
         CAST(1766016000 + doc_id AS BIGINT) AS ts_epoch,
         text
  FROM documents
), rec AS (
  SELECT grp, k, url, ts_epoch,
         sha256(text) AS digest_sha256,
         CAST(
           strlen(e'WARC/1.0\\r\\nWARC-Type: response\\r\\n'
             || 'WARC-Record-ID: <urn:md5:00000000000000000000000000000000>'
             || e'\\r\\nWARC-Date: 2026-01-01T00:00:00Z\\r\\nWARC-Target-URI: '
             || url
             || e'\\r\\nContent-Type: application/http; msgtype=response\\r\\n'
             || 'Content-Length: '
             || CAST(strlen(e'HTTP/1.1 200 OK\\r\\n'
                  || e'Content-Type: text/html; charset=utf-8\\r\\n'
                  || 'Content-Length: ' || CAST(strlen(text) AS VARCHAR)
                  || e'\\r\\n\\r\\n' || text) AS VARCHAR)
             || e'\\r\\n\\r\\n')
           + strlen(e'HTTP/1.1 200 OK\\r\\n'
               || e'Content-Type: text/html; charset=utf-8\\r\\n'
               || 'Content-Length: ' || CAST(strlen(text) AS VARCHAR)
               || e'\\r\\n\\r\\n' || text)
           + 4
         AS BIGINT) AS rec_length
  FROM pages
)
SELECT 'example,site' || k || ')' || substr(url, strlen('https://site' || k || '.example') + 1) AS surt,
       ts_epoch, url,
       'application/http; msgtype=response' AS content_type,
       CAST(COALESCE(SUM(rec_length) OVER (
         PARTITION BY grp ORDER BY url
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS offset,
       rec_length, digest_sha256
FROM rec
"""

_WET_ROUNDTRIP_SQL = """
SELECT 'https://site' || CAST(doc_id % 97 AS VARCHAR) || '.example/d/' || CAST(doc_id AS VARCHAR) AS url,
       CAST(1766016000 + doc_id AS BIGINT) AS ts_epoch,
       'text/plain; charset=utf-8' AS content_type,
       text
FROM documents
"""

_PAGES_SQL = """
SELECT 'https://site' || CAST(doc_id % 97 AS VARCHAR) || '.example/d/' || CAST(doc_id AS VARCHAR) AS url,
       ((doc_id * 2654435761) % 4294967296) / 4294967296.0 * 1021.0 AS x,
       ((doc_id * 2246822519) % 4294967296) / 4294967296.0 * 1021.0 AS y,
       text
FROM documents
"""


def _compact_sql(level: int = 6) -> str:
    """DuckDB twin of functions/cellcodes.compact_cells over the level-6
    Morton ids of the derived query points: one CTE pair per level (sibling
    count via window, keep <4, promote =4), matching the engine's
    fine-to-coarse promotion exactly."""
    def ilv(cv: str, off: int) -> str:
        return " + ".join(
            f"((({cv} >> {i}) & 1) << {2 * i + off})" for i in range(level)
        )

    ctes = [
        f"pts AS ({points_sql(2, 4)})",
        f"""c{level} AS (
  SELECT DISTINCT CAST({ilv(_CELL('px'), 0)} + {ilv(_CELL('py'), 1)} AS BIGINT) AS cell_id
  FROM pts)""",
    ]
    selects = []
    for lvl in range(level, 0, -1):
        ctes.append(
            f"n{lvl} AS (SELECT cell_id, COUNT(*) OVER (PARTITION BY cell_id // 4) AS sib FROM c{lvl})"
        )
        ctes.append(
            f"c{lvl - 1} AS (SELECT DISTINCT cell_id // 4 AS cell_id FROM n{lvl} WHERE sib = 4)"
        )
        selects.append(
            f"SELECT cell_id, CAST({lvl} AS INT) AS level FROM n{lvl} WHERE sib < 4"
        )
    selects.append("SELECT cell_id, CAST(0 AS INT) AS level FROM c0")
    return "WITH " + ",\n ".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)


def _range_report_sql() -> str:
    """DuckDB twin of operators/rangequery.range_report: bbox overlap +
    exact integer separating-axis corner test (no grid — the oracle is the
    brute-force rect x edge join).

    The bbox min/max are hoisted into plain CTE columns: computed
    least/greatest keys inside a range-join condition trip a DuckDB
    IEJoin internal assertion ("requires a flat vector") at sf0.01+ and
    FATALLY poison the connection for every later query."""
    from rayjoin_spark.sources.derived import rects_sql

    corners = ", ".join(
        f"(a * {cx} + b * {cy} + c)"
        for cx in ("rx1", "rx2")
        for cy in ("ry1", "ry2")
    )
    return f"""
WITH ea0 AS ({EDGES_A_SQL}),
 ea AS (SELECT *, least(x1, x2) AS _exlo, greatest(x1, x2) AS _exhi,
               least(y1, y2) AS _eylo, greatest(y1, y2) AS _eyhi FROM ea0),
 r AS ({rects_sql()})
SELECT r.rect_id, ea.eid
FROM r JOIN ea
  ON _exhi >= rx1 AND _exlo <= rx2 AND _eyhi >= ry1 AND _eylo <= ry2
WHERE least({corners}) <= 0 AND greatest({corners}) >= 0
"""


def _segment_clip_sql() -> str:
    """DuckDB twin of operators/clip.clip_segments: the same integer
    Liang-Barsky folds (strict-< selection order preserved so the emitted
    (num, den) pairs — not just their values — match bit-for-bit).
    Range-join keys hoisted to plain columns (see _range_report_sql)."""
    from rayjoin_spark.sources.derived import rects_sql

    return f"""
WITH ea0 AS ({EDGES_A_SQL}),
 ea AS (SELECT *, least(x1, x2) AS _exlo, greatest(x1, x2) AS _exhi,
               least(y1, y2) AS _eylo, greatest(y1, y2) AS _eyhi FROM ea0),
 r AS ({rects_sql()}),
 cand AS (
  SELECT r.rect_id, ea.eid, x1, y1, rx1, ry1, rx2, ry2,
         (x2 - x1) AS dx, (y2 - y1) AS dy
  FROM r JOIN ea
    ON _exhi >= rx1 AND _exlo <= rx2 AND _eyhi >= ry1 AND _eylo <= ry2
), w AS (
  SELECT *, abs(dx) AS px, abs(dy) AS py,
         CASE WHEN dx > 0 THEN rx1 - x1 ELSE x1 - rx2 END AS qx_in,
         CASE WHEN dx > 0 THEN rx2 - x1 ELSE x1 - rx1 END AS qx_out,
         CASE WHEN dy > 0 THEN ry1 - y1 ELSE y1 - ry2 END AS qy_in,
         CASE WHEN dy > 0 THEN ry2 - y1 ELSE y1 - ry1 END AS qy_out
  FROM cand
), f0 AS (
  SELECT *,
         CASE WHEN dx != 0 AND 0 < qx_in THEN qx_in ELSE 0 END AS n0a,
         CASE WHEN dx != 0 AND 0 < qx_in THEN px ELSE 1 END AS d0a,
         CASE WHEN dx != 0 AND qx_out < px THEN qx_out ELSE 1 END AS n1a,
         CASE WHEN dx != 0 AND qx_out < px THEN px ELSE 1 END AS d1a
  FROM w
), f1 AS (
  SELECT *,
         CASE WHEN dy != 0 AND n0a * py < qy_in * d0a THEN qy_in ELSE n0a END AS n0,
         CASE WHEN dy != 0 AND n0a * py < qy_in * d0a THEN py ELSE d0a END AS d0,
         CASE WHEN dy != 0 AND n1a * py > qy_out * d1a THEN qy_out ELSE n1a END AS n1,
         CASE WHEN dy != 0 AND n1a * py > qy_out * d1a THEN py ELSE d1a END AS d1
  FROM f0
)
SELECT rect_id, eid,
       CAST(x1 * d0 + dx * n0 AS BIGINT) AS cx1_num,
       CAST(y1 * d0 + dy * n0 AS BIGINT) AS cy1_num,
       CAST(d0 AS BIGINT) AS den1,
       CAST(x1 * d1 + dx * n1 AS BIGINT) AS cx2_num,
       CAST(y1 * d1 + dy * n1 AS BIGINT) AS cy2_num,
       CAST(d1 AS BIGINT) AS den2
FROM f1
WHERE (dx != 0 OR (x1 >= rx1 AND x1 <= rx2))
  AND (dy != 0 OR (y1 >= ry1 AND y1 <= ry2))
  AND n0 * d1 <= n1 * d0
"""



def _tile_payloads_sql() -> str:
    """DuckDB twin of operators/tiles.tile_payloads over the clipped
    segments: same serialization bytes, same byte-order sort, same md5."""
    return f"""
WITH clip AS ({_segment_clip_sql()}),
 s AS (
  SELECT rect_id AS tile_id,
         CAST(eid AS VARCHAR) || ':' || CAST(cx1_num AS VARCHAR) || ',' ||
         CAST(cy1_num AS VARCHAR) || ',' || CAST(den1 AS VARCHAR) || ',' ||
         CAST(cx2_num AS VARCHAR) || ',' || CAST(cy2_num AS VARCHAR) || ',' ||
         CAST(den2 AS VARCHAR) AS seg
  FROM clip
)
SELECT tile_id, CAST(COUNT(*) AS BIGINT) AS n_segments,
       CAST(length(string_agg(seg, ';' ORDER BY seg)) AS BIGINT) AS payload_bytes,
       md5(string_agg(seg, ';' ORDER BY seg)) AS tile_hash
FROM s GROUP BY tile_id
"""



_STRUCTURED_DATA_SQL = """
SELECT doc_id,
       CAST(CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE 0 END AS BIGINT) AS n_ld_blocks,
       CAST(CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 1 ELSE 0 END AS BIGINT) AS n_ld_valid,
       CASE doc_id % 3 WHEN 0 THEN 'Article' WHEN 1 THEN 'Product;Offer' ELSE '' END AS ld_types
FROM documents
"""


_HLL_DISTINCT_SQL = f"""
WITH tokf AS (
  SELECT source, term FROM (
    SELECT source, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
    FROM documents
  ) WHERE term <> ''
), hashed AS (
  SELECT source,
         CAST(concat('0x', substr(md5(term), 1, 12)) AS BIGINT) AS h
  FROM tokf
), reg AS (
  SELECT source, h >> 38 AS bucket,
         MAX(CAST(39 - (CASE WHEN (h & 274877906943) = 0 THEN 0
              ELSE length(bin(h & 274877906943)) END) AS INT)) AS max_rho
  FROM hashed GROUP BY 1, 2
), agg AS (
  SELECT source, COUNT(*) AS used,
         SUM(CAST(1 AS BIGINT) << (50 - max_rho)) AS s_used
  FROM reg GROUP BY 1
), est AS (
  SELECT source, CAST(1024 - used AS BIGINT) AS v_empty,
         CAST(CAST('{7213 * 1024**3 * 2**50}' AS HUGEINT) //
              (CAST({10000 * 1024 + 10790} AS HUGEINT) *
               (s_used + (1024 - used) * CAST({2**50} AS BIGINT))) AS BIGINT)
           AS est_raw
  FROM agg
), exact AS (
  SELECT source, CAST(COUNT(DISTINCT term) AS BIGINT) AS n_exact
  FROM tokf GROUP BY 1
)
SELECT e.source, e.v_empty, e.est_raw, x.n_exact
FROM est e JOIN exact x ON x.source = e.source
"""


_BLOCKLIST_FILTER_SQL = """
WITH pages AS (
  SELECT doc_id,
    CASE WHEN doc_id % 5 = 0 THEN 'deep.site13.example'
         ELSE 'site' || CAST(doc_id % 97 AS VARCHAR) || '.example' END AS host
  FROM documents
), bl(domain) AS (
  VALUES ('site13.example'), ('site29.example'), ('site31.example')
), sufs AS (
  SELECT doc_id,
    array_to_string(
      (string_split(host, '.'))[len(string_split(host, '.')) - CAST(i AS INT) + 1
                                : len(string_split(host, '.'))], '.') AS suffix
  FROM (SELECT doc_id, host,
               unnest(range(1, least(len(string_split(host, '.')), 10) + 1)) AS i
        FROM pages)
), hits AS (
  SELECT s.doc_id,
         (MAX({'l': length(s.suffix), 's': s.suffix})).s AS matched_rule
  FROM sufs s JOIN bl b ON b.domain = s.suffix
  GROUP BY s.doc_id
)
SELECT p.doc_id,
       'https://u:p@' || p.host || ':8080/d/' || CAST(p.doc_id AS VARCHAR) AS url,
       p.host,
       CAST(CASE WHEN h.matched_rule IS NOT NULL THEN 1 ELSE 0 END AS INT)
         AS blocked,
       h.matched_rule
FROM pages p LEFT JOIN hits h ON h.doc_id = p.doc_id
"""


_GOPHER_REPETITION_SQL = """
WITH src AS (
  SELECT doc_id,
    CASE doc_id % 4
      WHEN 0 THEN text
      WHEN 1 THEN 'dup dup dup' || chr(10) || 'dup dup dup' || chr(10) || text
      WHEN 2 THEN text || chr(10) || chr(10) || 'para x' || chr(10) || chr(10) || 'para x'
      ELSE text || ' ' || repeat('spam ham ', 30)
    END AS t
  FROM documents
), wc AS (
  SELECT doc_id,
    list_filter(string_split_regex(trim(t), '\\s+'), x -> x <> '') AS toks,
    CAST(COALESCE(list_sum(list_transform(
      list_filter(string_split_regex(trim(t), '\\s+'), x -> x <> ''),
      x -> length(x))), 0) AS BIGINT) AS word_chars
  FROM src
), lines AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(t, '\\r?\\n'),
                                    x -> trim(x) <> '')) AS u
  FROM src
), lg AS (
  SELECT doc_id, u, COUNT(*) AS cnt FROM lines GROUP BY 1, 2
), lstat AS (
  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_lines,
         CAST(SUM(cnt - 1) AS BIGINT) AS dup_lines,
         CAST(SUM(cnt * length(u)) AS BIGINT) AS line_chars,
         CAST(SUM((cnt - 1) * length(u)) AS BIGINT) AS dup_line_chars
  FROM lg GROUP BY 1
), paras AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(t, '(\\r?\\n){2,}'),
                                    x -> trim(x) <> '')) AS u
  FROM src
), pg AS (
  SELECT doc_id, u, COUNT(*) AS cnt FROM paras GROUP BY 1, 2
), pstat AS (
  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_paras,
         CAST(SUM(cnt - 1) AS BIGINT) AS dup_paras,
         CAST(SUM(cnt * length(u)) AS BIGINT) AS para_chars,
         CAST(SUM((cnt - 1) * length(u)) AS BIGINT) AS dup_para_chars
  FROM pg GROUP BY 1
), g2 AS (
  SELECT doc_id, toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT) + 1] AS g
  FROM (SELECT doc_id, toks,
               unnest(range(1, greatest(len(toks) - 1, 0) + 1)) AS i FROM wc)
), t2 AS (
  SELECT doc_id, CAST(cnt * length(replace(g, ' ', '')) AS BIGINT) AS top2_chars
  FROM (SELECT doc_id, g, COUNT(*) AS cnt,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY COUNT(*) DESC, g) AS rn
        FROM g2 GROUP BY doc_id, g)
  WHERE rn = 1
), g3 AS (
  SELECT doc_id, toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT) + 1]
         || ' ' || toks[CAST(i AS INT) + 2] AS g
  FROM (SELECT doc_id, toks,
               unnest(range(1, greatest(len(toks) - 2, 0) + 1)) AS i FROM wc)
), t3 AS (
  SELECT doc_id, CAST(cnt * length(replace(g, ' ', '')) AS BIGINT) AS top3_chars
  FROM (SELECT doc_id, g, COUNT(*) AS cnt,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY COUNT(*) DESC, g) AS rn
        FROM g3 GROUP BY doc_id, g)
  WHERE rn = 1
), g4 AS (
  SELECT doc_id, toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT) + 1]
         || ' ' || toks[CAST(i AS INT) + 2] || ' ' || toks[CAST(i AS INT) + 3] AS g
  FROM (SELECT doc_id, toks,
               unnest(range(1, greatest(len(toks) - 3, 0) + 1)) AS i FROM wc)
), t4 AS (
  SELECT doc_id, CAST(cnt * length(replace(g, ' ', '')) AS BIGINT) AS top4_chars
  FROM (SELECT doc_id, g, COUNT(*) AS cnt,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY COUNT(*) DESC, g) AS rn
        FROM g4 GROUP BY doc_id, g)
  WHERE rn = 1
)
SELECT s.doc_id,
  COALESCE(l.n_lines, 0) AS n_lines, COALESCE(l.dup_lines, 0) AS dup_lines,
  COALESCE(l.line_chars, 0) AS line_chars,
  COALESCE(l.dup_line_chars, 0) AS dup_line_chars,
  COALESCE(p.n_paras, 0) AS n_paras, COALESCE(p.dup_paras, 0) AS dup_paras,
  COALESCE(p.para_chars, 0) AS para_chars,
  COALESCE(p.dup_para_chars, 0) AS dup_para_chars,
  w.word_chars,
  COALESCE(t2.top2_chars, 0) AS top2_chars,
  COALESCE(t3.top3_chars, 0) AS top3_chars,
  COALESCE(t4.top4_chars, 0) AS top4_chars,
  CAST(10 * COALESCE(l.dup_lines, 0) <= 3 * COALESCE(l.n_lines, 0) AS INT)
    AS ok_dup_lines,
  CAST(10 * COALESCE(p.dup_paras, 0) <= 3 * COALESCE(p.n_paras, 0) AS INT)
    AS ok_dup_paras,
  CAST(5 * COALESCE(l.dup_line_chars, 0) <= COALESCE(l.line_chars, 0) AS INT)
    AS ok_dup_line_chars,
  CAST(5 * COALESCE(p.dup_para_chars, 0) <= COALESCE(p.para_chars, 0) AS INT)
    AS ok_dup_para_chars,
  CAST(5 * COALESCE(t2.top2_chars, 0) <= w.word_chars AS INT) AS ok_top2,
  CAST(50 * COALESCE(t3.top3_chars, 0) <= 9 * w.word_chars AS INT) AS ok_top3,
  CAST(25 * COALESCE(t4.top4_chars, 0) <= 4 * w.word_chars AS INT) AS ok_top4,
  CAST(10 * COALESCE(l.dup_lines, 0) <= 3 * COALESCE(l.n_lines, 0)
   AND 10 * COALESCE(p.dup_paras, 0) <= 3 * COALESCE(p.n_paras, 0)
   AND 5 * COALESCE(l.dup_line_chars, 0) <= COALESCE(l.line_chars, 0)
   AND 5 * COALESCE(p.dup_para_chars, 0) <= COALESCE(p.para_chars, 0)
   AND 5 * COALESCE(t2.top2_chars, 0) <= w.word_chars
   AND 50 * COALESCE(t3.top3_chars, 0) <= 9 * w.word_chars
   AND 25 * COALESCE(t4.top4_chars, 0) <= 4 * w.word_chars AS INT) AS keep
FROM src s
JOIN wc w ON w.doc_id = s.doc_id
LEFT JOIN lstat l ON l.doc_id = s.doc_id
LEFT JOIN pstat p ON p.doc_id = s.doc_id
LEFT JOIN t2 ON t2.doc_id = s.doc_id
LEFT JOIN t3 ON t3.doc_id = s.doc_id
LEFT JOIN t4 ON t4.doc_id = s.doc_id
"""


_BLOOM_DEDUP_SQL = """
WITH keyed AS (
  SELECT doc_id, md5(text) AS key FROM documents
), corpus AS (
  SELECT DISTINCT key FROM keyed WHERE doc_id % 4 <> 3
), bits AS (
  SELECT DISTINCT CAST(j AS BIGINT) AS j,
    CAST(concat('0x', substr(md5(CAST(j AS VARCHAR) || ':' || key), 1, 12))
         AS BIGINT) % 4096 AS bit
  FROM corpus, range(0, 4) r(j)
), addr AS (
  SELECT k.key, CAST(r.j AS BIGINT) AS j,
    CAST(concat('0x', substr(md5(CAST(r.j AS VARCHAR) || ':' || k.key), 1, 12))
         AS BIGINT) % 4096 AS bit
  FROM (SELECT DISTINCT key FROM keyed) k, range(0, 4) r(j)
), probe AS (
  SELECT a.key, CAST(CASE WHEN COUNT(b.j) = 4 THEN 1 ELSE 0 END AS INT) AS maybe_dup
  FROM addr a LEFT JOIN bits b ON b.j = a.j AND b.bit = a.bit
  GROUP BY a.key
)
SELECT k.doc_id, p.maybe_dup,
       CAST(CASE WHEN c.key IS NOT NULL THEN 1 ELSE 0 END AS INT) AS is_dup
FROM keyed k JOIN probe p ON p.key = k.key
LEFT JOIN corpus c ON c.key = k.key
"""


_GOPHER_RULES_SQL = """
WITH src AS (
  SELECT doc_id,
    CASE doc_id % 5
      WHEN 0 THEN text
      WHEN 1 THEN text || ' ' || repeat('# ', 40)
      WHEN 2 THEN '- a' || chr(10) || '- b' || chr(10) || '- c' || chr(10) || text
      WHEN 3 THEN text || chr(10) || 'x...' || chr(10) || 'y...' || chr(10) || 'z...'
      ELSE regexp_replace(text, '[A-Za-z]', '0', 'g')
    END AS t
  FROM documents
), w AS (
  SELECT doc_id, t,
    list_filter(string_split_regex(trim(t), '\\s+'), x -> x <> '') AS words,
    string_split_regex(t, '\\r?\\n') AS lines
  FROM src
), c AS (
  SELECT doc_id,
    len(words) AS n_words,
    CAST(COALESCE(list_sum(list_transform(words, x -> length(x))), 0) AS BIGINT)
      AS n_chars,
    len(lines) AS n_lines,
    length(t) - length(replace(t, '#', '')) AS n_hash,
    length(t) - length(replace(t, '...', '')) AS n_ell3,
    len(list_filter(lines,
        x -> starts_with(x, chr(8226)) OR starts_with(x, '- '))) AS n_bullet,
    len(list_filter(lines,
        x -> ends_with(rtrim(x), '...') OR ends_with(rtrim(x), chr(8230))))
      AS n_ell_lines,
    len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
    (CASE WHEN list_contains(words, 'the') THEN 1 ELSE 0 END
     + CASE WHEN list_contains(words, 'be') THEN 1 ELSE 0 END
     + CASE WHEN list_contains(words, 'to') THEN 1 ELSE 0 END
     + CASE WHEN list_contains(words, 'of') THEN 1 ELSE 0 END
     + CASE WHEN list_contains(words, 'and') THEN 1 ELSE 0 END
     + CASE WHEN list_contains(words, 'that') THEN 1 ELSE 0 END
     + CASE WHEN list_contains(words, 'have') THEN 1 ELSE 0 END
     + CASE WHEN list_contains(words, 'with') THEN 1 ELSE 0 END) AS n_stop
  FROM w
)
SELECT doc_id,
  CAST(n_words AS BIGINT) AS n_words, n_chars,
  CAST(n_lines AS BIGINT) AS n_lines, CAST(n_stop AS BIGINT) AS n_stopwords,
  CAST(n_words >= 5 AND n_words <= 100000 AS INT) AS ok_words,
  CAST(n_chars >= 3 * n_words AND n_chars <= 10 * n_words AS INT) AS ok_word_len,
  CAST(10 * (3 * n_hash + n_ell3) <= 3 * n_words AS INT) AS ok_symbols,
  CAST(10 * n_bullet <= n_lines AS INT) AS ok_bullets,
  CAST(10 * n_ell_lines <= 3 * n_lines AS INT) AS ok_ellipsis,
  CAST(5 * n_alpha >= 4 * n_words AS INT) AS ok_alpha,
  CAST(n_stop >= 2 AS INT) AS ok_stopwords,
  CAST(n_words >= 5 AND n_words <= 100000
       AND n_chars >= 3 * n_words AND n_chars <= 10 * n_words
       AND 10 * (3 * n_hash + n_ell3) <= 3 * n_words
       AND 10 * n_bullet <= n_lines
       AND 10 * n_ell_lines <= 3 * n_lines
       AND 5 * n_alpha >= 4 * n_words
       AND n_stop >= 2 AS INT) AS keep
FROM c
"""


_CHARSET_DETECT_SQL = """
SELECT doc_id,
       CASE doc_id % 6
         WHEN 0 THEN 'utf-8' WHEN 1 THEN 'utf-16le' WHEN 2 THEN 'utf-16be'
         WHEN 3 THEN 'iso-8859-1' WHEN 4 THEN 'utf-8'
         ELSE 'windows-1252' END AS charset,
       CASE doc_id % 6
         WHEN 0 THEN 'bom' WHEN 1 THEN 'bom' WHEN 2 THEN 'bom'
         WHEN 3 THEN 'meta' WHEN 4 THEN 'valid-utf8'
         ELSE 'fallback' END AS charset_evidence
FROM documents
"""


_LM_SCORE_SQL = """
WITH t AS (
  SELECT doc_id, source, string_split_regex(trim(lower(text)), '\\s+') AS toks
  FROM documents
), big AS (
  SELECT doc_id, source, toks[CAST(i AS INT)] AS w1, toks[CAST(i AS INT) + 1] AS w2
  FROM (SELECT doc_id, source, toks,
               unnest(range(1, greatest(len(toks) - 1, 0) + 1)) AS i FROM t)
), c12 AS (
  SELECT w1, w2, COUNT(*) AS c12 FROM big
  WHERE source IN ('src0', 'src1', 'src2') GROUP BY 1, 2
), c1 AS (
  SELECT w1, SUM(c12) AS c1 FROM c12 GROUP BY 1
), v AS (
  SELECT COUNT(DISTINCT w2) AS v FROM c12
), w AS (
  SELECT big.doc_id,
         (1000000 * (COALESCE(c12.c12, 0) + 1)) // (COALESCE(c1.c1, 0) + v.v) AS w
  FROM big
  LEFT JOIN c12 ON big.w1 = c12.w1 AND big.w2 = c12.w2
  LEFT JOIN c1 ON big.w1 = c1.w1
  CROSS JOIN v
)
SELECT doc_id, CAST(SUM(w) // COUNT(*) AS BIGINT) AS lm_score,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams
FROM w GROUP BY doc_id
"""


def _morton_sql() -> str:
    """DuckDB twin of functions/cellcodes.interleave_bits at level 6 over
    the derived query points (same >>, &, << integer ops)."""
    def interleave(cv: str) -> str:
        terms = [f"((({cv} >> {i}) & 1) << {2 * i})" for i in range(6)]
        return " + ".join(terms)

    def interleave_y(cv: str) -> str:
        terms = [f"((({cv} >> {i}) & 1) << {2 * i + 1})" for i in range(6)]
        return " + ".join(terms)

    return f"""
WITH pts AS ({points_sql(2, 4)}),
 ids AS (
  SELECT point_id,
         CAST({interleave(_CELL('px'))} + {interleave_y(_CELL('py'))} AS BIGINT) AS cell_id
  FROM pts
), withp AS (
  SELECT point_id, cell_id, cell_id >> 6 AS parent_id FROM ids
)
SELECT point_id, cell_id, CAST(parent_id AS BIGINT) AS parent_id,
       COUNT(*) OVER (PARTITION BY parent_id) AS n_in_parent
FROM withp
"""


def _quadkey_sql(level: int = 6) -> str:
    """DuckDB twin of quadkey_str over the morton interleave."""
    def il(cv: str, off: int) -> str:
        return " + ".join(
            f"((({cv} >> {i}) & 1) << {2 * i + off})" for i in range(level)
        )

    digits = " || ".join(
        f"CAST((m >> {2 * (level - 1 - j)}) & 3 AS VARCHAR)" for j in range(level)
    )
    digits3 = " || ".join(
        f"CAST((m >> {2 * (level - 1 - j)}) & 3 AS VARCHAR)" for j in range(3)
    )
    return f"""
WITH pts AS ({points_sql(2, 4)}),
 ids AS (
  SELECT point_id,
         CAST({il(_CELL('px'), 0)} + {il(_CELL('py'), 1)} AS BIGINT) AS m
  FROM pts
), qk AS (
  SELECT point_id, {digits} AS quadkey, {digits3} AS qk3 FROM ids
)
SELECT point_id, quadkey, qk3,
       COUNT(*) OVER (PARTITION BY qk3) AS n_in_parent
FROM qk
"""


def _geohash_sql(precision: int = 4, level: int = 10) -> str:
    """DuckDB twin of functions/cellcodes.geohash_id: same snap (1024-cell
    grid over the derived frame), same MSB-first x-leading bit packing,
    same base-32 alphabet."""
    from rayjoin_spark.functions.cellcodes import GEOHASH32
    from rayjoin_spark.plans.scaling import INTERNAL_MIN, GridSpec

    cs = GridSpec(1 << level).cell_scale

    def cell(e: str) -> str:
        return f"CAST(trunc((({e}) - ({INTERNAL_MIN})) * {cs!r}) AS BIGINT)"

    total = 5 * precision
    terms = " + ".join(
        f"((({'cx' if t % 2 == 0 else 'cy'} >> {level - 1 - t // 2}) & 1)"
        f" << {total - 1 - t})"
        for t in range(total)
    )
    digits = " || ".join(
        f"substr('{GEOHASH32}', CAST(((n >> {5 * (precision - 1 - j)}) & 31)"
        f" AS INT) + 1, 1)"
        for j in range(precision)
    )
    return f"""
WITH pts AS ({points_sql(2, 4)}),
 cells AS (SELECT point_id, {cell('px')} AS cx, {cell('py')} AS cy FROM pts),
 bits AS (SELECT point_id, CAST({terms} AS BIGINT) AS n FROM cells),
 gh AS (SELECT point_id, {digits} AS geohash FROM bits)
SELECT point_id, geohash, substr(geohash, 1, 2) AS gh2,
       COUNT(*) OVER (PARTITION BY substr(geohash, 1, 2)) AS n_in_prefix
FROM gh
"""


def _adaptive_sql(level: int = 6, cap: int = 64) -> str:
    """DuckDB twin of functions/cellcodes.adaptive_cells: full-depth
    Morton ids, per-level prefix-rollup counts, the leaf criterion
    (n <= cap with parent > cap; forced leaves at max level), and the
    bounded prefix probe join."""
    def il(cv: str, off: int) -> str:
        return " + ".join(
            f"((({cv} >> {i}) & 1) << {2 * i + off})" for i in range(level)
        )

    sql = f"""
WITH pts AS ({points_sql(2, 4)}),
 ids AS (
  SELECT point_id,
         CAST({il(_CELL('px'), 0)} + {il(_CELL('py'), 1)} AS BIGINT) AS m
  FROM pts
),
 c{level} AS (SELECT m AS cell_id, CAST(COUNT(*) AS BIGINT) AS n
              FROM ids GROUP BY 1)"""
    for lvl in range(level - 1, -1, -1):
        sql += f""",
 c{lvl} AS (SELECT cell_id >> 2 AS cell_id, CAST(SUM(n) AS BIGINT) AS n
            FROM c{lvl + 1} GROUP BY 1)"""
    leaf_parts = [f"SELECT cell_id, n, 0 AS level FROM c0 WHERE n <= {cap}"]
    for lvl in range(1, level + 1):
        extra = f"AND ch.n <= {cap}" if lvl < level else ""
        leaf_parts.append(
            f"SELECT ch.cell_id, ch.n, {lvl} AS level FROM c{lvl} ch "
            f"JOIN c{lvl - 1} pa ON (ch.cell_id >> 2) = pa.cell_id "
            f"WHERE pa.n > {cap} {extra}"
        )
    sql += f""",
 leaves AS ({' UNION ALL '.join(leaf_parts)}),
 probe AS (
  SELECT point_id, CAST(l AS INT) AS level,
         m >> (CAST(({level} - l) AS BIGINT) * 2) AS cell_id
  FROM ids, range(0, {level + 1}) r(l)
)
SELECT p.point_id, p.cell_id, CAST(p.level AS INT) AS level,
       lv.n AS n_in_cell
FROM probe p JOIN leaves lv ON lv.level = p.level AND lv.cell_id = p.cell_id
"""
    return sql


def _hilbert_sql(level: int = 6) -> str:
    """DuckDB twin of functions/cellcodes.hilbert_id: the same MSB-first
    swap/negate state machine, one chained CTE per level (lateral column
    aliases carry the per-level temporaries)."""
    body = f"""
WITH pts AS ({points_sql(2, 4)}),
 h{level} AS (
  SELECT point_id, CAST({_CELL('px')} AS BIGINT) AS hx,
         CAST({_CELL('py')} AS BIGINT) AS hy,
         0 AS sw, 0 AS ng, CAST(0 AS BIGINT) AS d
  FROM pts
)"""
    prev = f"h{level}"
    for k in range(level - 1, -1, -1):
        body += f""",
 h{k} AS (
  SELECT point_id, hx, hy, sw2 AS sw, ng2 AS ng, d2 AS d FROM (
    SELECT point_id, hx, hy, sw, ng, d,
           ((hx >> {k}) & 1) AS bx, ((hy >> {k}) & 1) AS byy,
           CASE WHEN sw = 1 THEN byy ELSE bx END AS tx,
           CASE WHEN sw = 1 THEN bx ELSE byy END AS ty,
           xor(tx, ng) AS rx, xor(ty, ng) AS ry,
           d + (CAST(xor(3 * rx, ry) AS BIGINT) << {2 * k}) AS d2,
           xor(sw, CASE WHEN ry = 0 THEN 1 ELSE 0 END) AS sw2,
           xor(ng, CASE WHEN ry = 0 AND rx = 1 THEN 1 ELSE 0 END) AS ng2
    FROM {prev})
 )"""
        prev = f"h{k}"
    body += """
SELECT point_id, d AS cell_id, d >> 6 AS parent_id,
       COUNT(*) OVER (PARTITION BY (d >> 6)) AS n_in_parent
FROM h0
"""
    return body


_EVENT_ROLLUP_SQL = """
SELECT (epoch_us(ts) - ((epoch_us(ts) % 3600000000 + 3600000000) % 3600000000))
         // 3600000000 AS bucket, event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       MIN(value) AS min_value, MAX(value) AS max_value,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
FROM events GROUP BY 1, 2
"""

_EVENT_ASOF_SQL = """
WITH e AS (
  SELECT event_id, user_id, epoch_us(ts) AS us, value,
         CASE WHEN event_type = 'view' THEN 0 ELSE 1 END AS side
  FROM events WHERE event_type IN ('click', 'view')
), m AS (
  SELECT *,
    last_value(CASE WHEN side = 0 THEN event_id END IGNORE NULLS) OVER w AS r_event_id,
    last_value(CASE WHEN side = 0 THEN us END IGNORE NULLS) OVER w AS r_us,
    last_value(CASE WHEN side = 0 THEN value END IGNORE NULLS) OVER w AS r_value
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY us, side, event_id
               ROWS UNBOUNDED PRECEDING)
)
SELECT event_id, user_id, us,
       CAST(r_event_id AS BIGINT) AS asof_event_id,
       CAST(r_us AS BIGINT) AS asof_us,
       r_value AS asof_value,
       CAST(us - r_us AS BIGINT) AS asof_lag_us
FROM m WHERE side = 1
"""

_EVENT_INTERVAL_SQL = """
WITH e AS (
  SELECT event_id, user_id, epoch_us(ts) AS us, event_type FROM events
), a AS (
  SELECT event_id AS interval_id, us - 1800000000 AS lo, us + 1800000000 AS hi
  FROM e WHERE event_type = 'purchase'
)
SELECT interval_id,
       COUNT(*) AS n_events,
       COUNT(DISTINCT e.user_id) AS n_users,
       MIN(e.us) AS first_us, MAX(e.us) AS last_us
FROM a JOIN e ON e.us BETWEEN a.lo AND a.hi
GROUP BY interval_id
"""

_BOILERPLATE_SQL = """
WITH t AS (
  SELECT doc_id, source, string_split_regex(trim(lower(text)), '\\s+') AS toks
  FROM documents
), g AS (
  SELECT DISTINCT doc_id, source,
    array_to_string(list_slice(toks, CAST(i AS INT), CAST(i AS INT) + 4), ' ') AS gram
  FROM (SELECT doc_id, source, toks,
               unnest(range(1, greatest(len(toks) - 4, 0) + 1)) AS i FROM t)
), c AS (
  SELECT source, gram, COUNT(*) AS docs FROM g GROUP BY 1, 2
), per AS (
  SELECT g.doc_id, COUNT(*) AS n_grams,
         SUM(CASE WHEN c.docs >= 3 THEN 1 ELSE 0 END) AS n_boiler
  FROM g JOIN c ON g.source = c.source AND g.gram = c.gram
  GROUP BY g.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(per.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(COALESCE(per.n_boiler, 0) AS BIGINT) AS n_boiler,
       COALESCE(per.n_boiler, 0)
         / CAST(greatest(COALESCE(per.n_grams, 0), 1) AS DOUBLE) AS boiler_frac
FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
"""

_DOMAIN_TOPK_SQL = f"""
WITH q AS (
  SELECT doc_id, source, {_QUALITY_EXPR} AS quality FROM documents
), r AS (
  SELECT doc_id, source, quality,
         row_number() OVER (PARTITION BY source ORDER BY quality DESC, doc_id) AS rnk
  FROM q
)
SELECT doc_id, source, quality, CAST(rnk AS BIGINT) AS rank FROM r WHERE rnk <= 5
"""

_KEEP_BEST_SQL = f"""
WITH RECURSIVE verified AS (
  SELECT id_a, id_b FROM ({_NEARDUP_SQL})
  WHERE n_inter * 2 >= n_a + n_b - n_inter
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM verified
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM verified
), reach(id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT reach.id, edges.dst FROM reach JOIN edges ON edges.src = reach.r
), lab AS (
  SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id
), q AS (
  SELECT doc_id, {_QUALITY_EXPR} AS quality FROM documents
), rk AS (
  SELECT lab.doc_id, lab.cluster_id,
         row_number() OVER (PARTITION BY lab.cluster_id
                            ORDER BY q.quality DESC, lab.doc_id) AS rn
  FROM lab JOIN q USING (doc_id)
), kept AS (
  SELECT cluster_id, doc_id AS kept_id FROM rk WHERE rn = 1
)
SELECT rk.doc_id, rk.cluster_id, kept.kept_id, rk.doc_id = kept.kept_id AS keep
FROM rk JOIN kept USING (cluster_id)
"""

_DUP_SPANS_SQL = f"""
WITH t AS (
  SELECT doc_id, {_TOKENS} AS toks FROM documents
), w AS (
  SELECT doc_id,
         md5(array_to_string(list_slice(toks, CAST(i AS INT), CAST(i + 7 AS INT)), ' ')) AS gram
  FROM (
    SELECT doc_id, toks, unnest(range(1, len(toks) - 8 + 2)) AS i
    FROM t WHERE len(toks) >= 8
  )
), g AS (
  SELECT gram, COUNT(DISTINCT doc_id) AS nd FROM w GROUP BY gram
), p AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows,
         CAST(SUM(CASE WHEN g.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows
  FROM w JOIN g USING (gram) GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(p.n_windows, 0) AS n_windows,
       COALESCE(p.n_dup_windows, 0) AS n_dup_windows,
       COALESCE(p.n_dup_windows, 0) / CAST(greatest(COALESCE(p.n_windows, 0), 1) AS DOUBLE) AS dup_frac
FROM documents d LEFT JOIN p USING (doc_id)
"""


def _bpe_tokens_sql() -> str:
    from rayjoin_spark.functions.textops import BPE_SPLIT_PATTERN

    pat = BPE_SPLIT_PATTERN.replace("'", "''")
    return f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{pat}')) AS BIGINT) AS n_bpe_tokens
FROM documents
"""


def _source_mix_sql() -> str:
    from rayjoin_spark.functions.textops import hex_threshold

    base_cases = " ".join(
        f"WHEN '{src}' THEN {int(w)}" for src, w in sorted(_MIX_WEIGHTS.items())
    )
    thr_cases = " ".join(
        f"WHEN '{src}' THEN '{hex_threshold(w - int(w))}'"
        for src, w in sorted(_MIX_WEIGHTS.items())
    )
    return f"""
WITH wts AS (
  SELECT doc_id, source,
    CAST(CASE source {base_cases} ELSE 1 END AS BIGINT)
      + CASE WHEN md5(CAST(doc_id AS VARCHAR))
                  < CASE source {thr_cases} ELSE '00000000' END
             THEN 1 ELSE 0 END AS n_rep
  FROM documents
)
SELECT doc_id, source, CAST(unnest(range(1, n_rep + 1)) AS BIGINT) AS rep FROM wts
"""


def _kmeans_sql(k: int = 8, iters: int = 2) -> str:
    """Unrolled Lloyd iterations mirroring simsearch.kmeans_labels:
    integer-quantized vectors, exact integer squared-L2 via the dot
    identity (every dot is integer-exact in double at this scale),
    (dist, cid) argmin tiebreak, truncating integer-mean update
    (DuckDB // and Spark DIV both truncate toward zero)."""
    dd = "CAST({x} AS DOUBLE[])"
    def dot(a, b):
        return f"list_dot_product({dd.format(x=a)}, {dd.format(x=b)})"

    def assign(name, cent):
        return f"""{name} AS (
  SELECT vid, v, cid, dist FROM (
    SELECT vid, v, cid, dist,
           row_number() OVER (PARTITION BY vid ORDER BY dist, cid) AS rn
    FROM (
      SELECT iv.vid, iv.v, c.cid,
             CAST({dot('iv.v', 'iv.v')} + {dot('c.cv', 'c.cv')}
                - 2 * {dot('iv.v', 'c.cv')} AS BIGINT) AS dist
      FROM iv, {cent} c
    )
  ) WHERE rn = 1
)"""

    def update(name, prev):
        return f"""{name} AS (
  SELECT cid, list(mu ORDER BY dim) AS cv FROM (
    SELECT cid, dim, SUM(val) // COUNT(*) AS mu FROM (
      SELECT cid, CAST(i AS INT) AS dim, v[CAST(i AS INT)] AS val
      FROM {prev}, UNNEST(range(1, len(v) + 1)) AS t(i)
    ) GROUP BY cid, dim
  ) GROUP BY cid
)"""

    ctes = [
        f"""iv AS (
  SELECT vec_id AS vid, list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS v
  FROM embeddings
)""",
        f"""c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vid) - 1 AS INT) AS cid, v AS cv
  FROM (SELECT vid, v FROM iv ORDER BY vid LIMIT {k})
)""",
    ]
    cent = "c0"
    for i in range(iters):
        ctes.append(assign(f"a{i}", cent))
        ctes.append(update(f"c{i + 1}", f"a{i}"))
        cent = f"c{i + 1}"
    ctes.append(assign("afinal", cent))
    return (
        "WITH " + ",\n".join(ctes)
        + "\nSELECT vid AS vec_id, CAST(cid AS BIGINT) AS cluster, dist AS sq_dist FROM afinal"
    )


_EVENT_SESSIONS_SQL = """
WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events),
 l AS (SELECT *, lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev FROM e),
 n AS (SELECT *, CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1 ELSE 0 END AS new_sess FROM l),
 s AS (SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
                                     ROWS UNBOUNDED PRECEDING) AS sid FROM n)
SELECT user_id, MIN(us) AS session_start_us, MAX(us) AS session_end_us,
       COUNT(*) AS n_events
FROM s GROUP BY user_id, sid
"""


def _multimodal_sql(n: int = 200) -> str:
    """Literal-lookup oracle for the multimodal feature pipeline: the
    fixture's 8 PNG, 8 WAV and 8 Y4M variants are all deterministic
    (functions/multimodal.py synthetic_media), so n_bytes/sha256/width/
    height/decoder are re-derivable as constants keyed by media_id % 8."""
    import hashlib

    from rayjoin_spark.functions.multimodal import (
        _jpeg_variants, _png_variants, _wav_variants, _y4m_variants,
    )

    def arrs(variants):
        sha = "[" + ",".join(
            f"'{hashlib.sha256(v).hexdigest()}'" for v in variants
        ) + "]"
        nb = "[" + ",".join(str(len(v)) for v in variants) + "]"
        return sha, nb

    sha_arr, nb_arr = arrs(_png_variants())
    jsha_arr, jnb_arr = arrs(_jpeg_variants())
    wsha_arr, wnb_arr = arrs(_wav_variants())
    vsha_arr, vnb_arr = arrs(_y4m_variants())
    # video fixture widths alternate 4/6 with k = media_id % 8 (height 4);
    # jpeg fixture widths alternate 8/16 (height 8), on image rows with
    # media_id % 6 = 3 (functions/multimodal.py synthetic_media)
    vw_arr = "[" + ",".join(str(4 + 2 * (k % 2)) for k in range(8)) + "]"
    jw_arr = "[" + ",".join(str(8 + 8 * (k % 2)) for k in range(8)) + "]"
    return f"""
WITH ids AS (SELECT CAST(unnest(range(0, {n})) AS BIGINT) AS media_id),
 k AS (
  SELECT media_id,
         CASE media_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         media_id % 6 = 3 AS is_jpeg,
         CAST(media_id % 8 AS INT) + 1 AS v
  FROM ids
)
SELECT media_id, kind,
  CAST(CASE WHEN kind = 'image' THEN (CASE WHEN is_jpeg THEN {jnb_arr}[v] ELSE {nb_arr}[v] END)
            WHEN kind = 'audio' THEN {wnb_arr}[v]
            ELSE {vnb_arr}[v] END AS BIGINT) AS n_bytes,
  CASE WHEN kind = 'image' THEN (CASE WHEN is_jpeg THEN {jsha_arr}[v] ELSE {sha_arr}[v] END)
       WHEN kind = 'audio' THEN {wsha_arr}[v]
       ELSE {vsha_arr}[v] END AS sha256,
  CAST(CASE WHEN kind = 'image' THEN (CASE WHEN is_jpeg THEN {jw_arr}[v] ELSE 4 END)
            WHEN kind = 'video' THEN {vw_arr}[v] END AS INTEGER) AS width,
  CAST(CASE WHEN kind = 'image' THEN (CASE WHEN is_jpeg THEN 8 ELSE 3 END)
            WHEN kind = 'video' THEN 4 END AS INTEGER) AS height,
  TRUE AS decode_ok,
  CASE WHEN kind = 'image' THEN (CASE WHEN is_jpeg THEN 'jpeg' ELSE 'png' END)
       WHEN kind = 'audio' THEN 'wav' ELSE 'y4m' END AS decoder
FROM k
"""


def _overlay_oracle_sql_cached(result: str = "chains") -> str:
    from rayjoin_spark.sources.overlay_oracle import overlay_oracle_sql

    return overlay_oracle_sql(4, result=result)


#: winnowing (k=9, w=4): window min over k-gram md5s with rightmost-min
#: argmin (max pos among window rows holding the min), then distinct —
#: the same selection textops.winnow_fingerprints does with array codegen
_WINNOW_SQL = """
WITH g AS (
  SELECT doc_id, CAST(pos AS BIGINT) AS p,
         md5(substr(text, CAST(pos AS INT), 9)) AS h
  FROM (
    SELECT doc_id, text, unnest(range(1, greatest(length(text) - 8, 1) + 1)) AS pos
    FROM documents
  )
), ng AS (
  SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id
), wins AS (
  SELECT doc_id, p AS wstart,
         min(h) OVER (PARTITION BY doc_id ORDER BY p
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m
  FROM g
), lim AS (
  SELECT w.doc_id, w.wstart, w.m
  FROM wins w JOIN ng ON ng.doc_id = w.doc_id
  WHERE w.wstart <= greatest(ng.n - 3, 1)
), sel AS (
  SELECT l.doc_id, max(g.p) AS pos, l.m AS fingerprint
  FROM lim l JOIN g ON g.doc_id = l.doc_id
   AND g.p >= l.wstart AND g.p <= l.wstart + 3
   AND g.h = l.m
  GROUP BY l.doc_id, l.wstart, l.m
)
SELECT DISTINCT doc_id, pos, fingerprint FROM sel
"""

def _containment_sql() -> str:
    """The jaccard oracle with Broder containment ratios appended: the
    final SELECT gains contain_a/contain_b; everything upstream is the
    identical candidate + intersection chain."""
    body = _NEARDUP_SQL.rstrip()
    needle = "FROM pairs p"
    head, tail = body.rsplit(needle, 1)
    extra = (
        "       COALESCE(i.n_inter, 0) / CAST(greatest(na.n, 1) AS DOUBLE) AS contain_a,\n"
        "       COALESCE(i.n_inter, 0) / CAST(greatest(nb.n, 1) AS DOUBLE) AS contain_b\n"
    )
    return head.rstrip().rstrip(",") + ",\n" + extra + needle + tail


def _hits_sql(iters: int = 3, scale: int = 1_000_000,
              edges_sql: str | None = None) -> str:
    """Unrolled truncating-integer HITS mirroring operators/graph.py
    hits() exactly (sum of hubs -> max-normalize -> sum of auths ->
    max-normalize per round; DuckDB // == Spark DIV on non-negatives).
    `edges_sql` must define a CTE named ``e`` with (src, dst)."""
    sql = (
        f"WITH {(edges_sql or _HOST_EDGES_SQL).strip()},\n"
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),\n"
        f"h0 AS (SELECT node, CAST({scale} AS BIGINT) AS hub FROM nodes)"
    )
    for i in range(1, iters + 1):
        sql += f""",
ra{i} AS (SELECT e.dst AS node, sum(h.hub) AS s
          FROM e JOIN h{i - 1} h ON h.node = e.src GROUP BY e.dst),
a{i} AS (SELECT n.node,
  CAST((coalesce(r.s, 0) * {scale})
       // (SELECT greatest(coalesce(max(s), 0), 1) FROM ra{i}) AS BIGINT) AS auth
  FROM nodes n LEFT JOIN ra{i} r ON r.node = n.node),
rh{i} AS (SELECT e.src AS node, sum(a.auth) AS s
          FROM e JOIN a{i} a ON a.node = e.dst GROUP BY e.src),
h{i} AS (SELECT n.node,
  CAST((coalesce(r.s, 0) * {scale})
       // (SELECT greatest(coalesce(max(s), 0), 1) FROM rh{i}) AS BIGINT) AS hub
  FROM nodes n LEFT JOIN rh{i} r ON r.node = n.node)"""
    return sql + (
        f"\nSELECT n.node, h{iters}.hub, a{iters}.auth FROM nodes n"
        f" JOIN h{iters} ON h{iters}.node = n.node"
        f" JOIN a{iters} ON a{iters}.node = n.node"
    )


#: exact per-lang percentiles: histogram + cumulative window + the
#: lower-nearest-rank rule ((n-1)*q DIV 100), mirroring exact_quantiles
_LENGTH_QUANTILES_SQL = """
WITH v AS (SELECT lang, CAST(length(text) AS BIGINT) AS len FROM documents),
hist AS (SELECT lang, len, COUNT(*) AS c FROM v GROUP BY lang, len),
cum AS (
  SELECT lang, len, c,
         sum(c) OVER (PARTITION BY lang ORDER BY len
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm
  FROM hist
), tot AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n_rows FROM hist GROUP BY lang)
SELECT c.lang, max(t.n_rows) AS n_rows,
       min(CASE WHEN c.cm >= ((t.n_rows - 1) * 25) // 100 + 1 THEN c.len END) AS p25,
       min(CASE WHEN c.cm >= ((t.n_rows - 1) * 50) // 100 + 1 THEN c.len END) AS p50,
       min(CASE WHEN c.cm >= ((t.n_rows - 1) * 75) // 100 + 1 THEN c.len END) AS p75
FROM cum c JOIN tot t ON t.lang = c.lang
GROUP BY c.lang
"""


#: page_metadata: the oracle STATES the expected extracted fields
#: directly from the fixture arithmetic (contract style) — entity-decoded
#: title, conditional description/robots/canonical, lang attribute
_PAGE_METADATA_SQL = """
SELECT doc_id,
       'Doc ' || CAST(doc_id AS VARCHAR) || ' & ' || source AS title,
       CASE WHEN doc_id % 3 = 0
            THEN 'About doc ' || CAST(doc_id AS VARCHAR) END AS description,
       CASE WHEN doc_id % 5 = 0 THEN 'noindex, nofollow' END AS robots,
       CASE WHEN doc_id % 2 = 0
            THEN 'https://canon.example/' || CAST(doc_id % 50 AS VARCHAR) END AS canonical,
       lang AS page_lang
FROM documents
"""

_CANONICAL_DEDUP_SQL = """
WITH eff AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0
              THEN 'https://canon.example/' || CAST(doc_id % 50 AS VARCHAR)
              ELSE 'https://site' || CAST(doc_id % 97 AS VARCHAR)
                   || '.example/d/' || CAST(doc_id AS VARCHAR)
         END AS canonical_url
  FROM documents
)
SELECT canonical_url, CAST(COUNT(*) AS BIGINT) AS n_pages,
       MIN(doc_id) AS kept_doc
FROM eff GROUP BY canonical_url
"""


def _script_profile_sql() -> str:
    """Mirror of textops.script_profile: per-script counts via global
    regexp_replace deletion (DuckDB needs the explicit 'g' flag; Spark
    replaces all matches by default) + the same ordered CASE."""
    from rayjoin_spark.functions.textops import SCRIPT_RANGES

    cnt = ",\n       ".join(
        f"CAST(length(text) - length(regexp_replace(text, '{pat}', '', 'g')) AS BIGINT) AS n_{name}"
        for name, pat in SCRIPT_RANGES
    )
    names = [name for name, _ in SCRIPT_RANGES]
    best = "greatest(" + ", ".join(f"n_{n}" for n in names) + ")"
    dom = f"CASE WHEN {best} = 0 THEN 'other'\n"
    for n in names:
        dom += f"            WHEN n_{n} = {best} THEN '{n}'\n"
    dom += "       END AS dominant_script"
    return f"""
WITH c AS (
  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
       {cnt}
  FROM documents
)
SELECT doc_id, n_chars, n_latin, n_cyrillic, n_cjk, n_arabic,
       {dom}
FROM c
"""


#: count-min heavy hitters: the sketch rebuilt in SQL with the identical
#: md5 bucket addressing (j || ':' || term, first 12 hex chars, % width)
_HEAVY_HITTERS_SQL = """
WITH tokf AS (
  SELECT term FROM (
    SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
    FROM documents
  ) WHERE term <> ''
), jt AS (
  SELECT term, CAST(j AS BIGINT) AS j FROM tokf, range(0, 4) t(j)
), sk AS (
  SELECT j,
         CAST(concat('0x', substr(md5(CAST(j AS VARCHAR) || ':' || term), 1, 12))
              AS BIGINT) % 1024 AS bucket,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM jt GROUP BY 1, 2
), exact AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS n_exact FROM tokf GROUP BY term
), addr AS (
  SELECT e.term, CAST(r.j AS BIGINT) AS j,
         CAST(concat('0x', substr(md5(CAST(r.j AS VARCHAR) || ':' || e.term), 1, 12))
              AS BIGINT) % 1024 AS bucket
  FROM exact e, range(0, 4) r(j)
), est AS (
  SELECT a.term, MIN(s.cnt) AS est
  FROM addr a JOIN sk s ON s.j = a.j AND s.bucket = a.bucket
  GROUP BY a.term
), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tokf)
SELECT e.term, e.est, x.n_exact
FROM est e JOIN exact x ON x.term = e.term, tot
WHERE e.est >= tot.n // 200
"""


def oracle_sql() -> dict[str, str]:
    return {
        "lsi_join": _LSI_SQL,
        "lsi_join_finegrid": _LSI_SQL,
        "pip_locate": _PIP_SQL,
        "pip_locate_finegrid": _PIP_SQL,
        "grid_cell_counts": _GRID_CELLS_AGG_SQL,
        "cell_workload_hist": _WORKLOAD_SQL,
        "tile_counts": _TILES_SQL,
        "raster_vectorize": _RASTER_VECTORIZE_SQL,
        "knn_cellring": _KNN_SQL,
        "token_count": _TOKEN_COUNT_SQL,
        "quality_score": _QUALITY_SQL,
        "lang_guess": _LANG_SQL,
        "doc_fingerprint": _FINGERPRINT_SQL,
        "dedup_exact": _DEDUP_SQL,
        "minhash_signatures": _MINHASH_SQL,
        "lsh_bands": _LSH_BANDS_SQL,
        "neardup_jaccard": _NEARDUP_SQL,
        "neardup_clusters": _NEARDUP_CLUSTERS_SQL,
        "sample_stratified": _sample_stratified_sql(),
        "doc_chunks": _DOC_CHUNKS_SQL,
        "simhash16": _SIMHASH_SQL,
        "simhash_neardup": f"""
WITH sh AS ({_SIMHASH_SQL}),
bands AS (
  SELECT doc_id, simhash, CAST(b AS INT) AS band,
         (simhash // CAST(power(2, b * 8) AS BIGINT)) % 256 AS bkey
  FROM sh, (SELECT unnest(range(0, 2)) AS b)
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
  FROM bands a JOIN bands c ON a.band = c.band AND a.bkey = c.bkey
  WHERE a.doc_id < c.doc_id
)
SELECT cand.id_a, cand.id_b,
       CAST(bit_count(xor(sa.simhash, sb.simhash)) AS INT) AS hamming
FROM cand
JOIN sh sa ON sa.doc_id = cand.id_a
JOIN sh sb ON sb.doc_id = cand.id_b
WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 1
""",
        "ann_topk_dot": _ANN_SQL,
        "pages_geocode": _PAGES_SQL,
        "warc_roundtrip": _WARC_ROUNDTRIP_SQL,
        "html_extract": _HTML_EXTRACT_SQL,
        "line_dedup": _LINE_DEDUP_SQL,
        "paragraph_dedup": r"""
WITH mp AS (
  SELECT doc_id,
         regexp_replace(text, '((\S+\s+){7}\S+)\s+',
                        '\1' || chr(10) || chr(10), 'g') AS t
  FROM documents
), paras AS (
  SELECT doc_id,
         generate_subscripts(string_split_regex(t, '(\r?\n){2,}'), 1) AS line_no,
         unnest(string_split_regex(t, '(\r?\n){2,}')) AS line
  FROM mp
), dup AS (
  SELECT line FROM paras GROUP BY line HAVING count(*) >= 2
), agg AS (
  SELECT p.doc_id,
         string_agg(CASE WHEN d.line IS NULL THEN p.line END,
                    chr(10) || chr(10) ORDER BY p.line_no) AS clean_text,
         count(*) FILTER (WHERE d.line IS NULL) AS paras_kept,
         count(*) FILTER (WHERE d.line IS NOT NULL) AS paras_dropped
  FROM paras p LEFT JOIN dup d USING (line)
  GROUP BY p.doc_id
)
SELECT doc_id, coalesce(clean_text, '') AS clean_text,
       CAST(coalesce(paras_kept, 0) AS BIGINT) AS paras_kept,
       CAST(coalesce(paras_dropped, 0) AS BIGINT) AS paras_dropped
FROM agg
""",
        "host_stats": _HOST_STATS_SQL,
        "pagerank_hosts": _pagerank_sql(),
        "triangle_count": _TRIANGLE_SQL,
        "link_jaccard": _LINK_JACCARD_SQL,
        "host_components": _HOST_COMPONENTS_SQL,
        "moran_tiles": _MORAN_SQL,
        "collocations": _COLLOCATIONS_SQL,
        "dwell_segments": _DWELL_SQL,
        "union_area": _UNION_AREA_SQL,
        "interval_merge": _INTERVAL_MERGE_SQL,
        "xsect_density": _XSECT_DENSITY_SQL,
        "reciprocity": _RECIPROCITY_SQL,
        "assortativity": _ASSORTATIVITY_SQL,
        "closest_pair": _CLOSEST_PAIR_SQL,
        "local_moran": _LOCAL_MORAN_SQL,
        "burst_detect": _BURST_SQL,
        "weighted_sample": _WEIGHTED_SAMPLE_SQL,
        "rect_join": _rect_join_sql(),
        "skipgram_pairs": _SKIPGRAM_SQL,
        "tile_quantiles": _TILE_QUANTILES_SQL,
        "raster_diff": _RASTER_DIFF_SQL,
        "mirror_clusters": _MIRROR_CLUSTERS_SQL,
        "scc_hosts": _SCC_SQL,
        "graph_degrees": _GRAPH_DEGREES_SQL,
        "inverted_index": _INVERTED_INDEX_SQL,
        "quality_classifier": _QUALITY_CLASSIFIER_SQL,
        "url_canonical": _URL_CANONICAL_SQL,
        "anchor_links": _ANCHOR_LINKS_SQL,
        "anchor_profile": _ANCHOR_PROFILE_SQL,
        "crawl_priorities": (
            "SELECT node AS host, rank FROM ("
            + _pagerank_sql(iters=3, edges_sql=_CRAWL_EDGES_SQL)
            + ")"
        ),
        "latest_snapshot": _LATEST_SNAPSHOT_SQL,
        "ngram_novelty": _NGRAM_NOVELTY_SQL,
        "main_content": _MAIN_CONTENT_SQL,
        "dedup_incremental": _DEDUP_INCREMENTAL_SQL,
        "corpus_card": _CORPUS_CARD_SQL,
        "c4_filter": _C4_FILTER_SQL,
        "sitemap_parse": _SITEMAP_PARSE_SQL,
        "robots_sitemaps": _ROBOTS_SITEMAPS_SQL,
        "cdx_index": _CDX_INDEX_SQL,
        "wet_roundtrip": _WET_ROUNDTRIP_SQL,
        "recrawl_schedule": _RECRAWL_SCHEDULE_SQL,
        "crawl_budget": _CRAWL_BUDGET_SQL,
        "normalize_text": _normalize_text_sql(),
        "crawl_diff": _CRAWL_DIFF_SQL,
        "crawl_frontier": _CRAWL_FRONTIER_SQL,
        "robots_filter": _ROBOTS_FILTER_SQL,
        "fetch_schedule": _FETCH_SCHEDULE_SQL,
        "tile_pyramid": _TILE_PYRAMID_SQL,
        "lsi_join_salted": _LSI_SQL,
        "neardup_embedding": _NEARDUP_EMB_SQL,
        "neardup_embedding_lsh": _NEARDUP_EMB_LSH_SQL,
        "ann_lsh_topk": _ANN_LSH_SQL,
        "ann_ivf_topk": _ANN_IVF_SQL,
        "tfidf_topk": _TFIDF_SQL,
        "repetition_ratio": _REPETITION_SQL,
        "shard_stats": _SHARD_STATS_SQL,
        "pack_sequences": _PACK_SQL,
        "face_stats": _FACE_STATS_SQL,
        "decontaminate": _DECONTAMINATE_SQL,
        "redact_pii": _REDACT_PII_SQL,
        "dist_join": _DIST_JOIN_SQL,
        "nearest_edge": _NEAREST_EDGE_SQL,
        "convex_hull": _CONVEX_HULL_SQL,
        "group_diameter": _GROUP_DIAMETER_SQL,
        "bm25_rank": _BM25_SQL,
        "idw_interpolate": _IDW_SQL,
        "face_within": _FACE_WITHIN_SQL,
        "bfs_hops": _BFS_HOPS_SQL,
        "sssp_hosts": _SSSP_SQL,
        "tile_top_hosts": _TILE_TOP_HOSTS_SQL,
        "route_length": _ROUTE_LENGTH_SQL,
        "od_matrix": _OD_MATRIX_SQL,
        "hotspot_tiles": _HOTSPOT_SQL,
        "skyline": _SKYLINE_SQL,
        "dbscan": _DBSCAN_SQL,
        "zonal_stats": _ZONAL_SQL_TMPL.format(pip_sql=_PIP_SQL),
        "winnow_fingerprints": _WINNOW_SQL,
        "neardup_containment": _containment_sql(),
        "hits_hosts": _hits_sql(),
        "length_quantiles": _LENGTH_QUANTILES_SQL,
        "page_metadata": _PAGE_METADATA_SQL,
        "canonical_dedup": _CANONICAL_DEDUP_SQL,
        "script_profile": _script_profile_sql(),
        "heavy_hitters": _HEAVY_HITTERS_SQL,
        "overlay_chains": _overlay_oracle_sql_cached(),
        "overlay_points": _overlay_oracle_sql_cached("points"),
        "cell_morton": _morton_sql(),
        "event_rollup": _EVENT_ROLLUP_SQL,
        "event_sessions": _EVENT_SESSIONS_SQL,
        "event_asof": _EVENT_ASOF_SQL,
        "event_interval_join": _EVENT_INTERVAL_SQL,
        "boilerplate_frac": _BOILERPLATE_SQL,
        "domain_topk": _DOMAIN_TOPK_SQL,
        "dedup_keep_best": _KEEP_BEST_SQL,
        "dup_spans": _DUP_SPANS_SQL,
        "source_mix": _source_mix_sql(),
        "bpe_token_count": _bpe_tokens_sql(),
        "kmeans_labels": _kmeans_sql(k=8, iters=2),
        "kmeans_reps": f"""
WITH km AS ({_kmeans_sql(k=8, iters=2)}),
 r AS (
  SELECT cluster, vec_id, sq_dist,
         row_number() OVER (PARTITION BY cluster ORDER BY sq_dist, vec_id) AS rn
  FROM km
)
SELECT cluster, vec_id AS rep_id, sq_dist FROM r WHERE rn = 1
""",
        "semdedup": f"""
WITH RECURSIVE km AS ({_kmeans_sql(k=8, iters=2)}),
ivq AS (
  SELECT vec_id, list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS v
  FROM embeddings
), m AS (
  SELECT km.vec_id, km.cluster, km.sq_dist, ivq.v FROM km JOIN ivq USING (vec_id)
), d AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         CAST(list_dot_product(CAST(a.v AS DOUBLE[]), CAST(b.v AS DOUBLE[])) AS BIGINT) AS dot,
         CAST(list_dot_product(CAST(a.v AS DOUBLE[]), CAST(a.v AS DOUBLE[])) AS BIGINT) AS n_a,
         CAST(list_dot_product(CAST(b.v AS DOUBLE[]), CAST(b.v AS DOUBLE[])) AS BIGINT) AS n_b
  FROM m a JOIN m b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
), pairs AS (
  SELECT id_a, id_b FROM d
  WHERE dot >= 0
    AND CAST(dot AS HUGEINT) * dot * 10000 >= CAST(8100 AS HUGEINT) * n_a * n_b
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
), reach(id, r) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT reach.id, edges.dst FROM reach JOIN edges ON edges.src = reach.r
), lab AS (
  SELECT id AS vec_id, MIN(r) AS dup_group FROM reach GROUP BY id
), sz AS (
  SELECT dup_group, COUNT(*) AS group_size FROM lab GROUP BY dup_group
), keeper AS (
  SELECT dup_group, vec_id AS keep_id FROM (
    SELECT lab.dup_group, m.vec_id,
           row_number() OVER (PARTITION BY lab.dup_group
                              ORDER BY m.sq_dist DESC, m.vec_id DESC) AS rn
    FROM lab JOIN m USING (vec_id)
  ) WHERE rn = 1
)
SELECT m.vec_id, m.cluster, m.sq_dist, lab.dup_group,
       CAST(sz.group_size AS BIGINT) AS group_size,
       CAST(m.vec_id = keeper.keep_id AS INT) AS keep
FROM m JOIN lab USING (vec_id) JOIN sz USING (dup_group) JOIN keeper USING (dup_group)
""",
        # multimodal: the checked columns (dims/bytes/hashes/decoder) are
        # literal-derivable from the deterministic fixture; the float
        # feature vector stays pytest-only (mapInPandas decode internals)
        "multimodal_features": _multimodal_sql(),
        "cell_hilbert": _hilbert_sql(),
        "adaptive_cells": _adaptive_sql(),
        "geohash_encode": _geohash_sql(),
        "quadkey_encode": _quadkey_sql(),
        "mercator_tiles": """
WITH pts AS (
  SELECT doc_id,
         CAST((doc_id * 2654435761) % 360000001 - 180000000 AS BIGINT) AS lon_udeg,
         CAST((doc_id * 2246822519) % 170000001 - 85000000 AS BIGINT) AS lat_udeg
  FROM documents
), r AS (
  SELECT *,
         CAST(greatest(-85051130, least(85051130, lat_udeg)) AS DOUBLE)
           / 1000000.0 * (pi() / 180.0) AS lr
  FROM pts
), t AS (
  SELECT doc_id, lon_udeg, lat_udeg,
         greatest(CAST(0 AS BIGINT), least(CAST(2047 AS BIGINT),
           ((lon_udeg + 180000000) * 2048) // 360000000)) AS tx,
         greatest(CAST(0 AS BIGINT), least(CAST(2047 AS BIGINT),
           CAST(floor((1.0 - ln(tan(lr) + sqrt(tan(lr) * tan(lr) + 1.0)) / pi())
                      / 2.0 * 2048.0) AS BIGINT))) AS ty
  FROM r
)
SELECT doc_id, lon_udeg, lat_udeg, tx, ty,
       CAST(((ty // 1024) % 2) * 2 + ((tx // 1024) % 2) AS VARCHAR) || CAST(((ty // 512) % 2) * 2 + ((tx // 512) % 2) AS VARCHAR) || CAST(((ty // 256) % 2) * 2 + ((tx // 256) % 2) AS VARCHAR) || CAST(((ty // 128) % 2) * 2 + ((tx // 128) % 2) AS VARCHAR) || CAST(((ty // 64) % 2) * 2 + ((tx // 64) % 2) AS VARCHAR) || CAST(((ty // 32) % 2) * 2 + ((tx // 32) % 2) AS VARCHAR) || CAST(((ty // 16) % 2) * 2 + ((tx // 16) % 2) AS VARCHAR) || CAST(((ty // 8) % 2) * 2 + ((tx // 8) % 2) AS VARCHAR) || CAST(((ty // 4) % 2) * 2 + ((tx // 4) % 2) AS VARCHAR) || CAST(((ty // 2) % 2) * 2 + ((tx // 2) % 2) AS VARCHAR) || CAST(((ty // 1) % 2) * 2 + ((tx // 1) % 2) AS VARCHAR) AS quadkey
FROM t
""",
        "tile_bounds": """
WITH pts AS (
  SELECT CAST((doc_id * 2654435761) % 360000001 - 180000000 AS BIGINT) AS lon_udeg,
         CAST((doc_id * 2246822519) % 170000001 - 85000000 AS BIGINT) AS lat_udeg
  FROM documents
), r AS (
  SELECT *,
         CAST(greatest(-85051130, least(85051130, lat_udeg)) AS DOUBLE)
           / 1000000.0 * (pi() / 180.0) AS lr
  FROM pts
), tiles AS (
  SELECT DISTINCT
         greatest(CAST(0 AS BIGINT), least(CAST(2047 AS BIGINT),
           ((lon_udeg + 180000000) * 2048) // 360000000)) AS tx,
         greatest(CAST(0 AS BIGINT), least(CAST(2047 AS BIGINT),
           CAST(floor((1.0 - ln(tan(lr) + sqrt(tan(lr) * tan(lr) + 1.0)) / pi())
                      / 2.0 * 2048.0) AS BIGINT))) AS ty
  FROM r
), edges AS (
  SELECT tx, ty,
         (tx * 360000000) // 2048 - 180000000 AS lon_w_udeg,
         ((tx + 1) * 360000000 + 2047) // 2048 - 180000000 AS lon_e_udeg,
         pi() * (1.0 - 2.0 * CAST(ty AS DOUBLE) / 2048.0) AS an,
         pi() * (1.0 - 2.0 * CAST(ty + 1 AS DOUBLE) / 2048.0) AS asouth
  FROM tiles
)
SELECT tx, ty, CAST(lon_w_udeg AS BIGINT) AS lon_w_udeg,
       CAST(lon_e_udeg AS BIGINT) AS lon_e_udeg,
       CAST(round(atan((exp(an) - exp(-an)) / 2.0) * (180.0 / pi()) * 1e6)
            AS BIGINT) AS lat_n_udeg,
       CAST(round(atan((exp(asouth) - exp(-asouth)) / 2.0) * (180.0 / pi()) * 1e6)
            AS BIGINT) AS lat_s_udeg
FROM edges
""",
        "geo_dist_join": """
WITH pts AS (
  SELECT doc_id,
         CAST((doc_id * 2654435761) % 360000001 - 180000000 AS BIGINT) AS lon_udeg,
         CAST((doc_id * 2246822519) % 170000001 - 85000000 AS BIGINT) AS lat_udeg
  FROM documents
), q AS (
  SELECT * FROM pts WHERE doc_id % 101 = 0
), d AS (
  SELECT q.doc_id AS point_id, c.doc_id AS corpus_id,
         CAST(round(12742000.0 * asin(sqrt(
           sin(CAST(c.lat_udeg - q.lat_udeg AS DOUBLE) * (pi() / 180.0 / 1000000.0) / 2.0)
             * sin(CAST(c.lat_udeg - q.lat_udeg AS DOUBLE) * (pi() / 180.0 / 1000000.0) / 2.0)
           + cos(CAST(q.lat_udeg AS DOUBLE) * (pi() / 180.0 / 1000000.0))
             * cos(CAST(c.lat_udeg AS DOUBLE) * (pi() / 180.0 / 1000000.0))
             * sin(CAST(c.lon_udeg - q.lon_udeg AS DOUBLE) * (pi() / 180.0 / 1000000.0) / 2.0)
             * sin(CAST(c.lon_udeg - q.lon_udeg AS DOUBLE) * (pi() / 180.0 / 1000000.0) / 2.0)
         ))) AS BIGINT) AS dist_m
  FROM q, pts c
)
SELECT point_id, corpus_id, dist_m FROM d WHERE dist_m <= 250000
""",
        "cells_compact": _compact_sql(),
        "range_report": _range_report_sql(),
        "lm_score": _LM_SCORE_SQL,
        "ccnet_buckets": """
WITH t AS (
  SELECT doc_id, source, string_split_regex(trim(lower(text)), '\\s+') AS toks
  FROM documents
), big AS (
  SELECT doc_id, source, toks[CAST(i AS INT)] AS w1, toks[CAST(i AS INT) + 1] AS w2
  FROM (SELECT doc_id, source, toks,
               unnest(range(1, greatest(len(toks) - 1, 0) + 1)) AS i FROM t)
), c12 AS (
  SELECT w1, w2, COUNT(*) AS c12 FROM big WHERE source = 'src0' GROUP BY 1, 2
), c1 AS (
  SELECT w1, SUM(c12) AS c1 FROM c12 GROUP BY 1
), v AS (
  SELECT COUNT(DISTINCT w2) AS v FROM c12
), w AS (
  SELECT big.doc_id,
         (1000000 * (COALESCE(c12.c12, 0) + 1)) // (COALESCE(c1.c1, 0) + v.v) AS w
  FROM big
  LEFT JOIN c12 ON big.w1 = c12.w1 AND big.w2 = c12.w2
  LEFT JOIN c1 ON big.w1 = c1.w1
  CROSS JOIN v
), score AS (
  SELECT doc_id, CAST(SUM(w) // COUNT(*) AS BIGINT) AS lm_score,
         CAST(COUNT(*) AS BIGINT) AS n_bigrams
  FROM w GROUP BY doc_id
), sl AS (
  SELECT s.doc_id, d.lang, s.lm_score, s.n_bigrams
  FROM score s JOIN documents d USING (doc_id)
), hist AS (
  SELECT lang, lm_score, COUNT(*) AS c FROM sl
  WHERE lm_score IS NOT NULL GROUP BY 1, 2
), cum AS (
  SELECT lang, lm_score, c,
         sum(c) OVER (PARTITION BY lang ORDER BY lm_score
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm
  FROM hist
), tot AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n_rows FROM hist GROUP BY lang),
cuts AS (
  SELECT c.lang,
         min(CASE WHEN c.cm >= ((t.n_rows - 1) * 33) // 100 + 1 THEN c.lm_score END) AS p33,
         min(CASE WHEN c.cm >= ((t.n_rows - 1) * 66) // 100 + 1 THEN c.lm_score END) AS p66
  FROM cum c JOIN tot t ON t.lang = c.lang GROUP BY c.lang
)
SELECT sl.doc_id, sl.lang, sl.lm_score, sl.n_bigrams, cuts.p33, cuts.p66,
       CASE WHEN sl.lm_score > cuts.p66 THEN 'head'
            WHEN sl.lm_score > cuts.p33 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM sl LEFT JOIN cuts ON cuts.lang = sl.lang
""",
        "tile_payloads": _tile_payloads_sql(),
        "structured_data": _STRUCTURED_DATA_SQL,
        "charset_detect": _CHARSET_DETECT_SQL,
        "gopher_rules": _GOPHER_RULES_SQL,
        "gopher_repetition": _GOPHER_REPETITION_SQL,
        "blocklist_filter": _BLOCKLIST_FILTER_SQL,
        "bloom_dedup": _BLOOM_DEDUP_SQL,
        "hll_distinct": _HLL_DISTINCT_SQL,
        "segment_clip": _segment_clip_sql(),
    }
