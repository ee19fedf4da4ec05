"""Polygon map overlay — the reference's composite pipeline.

Mirrors RunOverlay (reference src/run_overlay.cu:143-228):

1. LSI of the two layers (exact intersection points);
2. vertex PIP: every vertex of each map located in the *other* map
   (src/app/map_overlay_grid.h:56-87);
3. per edge, intersections ordered along the edge, consecutive-pair
   midpoints located in the other map (src/app/map_overlay_grid.h:89-201);
4. chains split at intersection points into fragments; each fragment
   carries the other-map face containing it; fragments exterior on both
   sides dropped; faces and points dict-encoded in first-encounter order
   and written CDB-style (src/app/output_chain.h:41-205).

Fragment reconstruction is windows/joins over an event stream
(vertex events + duplicated intersection events), not a driver loop:

    fragment index  = #intersections strictly before the event
                      (an intersection closes one fragment and opens the
                       next, so it appears in both)
    fragment face   = PIP face of its last vertex, if it has one,
                      else the midpoint face of its bounding
                      intersection pair

which reproduces the reference writer's sequential overwrite semantics
exactly (the last `other_map_polygon_id` assignment before each flush).

Exactness (midpoint faces): the reference locates the midpoint of each
consecutive intersection pair in the other map, carrying the midpoint as
an int128 rational (src/app/map_overlay_grid.h:163-169,
src/util/rational.h:72-123). At our snap scale exact midpoint numerators
exceed 128 bits, so instead of locating a point at all we derive the face
*topologically*: crossing other-map edge o while travelling along edge e
enters the face on the side of o that e's direction vector points into —

    s_dot        = a_o * (x2_e - x1_e) + b_o * (y2_e - y1_e)   (int64)
    entered left = (s_dot > 0) == (x1_o <= x2_o)
    face         = o.left_polygon_id if entered left else o.right_polygon_id

(s_dot is never 0 for a reported crossing: parallel/collinear pairs fail
the LSI SoS predicate). The sign convention: build_edges normalizes
(a,b) to b >= 0, flipping exactly when x1 > x2, and the un-normalized
normal (y1-y2, x2-x1) points left of the chain direction — hence the
(x1 <= x2) correction. This is bit-exact integer arithmetic inside
whole-stage codegen, equals the reference's rational midpoint PIP on any
consistently-labelled planar input, and never computes a midpoint (a
midpoint computed in double and re-snapped can land on the wrong side of
a nearby edge; tests/test_overlay.py checks the exact faces against a
Fraction-midpoint oracle on such an adversarial pair).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from rayjoin_spark.operators.lsi import lsi_join
from rayjoin_spark.operators.pip import PipIndex, pip_locate
from rayjoin_spark.plans.cells import index_side
from rayjoin_spark.plans.layers import build_edges, EID_STRIDE_DEFAULT
from rayjoin_spark.plans.ranking import ordered_index
from rayjoin_spark.plans.scaling import GridSpec, Scaling


# Exact order key for the parametric position t = t_num / den of an
# intersection along its edge (den > 0). Different xsects on one edge have
# DIFFERENT denominators, so a window ORDER BY needs a common-scale key:
# floor(t * 2^118) as a lexicographic triple of int64 limbs
# (hi = floor(t_num/den), then two 59-bit fractional limbs). Bounds at the
# 2^29 snap grid: |t_num| <= 2^118 fits decimal(38,0); |hi| <= 2^60 fits
# bigint; distinct rationals t1 != t2 on one edge differ by
# >= 1/(den1*den2) >= 2^-118, so distinct values always get distinct keys
# (the round-3 double-`t` key collapsed sub-ulp-separated pairs and could
# mis-order them — reference src/app/map_overlay_grid.h:152-161 compares
# EXACT rational squared distances). `x - pmod(x, den) DIV den` is the
# exact floor for the possibly-negative hi limb; the fractional limbs are
# non-negative so plain DIV (truncation) IS floor. 2^59 = 576460752303423488.
_TK_HI_SQL = "CAST((_tn - pmod(_tn, den)) DIV den AS BIGINT)"
_TK_LO1_SQL = "CAST((pmod(_tn, den) * 576460752303423488) DIV den AS BIGINT)"
_TK_LO2_SQL = """
CAST((pmod(pmod(_tn, den) * 576460752303423488, den) * 576460752303423488)
     DIV den AS BIGINT)
"""


def _xsects_along_edges(xs: DataFrame, edges: DataFrame, side: str) -> DataFrame:
    """Attach edge geometry; order intersections along each edge of the
    given side ('a' = map0, 'b' = map1) by the EXACT parametric position
    from p1 (reference src/app/map_overlay_grid.h:152-161 orders by exact
    rational squared distance; our limb key is the same total order).
    Returns one row per (eid, xsect) with xidx (order along edge) and the
    unscaled-double intersection point."""
    eid = f"eid_{side}"
    e = edges.select(
        F.col("eid").alias(eid),
        F.col("chain_id").alias("chain_id"),
        F.col("seq").alias("seq"),
        F.col("x1").alias("_x1"),
        F.col("y1").alias("_y1"),
        F.col("x2").alias("_x2"),
        F.col("y2").alias("_y2"),
    )
    j = xs.join(e, eid)
    dec = "decimal(38,0)"
    t_num = (
        (F.col("num_x") - F.col("_x1").cast(dec) * F.col("den"))
        * (F.col("_x2") - F.col("_x1")).cast(dec)
        + (F.col("num_y") - F.col("_y1").cast(dec) * F.col("den"))
        * (F.col("_y2") - F.col("_y1")).cast(dec)
    ).cast(dec)
    other = "eid_b" if side == "a" else "eid_a"
    w = Window.partitionBy(eid).orderBy("_tk_hi", "_tk_lo1", "_tk_lo2", other)
    return (
        j.withColumn("_tn", t_num)
        .withColumn("_tk_hi", F.expr(_TK_HI_SQL))
        .withColumn("_tk_lo1", F.expr(_TK_LO1_SQL))
        .withColumn("_tk_lo2", F.expr(_TK_LO2_SQL))
        .withColumn("xidx", F.row_number().over(w) - 1)
        .select(
            F.col(eid).alias("eid"),
            "chain_id",
            "seq",
            F.col(other).alias("other_eid"),
            "xsect_xd",
            "xsect_yd",
            "xidx",
            (F.col("_x2") - F.col("_x1")).alias("dx"),
            (F.col("_y2") - F.col("_y1")).alias("dy"),
        )
    )


def overlay(
    chains_a: DataFrame,
    points_a: DataFrame,
    chains_b: DataFrame,
    points_b: DataFrame,
    scaling: Scaling,
    grid: GridSpec | None = None,
    eid_stride: int = EID_STRIDE_DEFAULT,
    prebuilt_edges: tuple[DataFrame, DataFrame] | None = None,
    prebuilt_xs: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Full overlay; returns (out_chains, out_points):

    out_chains(chain_id, n_points, first_point_id, last_point_id,
               left_face, right_face)
    out_points(chain_id, seq, x, y)   -- unscaled doubles

    in the reference writer's canonical order (map0 chains first, then
    map1, fragments in walk order; face/point ids first-encounter).

    The writer's two index-side joins (chain topology, face dict) go
    through plans/cells.index_side like PIP's: broadcast under its cap,
    sort-merge pinned above it — no uncapped input-sized broadcast
    anywhere. Per-phase times come from outside the operator (the
    benchmark's traced run re-runs the phases through their public
    functions), so the operator runs no extra job for them.
    """
    grid = grid or GridSpec()

    # prebuilt stage inputs let checkpointed_overlay feed resumed parquet
    # stages straight into the downstream phases (plans/checkpoint.py)
    if prebuilt_edges is not None:
        edges_a, edges_b = (e.persist() for e in prebuilt_edges)
    else:
        edges_a = build_edges(chains_a, points_a, scaling, eid_stride).persist()
        edges_b = build_edges(chains_b, points_b, scaling, eid_stride).persist()

    # --- phase 1: LSI with exact points (shared by both maps) ---
    xs = (
        prebuilt_xs
        if prebuilt_xs is not None
        else lsi_join(edges_a, edges_b, grid, with_points=True)
    ).persist()

    # PIP indexes over each layer, shared by both locates against it; they
    # reuse the long-edge stats the LSI join took of the same frames
    idx = [PipIndex(edges_a, grid), PipIndex(edges_b, grid)]

    def _one_side(im: int) -> DataFrame:
        chains, points, edges, other_edges = [
            (chains_a, points_a, edges_a, edges_b),
            (chains_b, points_b, edges_b, edges_a),
        ][im]
        side = "ab"[im]
        other_idx = idx[1 - im]
        # --- phase 2: vertex PIP against the other map ---
        # (query_map_id = this map's id: SoS shifts map 1 relative to map 0)
        pts = points.select(
            (F.col("chain_id") * F.lit(eid_stride) + F.col("seq")).alias("point_id"),
            "chain_id",
            "seq",
            "x",
            "y",
        )
        vert = pip_locate(
            pts.select("point_id", "x", "y"), other_edges, scaling, grid,
            query_map_id=im, index=other_idx,
        ).select("point_id", F.col("face_id").alias("vface"))
        vert = pts.join(vert, "point_id").select("chain_id", "seq", "x", "y", "vface")

        # --- phase 3: order xsects along edges; face entered after each
        # crossing by the exact int64 side test (see module docstring) ---
        o = other_edges.select(
            F.col("eid").alias("other_eid"),
            F.col("a").alias("o_a"),
            F.col("b").alias("o_b"),
            F.col("x1").alias("o_x1"),
            F.col("x2").alias("o_x2"),
            F.col("left_polygon_id").alias("o_left"),
            F.col("right_polygon_id").alias("o_right"),
        )
        s_dot = F.col("o_a") * F.col("dx") + F.col("o_b") * F.col("dy")
        entered_left = (s_dot > 0) == (F.col("o_x1") <= F.col("o_x2"))
        ex = (
            _xsects_along_edges(xs, edges, side)
            .join(o, "other_eid")
            .withColumn(
                "midface",
                F.when(entered_left, F.col("o_left")).otherwise(F.col("o_right")),
            )
            .drop("o_a", "o_b", "o_x1", "o_x2", "o_left", "o_right", "dx", "dy")
        )
        # localCheckpoint (NOT persist): ex/vert are RESULT-sized frames
        # referenced from the ~20 joined subtrees of the writer below, and
        # Spark re-ANALYZES each reference's full lineage per
        # transformation (persist does not truncate the analyzed plan) —
        # with the PIP/LSI trees attached that was ~14 s of pure driver
        # CPU at bench scale. Truncating here cuts every writer-side copy
        # to an RDD scan; materialization is executor-parallel.
        vert = vert.localCheckpoint(eager=True)
        ex = ex.localCheckpoint(eager=True)

        # --- phase 4: event stream -> fragments ---
        # xsect j on edge seq occupies positions (seq,1,j,0) [closes frag j]
        # and (seq,1,j,1) [opens frag j+1]; vertex seq is (seq,0,0,0).
        xcount_w = (
            Window.partitionBy("chain_id")
            .orderBy("seq", "xidx")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        exc = ex.withColumn("xnum", F.count("*").over(xcount_w))  # 1-based
        x_end = exc.select(
            "chain_id",
            F.col("seq").alias("p0"),
            F.lit(1).alias("p1"),
            F.col("xidx").alias("p2"),
            F.lit(0).alias("p3"),
            (F.col("xnum") - 1).alias("frag"),
            F.col("xsect_xd").alias("xd"),
            F.col("xsect_yd").alias("yd"),
            F.lit(None).cast("bigint").alias("vface"),
            F.lit(None).cast("bigint").alias("midface"),
            F.lit(0).alias("is_vertex"),
        )
        x_start = exc.select(
            "chain_id",
            F.col("seq").alias("p0"),
            F.lit(1).alias("p1"),
            F.col("xidx").alias("p2"),
            F.lit(1).alias("p3"),
            F.col("xnum").alias("frag"),
            F.col("xsect_xd").alias("xd"),
            F.col("xsect_yd").alias("yd"),
            F.lit(None).cast("bigint").alias("vface"),
            F.col("midface").cast("bigint").alias("midface"),
            F.lit(0).alias("is_vertex"),
        )
        # vertices: frag = #xsects on edges with smaller seq; computed by
        # joining the running xsect count of the previous edges
        xs_per_edge = ex.groupBy("chain_id", "seq").agg(F.count("*").alias("nx"))
        cum_w = (
            Window.partitionBy("chain_id")
            .orderBy("seq")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        verts = (
            vert.join(xs_per_edge, ["chain_id", "seq"], "left")
            .na.fill({"nx": 0})
            .withColumn("frag", F.coalesce(F.sum("nx").over(cum_w), F.lit(0)))
        )
        # vertex coordinates in the output are the ORIGINAL input doubles
        # (reference AddChainPoint), xsect points are unscaled rationals
        v_ev = verts.select(
            "chain_id",
            F.col("seq").alias("p0"),
            F.lit(0).alias("p1"),
            F.lit(0).alias("p2"),
            F.lit(0).alias("p3"),
            F.col("frag").cast("long").alias("frag"),
            F.col("x").alias("xd_raw"),
            F.col("y").alias("yd_raw"),
            F.col("vface").cast("bigint").alias("vface"),
            F.lit(None).cast("bigint").alias("midface"),
            F.lit(1).alias("is_vertex"),
        )
        # unscale the xsect doubles into the input domain
        x_end = x_end.withColumn("xd_raw", scaling.unscale_x(F.col("xd"))).withColumn(
            "yd_raw", scaling.unscale_y(F.col("yd"))
        ).drop("xd", "yd")
        x_start = x_start.withColumn(
            "xd_raw", scaling.unscale_x(F.col("xd"))
        ).withColumn("yd_raw", scaling.unscale_y(F.col("yd"))).drop("xd", "yd")

        ev = v_ev.unionByName(x_end).unionByName(x_start)
        return ev.withColumn("map_id", F.lit(im))

    # the two per-side PIP + event-stream pipelines are independent until
    # the union below; run them on two driver threads so their eager
    # locate/checkpoint jobs overlap on the cluster (plan construction
    # through py4j is thread-safe; on a real cluster this is the standard
    # concurrent-job-group pattern)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(2) as _pool:
        frags = list(_pool.map(_one_side, (0, 1)))

    events = frags[0].unionByName(frags[1])

    # fragment face: last vertex's face, else the opening xsect's midface
    fw = Window.partitionBy("map_id", "chain_id", "frag").orderBy("p0", "p1", "p2", "p3")
    events = events.withColumn(
        "other_face",
        F.coalesce(
            F.last(F.when(F.col("is_vertex") == 1, F.col("vface")), ignorenulls=True).over(
                fw.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
            ),
            F.first("midface", ignorenulls=True).over(
                fw.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
            ),
            F.lit(0),
        ),
    )

    # chain topology (left/right of the source chain)
    ch = (
        chains_a.withColumn("map_id", F.lit(0))
        .unionByName(chains_b.withColumn("map_id", F.lit(1)))
        .select("map_id", "chain_id", "left_polygon_id", "right_polygon_id")
    )
    # chain topology is input-chain-sized: never an uncapped >8 GiB
    # broadcast at billion-chain scale
    events = events.join(index_side(ch, ch.count()), ["map_id", "chain_id"])

    # emit filter (reference output_chain.h:60-63): keep fragment iff
    # other != 0 and (left != 0 or right != 0)
    keep = (F.col("other_face") != 0) & (
        (F.col("left_polygon_id") != 0) | (F.col("right_polygon_id") != 0)
    )
    events = events.filter(keep)

    # drop consecutive duplicate points within a fragment (std::unique)
    dw = Window.partitionBy("map_id", "chain_id", "frag").orderBy("p0", "p1", "p2", "p3")
    events = (
        events.withColumn("lx", F.lag("xd_raw").over(dw))
        .withColumn("ly", F.lag("yd_raw").over(dw))
        .filter(
            F.col("lx").isNull()
            | (F.col("xd_raw") != F.col("lx"))
            | (F.col("yd_raw") != F.col("ly"))
        )
    )
    # localCheckpoint (not persist): the writer phase below references this
    # frame from ~20 joined subtrees; persist keeps the full LSI/PIP
    # analyzed lineage inside every copy and Catalyst re-canonicalizes it
    # on every action (minutes of driver CPU regardless of data size).
    # Truncating here cuts each copy to an RDD scan. The frame is
    # OUTPUT-sized and the write is partition-parallel on executors — not
    # a serial scaling constant.
    events = events.localCheckpoint(eager=True)

    # canonical fragment order + per-fragment point seq
    ord_w = Window.partitionBy("map_id", "chain_id", "frag").orderBy(
        "p0", "p1", "p2", "p3"
    )
    events = events.withColumn("pseq", F.row_number().over(ord_w) - 1)

    # global fragment ids in walk order — distributed two-level rank
    # (plans/ranking.py): no single-partition stage anywhere in the writer.
    # The grouped frame feeds the rank AND both dict-encodes below, so the
    # face/point first-encounter keys need no join back through the ranked
    # ids: out_chain_id IS the dense rank of (map_id, chain_id, frag), so
    # ordering by the walk key is ordering by out_chain_id.
    # first/last point COORDS per fragment ride in the agg (walk order =
    # (p0..p3) order, the same order pseq numbers): the chains output then
    # resolves its endpoint point-ids with two FRAGMENT-level joins against
    # pt_dict instead of materializing the point-level events x frag_ids x
    # pt_dict joins (those remain only on the points-output path)
    _walk = F.struct("p0", "p1", "p2", "p3")
    _pt = F.struct(F.col("xd_raw").alias("x"), F.col("yd_raw").alias("y"))
    frags_g = events.groupBy("map_id", "chain_id", "frag").agg(
        F.count("*").alias("n_points"),
        F.first("left_polygon_id").alias("left_pid"),
        F.first("right_polygon_id").alias("right_pid"),
        F.first("other_face").alias("other_face"),
        F.min_by(_pt, _walk).alias("fp"),
        F.max_by(_pt, _walk).alias("lp"),
    ).persist()
    # face keys ride as plain columns (no self-join to re-attach them):
    # key = sorted pair, 0 if either side exterior (reference
    # create_polygon)
    # ---- fused dict ranking (round-4 VERDICT #6): the fragment ids, the
    # face dict and the point dict are three first-encounter ranks over
    # the SAME output walk order (map_id, chain_id, frag[, side|pseq]).
    # Instead of three ordered_index passes (each a range shuffle + sort
    # + checkpoint + offsets collect + join), union the three rank
    # REQUEST sets with a kind tag, rank once over (kind, walk key) —
    # within a kind the global index is contiguous and walk-ordered, so
    # subtracting the kind's minimum yields exactly the dense ids each
    # pass produced before (start offsets re-added per kind).
    pairs = frags_g.select(
        F.least("left_pid", "other_face").alias("fk1"),
        F.greatest("left_pid", "other_face").alias("fk2"),
        F.struct("map_id", "chain_id", "frag", F.lit(0).alias("side")).alias("pos"),
    ).unionByName(
        frags_g.select(
            F.least("right_pid", "other_face").alias("fk1"),
            F.greatest("right_pid", "other_face").alias("fk2"),
            F.struct("map_id", "chain_id", "frag", F.lit(1).alias("side")).alias("pos"),
        )
    ).filter((F.col("fk1") != 0) & (F.col("fk2") != 0))
    frag_req = frags_g.select(
        F.lit(0).alias("_kind"),
        F.col("map_id").cast("long").alias("_s1"),
        F.col("chain_id").cast("long").alias("_s2"),
        F.col("frag").cast("long").alias("_s3"),
        F.lit(0).cast("long").alias("_s4"),
        "map_id", "chain_id", "frag", "n_points",
        "left_pid", "right_pid", "other_face", "fp", "lp",
    )
    # first_pos values are globally unique (each pos occurs once), so the
    # distributed rank reproduces first-encounter order exactly
    face_req = (
        pairs.groupBy("fk1", "fk2")
        .agg(F.min("pos").alias("first_pos"))
        .select(
            F.lit(1).alias("_kind"),
            F.col("first_pos.map_id").cast("long").alias("_s1"),
            F.col("first_pos.chain_id").cast("long").alias("_s2"),
            F.col("first_pos.frag").cast("long").alias("_s3"),
            F.col("first_pos.side").cast("long").alias("_s4"),
            "fk1", "fk2",
        )
    )
    # first-encounter position as a struct min — lexicographic, no stride
    # that could overflow on very dense fragments
    pt_req = (
        events.groupBy(F.col("xd_raw").alias("x"), F.col("yd_raw").alias("y"))
        .agg(F.min(F.struct("map_id", "chain_id", "frag", "pseq")).alias("fpos"))
        .select(
            F.lit(2).alias("_kind"),
            F.col("fpos.map_id").cast("long").alias("_s1"),
            F.col("fpos.chain_id").cast("long").alias("_s2"),
            F.col("fpos.frag").cast("long").alias("_s3"),
            F.col("fpos.pseq").cast("long").alias("_s4"),
            "x", "y",
        )
    )
    # checkpoint the request union before ranking: repartitionByRange
    # inside ordered_index evaluates its input twice (range sampling +
    # the shuffle itself), which would run all three feeder aggs twice
    fused_req = (
        frag_req.unionByName(face_req, allowMissingColumns=True)
        .unionByName(pt_req, allowMissingColumns=True)
        .localCheckpoint(eager=True)
    )
    fused = ordered_index(
        fused_req,
        ["_kind", "_s1", "_s2", "_s3", "_s4"],
        "_gid",
        start=0,
    ).persist()
    base = {
        r["_kind"]: r["_b"]
        for r in fused.groupBy("_kind").agg(F.min("_gid").alias("_b")).collect()
    }
    frag_ids = (
        fused.filter(F.col("_kind") == 0)
        .select(
            "map_id", "chain_id", "frag", "n_points",
            "left_pid", "right_pid", "other_face", "fp", "lp",
            (F.col("_gid") - F.lit(base.get(0, 0)) + 1).alias("out_chain_id"),
        )
        .withColumns({
            "lk": F.least("left_pid", "other_face"),
            "lv": F.greatest("left_pid", "other_face"),
            "rk": F.least("right_pid", "other_face"),
            "rv": F.greatest("right_pid", "other_face"),
        })
    )
    face_dict = fused.filter(F.col("_kind") == 1).select(
        F.col("fk1").alias("k1"),
        F.col("fk2").alias("k2"),
        (F.col("_gid") - F.lit(base.get(1, 0)) + 1).alias("face_id"),
    )
    fd1 = face_dict.select(
        F.col("k1").alias("lk"), F.col("k2").alias("lv"), F.col("face_id").alias("left_face")
    )
    fd2 = face_dict.select(
        F.col("k1").alias("rk"), F.col("k2").alias("rv"), F.col("face_id").alias("right_face")
    )
    # face dict is output-face-sized (persisted above, count is cached)
    n_faces = face_dict.count()
    out_chains = (
        frag_ids
        .join(index_side(fd1, n_faces), ["lk", "lv"], "left")
        .join(index_side(fd2, n_faces), ["rk", "rv"], "left")
        .na.fill({"left_face": 0, "right_face": 0})
    )

    # point dict-encode in first-seen order over the output walk — kind 2
    # of the fused rank above (same order as (out_chain_id, pseq); the
    # dict rank stays the DISTRIBUTED two-level index — every distinct
    # output point through a global row_number would serialize the whole
    # result at scale)
    pt_dict = fused.filter(F.col("_kind") == 2).select(
        "x", "y", (F.col("_gid") - F.lit(base.get(2, 0))).alias("point_id")
    )
    pts_out = events.join(
        frag_ids.select("map_id", "chain_id", "frag", "out_chain_id"),
        ["map_id", "chain_id", "frag"],
    ).select(
        "out_chain_id", "pseq", F.col("xd_raw").alias("x"), F.col("yd_raw").alias("y")
    ).join(pt_dict, ["x", "y"])

    # endpoint ids at FRAGMENT granularity: the first/last coords from the
    # frags_g agg look up pt_dict directly (exact double equality — the
    # dict was keyed on the same xd_raw/yd_raw values)
    # both endpoints resolve through ONE pt_dict join (explode the two
    # endpoint coords, join, pivot back) instead of two join+join-back
    # chains — halves the endpoint-lookup shuffles
    ep_ids = (
        out_chains.select(
            "out_chain_id",
            F.explode(
                F.array(
                    F.struct(
                        F.lit(0).alias("w"),
                        F.col("fp.x").alias("x"),
                        F.col("fp.y").alias("y"),
                    ),
                    F.struct(
                        F.lit(1).alias("w"),
                        F.col("lp.x").alias("x"),
                        F.col("lp.y").alias("y"),
                    ),
                )
            ).alias("_e"),
        )
        .select("out_chain_id", "_e.w", "_e.x", "_e.y")
        .join(pt_dict, ["x", "y"])
        .groupBy("out_chain_id")
        .agg(
            F.min(F.when(F.col("w") == 0, F.col("point_id"))).alias(
                "first_point_id"
            ),
            F.min(F.when(F.col("w") == 1, F.col("point_id"))).alias(
                "last_point_id"
            ),
        )
    )
    out_chains = out_chains.join(ep_ids, "out_chain_id").select(
        F.col("out_chain_id").alias("chain_id"),
        "n_points",
        "first_point_id",
        "last_point_id",
        "left_face",
        "right_face",
    )
    out_points = pts_out.select(
        F.col("out_chain_id").alias("chain_id"), F.col("pseq").alias("seq"), "x", "y"
    )
    return out_chains, out_points


def write_cdb(out_chains: DataFrame, out_points: DataFrame, path: str) -> None:
    """CDB text writer, 6-decimal fixed (reference output_chain.h:188-204).

    The text file is inherently serial (the reference also writes it
    host-side), but driver memory stays O(1): both inputs arrive as
    cluster-side sorts streamed through toLocalIterator and merged by
    chain_id — no driver-side dict of the whole result."""
    chain_it = out_chains.orderBy("chain_id").toLocalIterator()
    point_it = out_points.orderBy("chain_id", "seq").toLocalIterator()
    pending = None  # one read-ahead point row
    with open(path, "w") as f:
        for c in chain_it:
            cid = c["chain_id"]
            f.write(
                f"{cid} {c['n_points']} {c['first_point_id']} {c['last_point_id']} "
                f"{c['left_face']} {c['right_face']}\n"
            )
            while True:
                if pending is None:
                    pending = next(point_it, None)
                if pending is None:
                    break
                if pending["chain_id"] < cid:
                    # orphan row (chain absent from chains input): discard
                    # instead of wedging the merge and dropping every
                    # later chain's points
                    pending = None
                    continue
                if pending["chain_id"] != cid:
                    break
                f.write(f"{pending['x']:.6f} {pending['y']:.6f}\n")
                pending = None
