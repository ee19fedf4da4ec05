"""Traced runs only: each layer's public functions re-run once on the
workload's own layers and grid, one layer at a time, so every workload
reports every per-layer metric, measured where the work happens.

Query points: `sweep_points` for PIP, `sweep_round_points` for nearest
and kNN. Overlay, whose fixed driver cost dwarfs any input, runs on an
m=8 lattice pair.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from rayjoin_spark.operators import knn, lsi, nearest, overlay, pip
from rayjoin_spark.plans import cells, layers
from rayjoin_spark.plans.layers import EID_STRIDE_DEFAULT
from rayjoin_spark.plans.scaling import GridSpec, compute_scaling
from rayjoin_spark.sources import datagen

#: off-workload overlay re-run: lattice pair size and grid
SMALL_OVERLAY_M = 8
SMALL_OVERLAY_GSIZE = 16


def rows(df: DataFrame) -> int:
    """Materialize every column through the noop sink; return the rows."""
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode("overwrite").save()
    return int(obs.get["n"])


class Sweep:
    def __init__(self, run, st):
        self.st = st
        self.wl = run.wl
        self.env = run.env
        self.tr = run.tracer
        self.m: dict[str, float] = {}

    def timed(self, name: str, fn):
        with self.tr.span(name) as sp:
            t0 = time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t0
            if isinstance(out, int):
                sp["rows"] = out
        return out, dt

    def measure_all(self) -> dict:
        st, g = self.st, self.wl.grid
        self.tr.pass_id = "layers"
        self.cells(st.ea, st.eb, g)
        self.lsi(st.ea, st.eb, g)
        if st.index is not None:  # so the re-run builds, not re-reads, it
            st.index.unpersist()
        self.pip(st.ea, st.scaling, g)
        self.nearest(st.ea, st.scaling, g)
        self.knn(st.scaling, g)
        self.overlay()
        # last (overlay cleared the cache): the persisted edges would
        # otherwise answer the re-run
        self.layers(st.raw, st.scaling)
        return self.m

    # -- plans.layers -----------------------------------------------------
    def layers(self, raw, sc) -> None:
        ca, pa, cb, pb = raw
        n, dt = self.timed("sweep.layers", lambda: rows(layers.build_edges(ca, pa, sc))
                           + rows(layers.build_edges(cb, pb, sc)))
        self.m["layers.build_edges_s"] = dt
        self.m["layers.edges"] = n

    # -- plans.cells ------------------------------------------------------
    def cells(self, ea, eb, g) -> None:
        # PipIndex (set-up) or lsi_join (warm-up pass 0) makes the first
        # call at this grid, the memo miss, while the wrappers are on
        first = self.tr.first("cells.edge_cell_stats", gsize=g.grid_size)
        self.m["cells.stats_s"] = first["end"] - first["start"]
        total_rows, total_s, edges = 0, 0.0, 0
        for e in (ea, eb):
            n_e, span, _, _ = cells.edge_cell_stats(e, g)
            k = cells.SPLIT_CELLS_DEFAULT if span > cells.SPLIT_CELLS_DEFAULT else None
            n, dt = self.timed("sweep.cells.explode",
                               lambda e=e, k=k: rows(cells.explode_edges_to_cells(e, g, k)))
            total_rows += n
            total_s += dt
            edges += n_e
        self.m["cells.explode_s"] = total_s
        self.m["cells.explode_rows"] = total_rows
        self.m["cells.rows_per_edge"] = total_rows / max(edges, 1)

    # -- operators.lsi ----------------------------------------------------
    def lsi(self, ea, eb, g) -> None:
        """Candidates, then candidates + exact filter, then the exact
        points over the materialized pairs. The filter's time is the
        difference of the first two (the pipeline fuses them; millions of
        candidate rows are never materialized on the query path)."""
        n_cand, t_cand = self.timed("sweep.lsi.candidates",
                                    lambda: rows(lsi.lsi_candidates(ea, eb, g)))
        pairs, t_cum = self.timed("sweep.lsi.candidates+filter", lambda: lsi.lsi_intersect_filter(
            lsi.lsi_candidates(ea, eb, g)).localCheckpoint(eager=True))
        n_pairs = pairs.count()
        _, t_xsect = self.timed("sweep.lsi.xsect", lambda: rows(lsi.with_xsect_point(pairs)))
        self.m.update({
            "lsi.candidates_s": t_cand, "lsi.candidates": n_cand,
            "lsi.filter_s": t_cum - t_cand, "lsi.pairs": n_pairs,
            "lsi.hit_ratio": n_pairs / max(n_cand, 1), "lsi.xsect_s": t_xsect,
        })

    # -- operators.pip ----------------------------------------------------
    def pip(self, edges, sc, g) -> None:
        def build():
            ix = pip.PipIndex(edges, g)
            ix.edge_cells.count()
            ix.col_cells.count()
            return ix

        ix, dt = self.timed("sweep.pip.index", build)
        self.m["pip.index_build_s"] = dt
        self.m["pip.edge_cells"] = ix.edge_cells.count()
        pts = self.wl.points(self.wl.sweep_points, self.wl.params.sweep_seed)
        caches: list = []
        _, dt = self.timed("sweep.pip.locate", lambda: rows(
            pip.pip_locate(pts, edges, sc, g, index=ix, caches=caches)))
        self.m["pip.locate_s"] = dt
        frames = [c for c in caches if isinstance(c, DataFrame)]
        accepted = next(c for c in frames if "closest_eid" in c.columns).count()
        stepped = next(c for c in frames if "cands" in c.columns)
        with_cands = stepped.filter(F.size("cands") > 0).count()
        self.m["pip.band_accept_ratio"] = accepted / max(with_cands, 1)
        self.m["pip.completion_points"] = with_cands - accepted
        for c in caches:
            c.unpersist()
        ix.unpersist()

    # -- operators.nearest / operators.knn --------------------------------
    def _jobs(self, name: str, fn) -> tuple[float, int]:
        last = self.env.last_job_id()
        _, dt = self.timed(name, fn)
        return dt, len(self.env.jobs_after(last))

    def nearest(self, edges, sc, g) -> None:
        pts = self.wl.points(self.wl.sweep_round_points, self.wl.params.sweep_seed + 1)
        self.m["nearest.query_s"], self.m["nearest.jobs"] = self._jobs(
            "sweep.nearest", lambda: rows(nearest.nearest_edge(pts, edges, sc, g)))

    def knn(self, sc, g) -> None:
        corpus = (self.wl.points(self.wl.sweep_corpus, self.wl.params.corpus_seed)
                  .select(F.col("point_id").alias("corpus_id"), "x", "y"))
        q = self.wl.points(self.wl.sweep_round_points, self.wl.params.sweep_seed + 2)
        self.m["knn.query_s"], self.m["knn.jobs"] = self._jobs(
            "sweep.knn", lambda: rows(knn.knn_points(q, corpus, sc, g, k=3)))

    # -- operators.overlay + plans.ranking --------------------------------
    def overlay(self) -> None:
        """One overlay of an m=8 pair (the seed's layer B), then its phases
        re-run through their public functions on the same inputs; the
        writer is what the whole overlay took beyond them."""
        p, spark = self.wl.params, self.wl.spark
        ca, pa = datagen.lattice_chains(spark, SMALL_OVERLAY_M)
        cb, pb = datagen.transformed_lattice(spark, SMALL_OVERLAY_M, angle_deg=p.angle_deg,
                                             dx=p.dx, dy=p.dy)
        raw = [df.persist() for df in (ca, pa, cb, pb)]
        ca, pa, cb, pb = raw
        sc = compute_scaling(pa, pb)
        g = GridSpec(SMALL_OVERLAY_GSIZE)
        _, total = self.timed("sweep.overlay", lambda: rows(overlay.overlay(*raw, sc, g)[0]))
        # overlay() leaves its edges, points and indexes persisted; the
        # phase re-runs below would read them back instead of building
        spark.catalog.clearCache()
        for df in raw:
            df.persist().count()

        def edges():
            es = [layers.build_edges(c, q, sc).persist() for c, q in ((ca, pa), (cb, pb))]
            for e in es:
                e.count()
            return es

        (e_a, e_b), t_edges = self.timed("sweep.overlay.edges", edges)
        _, t_lsi = self.timed("sweep.overlay.lsi",
                              lambda: rows(lsi.lsi_join(e_a, e_b, g, with_points=True)))

        def vertices(points):
            return points.select(
                (F.col("chain_id") * F.lit(EID_STRIDE_DEFAULT) + F.col("seq")).alias("point_id"),
                "x", "y")

        def locate():
            caches: list = []
            ix = [pip.PipIndex(e_a, g), pip.PipIndex(e_b, g)]
            for im, (pts, other) in enumerate(((pa, e_b), (pb, e_a))):
                rows(pip.pip_locate(vertices(pts), other, sc, g, query_map_id=im,
                                    index=ix[1 - im], caches=caches))
            for c in caches + ix:
                c.unpersist()

        _, t_pip = self.timed("sweep.overlay.pip", locate)
        for df in (e_a, e_b, *raw):
            df.unpersist()
        self.m["overlay.edges_s"] = t_edges
        self.m["overlay.lsi_s"] = t_lsi
        self.m["overlay.pip_s"] = t_pip
        self.m["overlay.writer_s"] = total - (t_edges + t_lsi + t_pip)
