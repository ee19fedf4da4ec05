"""The workloads: what each sets up once, what one query pass runs, and
the structure every pass output must have.

A workload seed picks layer B's affine parameters (angle and offsets of
`transformed_lattice`) and the query-point seeds; the engine only ever
sees the generated DataFrames. Engine calls go through module attributes
(``lsi.lsi_join``) so a traced run's wrappers see them.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from rayjoin_spark.operators import lsi, pip
from rayjoin_spark.plans import layers
from rayjoin_spark.plans.scaling import GridSpec, compute_scaling
from rayjoin_spark.sources import datagen

#: seed offsets of the traced runs' kNN corpus and layer re-runs; a run
#: stays far below 1000 passes, so pass seeds never reach them
CORPUS_SEED_OFFSET = 1000
SWEEP_SEED_OFFSET = 1500


@dataclass(frozen=True)
class Params:
    angle_deg: float
    dx: float
    dy: float
    point_seed: int  # pass i queries uniform_points(seed=point_seed + i)

    @property
    def corpus_seed(self) -> int:
        return self.point_seed + CORPUS_SEED_OFFSET

    @property
    def sweep_seed(self) -> int:
        return self.point_seed + SWEEP_SEED_OFFSET

    @classmethod
    def from_seed(cls, seed: int) -> "Params":
        """Narrow ranges around transformed_lattice's defaults (13 degrees,
        offsets 0.23/0.37): every seed gives new geometry, new pairs and
        new query points, but about the same amount of work, so the
        spread across seeds measures the system rather than the draw
        (explode rows per rotated edge grow with the angle)."""
        rng = random.Random(seed)
        # uniform_points offsets its hash stream by seed * 1_000_003, so
        # point seeds stay small enough for exact int64 hashing
        return cls(
            angle_deg=round(rng.uniform(11.0, 15.0), 3),
            dx=round(rng.uniform(0.2, 0.4), 4),
            dy=round(rng.uniform(0.2, 0.4), 4),
            point_seed=rng.randrange(1, 1000),
        )


@dataclass
class Output:
    """One pass output. kind: 'fixed' (same inputs every pass, so the
    digest must equal the gate's) or 'per_point' (one row per query
    point 0..n-1)."""

    name: str
    df: DataFrame
    kind: str
    n: int = 0


@dataclass
class State:
    """Set-up state of one workload: the layers and the frames kept
    pinned between passes (re-pinned after every cleanup)."""

    scaling: object
    raw: tuple  # (chains_a, points_a, chains_b, points_b)
    ea: DataFrame
    eb: DataFrame
    pins: list[DataFrame] = field(default_factory=list)
    index: object = None


class Workload:
    name = ""
    m = 0
    subdiv: int | None = None  # None: 5% of chains subdivided x4
    gsize = 0
    alt_gsize = 0  # second physical plan for the correctness gate
    pip_index = False
    sizes: dict = {}
    #: query points (PIP; nearest and kNN) and kNN corpus of the traced
    #: layer re-runs (sweep.py)
    sweep_points = 20_000
    sweep_round_points = 20_000
    sweep_corpus = 10_000

    def __init__(self, spark, params: Params):
        self.spark = spark
        self.params = params
        self.grid = GridSpec(self.gsize)
        self.alt_grid = GridSpec(self.alt_gsize)

    def _subdivide(self, points):
        if self.subdiv is None:
            return datagen.subdivide_fraction(points, s=4, every=20)
        return datagen.subdivide_points(points, self.subdiv)

    def raw_layers(self):
        p = self.params
        ca, pa = datagen.lattice_chains(self.spark, self.m)
        cb, pb = datagen.transformed_lattice(
            self.spark, self.m, angle_deg=p.angle_deg, dx=p.dx, dy=p.dy
        )
        return ca, self._subdivide(pa), cb, self._subdivide(pb)

    def points(self, n: int, seed: int) -> DataFrame:
        lo, hi = -0.5, self.m + 0.5
        return datagen.uniform_points(self.spark, n, lo, hi, lo, hi, seed=seed)

    def setup(self) -> State:
        """Generate, persist and materialize the layer state."""
        raw = self.raw_layers()
        ca, pa, cb, pb = raw
        scaling = compute_scaling(pa, pb)
        ea = layers.build_edges(ca, pa, scaling).persist()
        eb = layers.build_edges(cb, pb, scaling).persist()
        st = State(scaling, raw, ea, eb, pins=[ea, eb])
        if self.pip_index:
            st.index = pip.PipIndex(ea, self.grid)
            st.pins += [st.index.edge_cells, st.index.col_cells]
        for df in st.pins:
            df.count()
        return st

    def run(self, st: State, grid: GridSpec, i: int, caches: list) -> list[Output]:
        """The engine calls of pass i, as lazy outputs. Pass i's query
        points are fresh: uniform_points(seed=point_seed + i)."""
        raise NotImplementedError


class LsiCoarse(Workload):
    """Fat cells (8 lattice units): the cell hash join, the SoS predicate
    and the decimal intersection points do the work; ~1 explode row per
    edge and little driver time."""

    name = "lsi_coarse"
    m, gsize, alt_gsize = 256, 32, 48
    sizes = {"lattice_m": 256, "subdivided": "5% of chains x4", "gsize": 32}
    # ~300 edges per fat cell: each nearest/kNN query meets thousands
    sweep_round_points = 2_000

    def run(self, st, grid, i, caches):
        out = lsi.lsi_join(st.ea, st.eb, grid, with_points=True)
        return [Output("lsi", out, "fixed")]


class FineGrid(Workload):
    """The reference's gsize-15000 cell/edge ratio: a large explode
    (~8 rows per edge), tiny per-cell work, and the PIP band pass,
    completion pass and skip map over an index built in set-up."""

    name = "fine_grid"
    m, subdiv, gsize, alt_gsize = 32, 24, 5000, 512
    pip_index = True
    n_pip = 100_000
    sizes = {"lattice_m": 32, "subdivided": "every edge x24", "gsize": 5000, "pip_points": n_pip}
    sweep_points = n_pip
    # the annulus rounds grow slowly over this sparse-per-cell grid
    sweep_round_points = 2_000

    def run(self, st, grid, i, caches):
        index = st.index if grid == self.grid else None
        pts = self.points(self.n_pip, self.params.point_seed + i)
        return [
            Output("lsi", lsi.lsi_join(st.ea, st.eb, grid), "fixed"),
            Output(
                "pip",
                pip.pip_locate(pts, st.ea, st.scaling, grid, index=index, caches=caches),
                "per_point",
                n=self.n_pip,
            ),
        ]


WORKLOADS = {w.name: w for w in (LsiCoarse, FineGrid)}
