"""Snap-to-grid affine scaling (the exactness contract).

Mirrors the semantics of the reference's ``Scaling`` (reference:
src/map/scaling.h:21-111) and joint-bbox construction (src/context.h:36-47):
input double coordinates from BOTH layers are affinely mapped into a signed
integer grid, with a +/-1 margin around the joint bounding box
(src/config.h:4). All downstream predicates are integer-exact.

Deliberate deviation from the reference: the reference snaps doubles to
[-2^46, 2^46] and therefore needs __int128 for its line-equation algebra.
We snap to [-2^28, 2^28] (INTERNAL_BITS=29) so that

    a = y1-y2, b = x2-x1            |a|,|b| <= 2^29
    c = -x1*a - y1*b                |c|     <= 2^58
    sign(p.x*a + p.y*b + c)         |.|     <= 2^59

all fit in int64 — the entire LSI/PIP decision path runs as JVM
whole-stage-codegen column arithmetic, no Python in the hot join. Exact
rational intersection *points* (numerators up to ~2^88) are decimal(38,0)
column arithmetic for matched pairs only (operators/lsi.py:with_xsect_point)
— also JVM-side.

Scaling params are a tiny driver-side value (one agg over the inputs),
broadcast into column expressions — no per-row Python.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: margin added around the joint bbox, reference src/config.h:4
BOUNDING_BOX_MARGIN = 1.0

#: snapped-integer domain: [-2^28, 2^28]
INTERNAL_MAX = 1 << 28
INTERNAL_MIN = -(1 << 28)
INTERNAL_RANGE = INTERNAL_MAX - INTERNAL_MIN


def _dbl(v: float) -> str:
    """Spark SQL double literal that parses back to exactly ``v`` (repr is
    the shortest round-trip form; the D suffix keeps it out of DECIMAL)."""
    return f"({float(v)!r}D)"


@dataclass(frozen=True)
class Scaling:
    """Affine map double->int grid; mirrors reference src/map/scaling.h:56-71."""

    min_x: float
    max_x: float
    min_y: float
    max_y: float
    rx: float
    ry: float
    dx: float
    dy: float

    @staticmethod
    def identity() -> "Scaling":
        """rx=ry=1, dx=dy=0: integer-valued double inputs pass through
        the snap unchanged (exact for |v| <= 2^28 << 2^53). For feeding
        ALREADY-SNAPPED coordinates back into point-query operators."""
        return Scaling.from_bbox(
            float(INTERNAL_MIN + 1), float(INTERNAL_MAX - 1),
            float(INTERNAL_MIN + 1), float(INTERNAL_MAX - 1),
        )

    @staticmethod
    def from_bbox(min_x: float, max_x: float, min_y: float, max_y: float) -> "Scaling":
        mx0 = min_x - BOUNDING_BOX_MARGIN
        mx1 = max_x + BOUNDING_BOX_MARGIN
        my0 = min_y - BOUNDING_BOX_MARGIN
        my1 = max_y + BOUNDING_BOX_MARGIN
        rx = INTERNAL_RANGE / (mx1 - mx0)
        ry = INTERNAL_RANGE / (my1 - my0)
        dx = 0.5 * ((INTERNAL_MAX + INTERNAL_MIN) - (mx1 + mx0) * rx)
        dy = 0.5 * ((INTERNAL_MAX + INTERNAL_MIN) - (my1 + my0) * ry)
        return Scaling(mx0, mx1, my0, my1, rx, ry, dx, dy)

    # --- column expressions (C++ cast double->int truncates toward zero;
    #     Spark CAST(double AS BIGINT) has identical semantics). The SQL
    #     text forms are what the hot-path operators project in one
    #     selectExpr; the Column forms are the same arithmetic over the
    #     same constants, for callers composing Column trees ---
    def scale_x_sql(self, col: str) -> str:
        return f"CAST(({col}) * {_dbl(self.rx)} + {_dbl(self.dx)} AS BIGINT)"

    def scale_y_sql(self, col: str) -> str:
        return f"CAST(({col}) * {_dbl(self.ry)} + {_dbl(self.dy)} AS BIGINT)"

    def scale_x(self, col: Column) -> Column:
        return (col * F.lit(self.rx) + F.lit(self.dx)).cast("bigint")

    def scale_y(self, col: Column) -> Column:
        return (col * F.lit(self.ry) + F.lit(self.dy)).cast("bigint")

    def unscale_x(self, col: Column) -> Column:
        # reference src/map/scaling.h:100-106 uses reciprocal + ddelta;
        # algebraically (v - dx)/rx, which is what we use
        return (col - F.lit(self.dx)) / F.lit(self.rx)

    def unscale_y(self, col: Column) -> Column:
        return (col - F.lit(self.dy)) / F.lit(self.ry)

    # python-side equivalents (for oracles / tests)
    def scale_xy(self, x: float, y: float) -> tuple[int, int]:
        return int(x * self.rx + self.dx), int(y * self.ry + self.dy)


def compute_scaling(*dfs: DataFrame, x: str = "x", y: str = "y") -> Scaling:
    """Joint bbox over all layers -> shared Scaling.

    Mirrors reference src/context.h:36-47 (bbox union over both maps, one
    shared scaling). One cheap agg per input (driver collects 4 doubles).
    """
    mnx = mny = float("inf")
    mxx = mxy = float("-inf")
    for df in dfs:
        row = df.agg(
            F.min(x).alias("mnx"),
            F.max(x).alias("mxx"),
            F.min(y).alias("mny"),
            F.max(y).alias("mxy"),
        ).collect()[0]
        mnx = min(mnx, row["mnx"])
        mxx = max(mxx, row["mxx"])
        mny = min(mny, row["mny"])
        mxy = max(mxy, row["mxy"])
    return Scaling.from_bbox(mnx, mxx, mny, mxy)


@dataclass(frozen=True)
class GridSpec:
    """Uniform grid over the snapped-integer domain.

    cell = trunc((v - INTERNAL_MIN) * grid_size / INTERNAL_RANGE * 0.999),
    mirroring reference src/grid/cell.h:15-22 (the 0.999 keeps the max
    coordinate strictly inside cell grid_size-1).
    """

    grid_size: int = 2048  # reference default src/flags.cc:6

    @property
    def cell_scale(self) -> float:
        return float(self.grid_size) / INTERNAL_RANGE * 0.999

    def cell_of_sql(self, col: str) -> str:
        """SQL text of cell_of over the expression text ``col``."""
        return f"CAST((({col}) - ({INTERNAL_MIN})) * {_dbl(self.cell_scale)} AS INT)"

    def cell_of(self, col: Column) -> Column:
        return ((col - F.lit(INTERNAL_MIN)) * F.lit(self.cell_scale)).cast("int")

    def cell_of_py(self, v: float) -> int:
        return int((v - INTERNAL_MIN) * self.cell_scale)
