"""Web-page graft: geocode Common-Crawl-style pages to points and locate
them in polygon layers, preserving the extracted text byte-for-byte.

Input shape per BASELINE.json input_hint:
    pages(url string, warc_ts timestamp, html binary, text string, lang string)

Pages become the PIP/kNN query side: (x, y) = f(xxhash64(url)) uniform in
the layer bbox. The per-row invariant is byte-identical `text` per `url`
through the whole pipeline — geocoding and location only ever *add*
columns; they never touch text/html.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rayjoin_spark.operators.pip import pip_locate
from rayjoin_spark.plans.scaling import GridSpec, Scaling

_MOD = 1 << 32


def geocode_pages(
    pages: DataFrame,
    min_x: float,
    max_x: float,
    min_y: float,
    max_y: float,
    url: str = "url",
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Add deterministic (x, y) uniform in the bbox, keyed by url hash.

    hash_mode='xxhash64' uses Spark's native xxhash64 (fast JVM path);
    'portable' uses pure integer arithmetic on crc32 so an external SQL
    engine can reproduce coordinates exactly.
    """
    if hash_mode == "xxhash64":
        h = F.xxhash64(F.col(url))
        hx = F.pmod(h, F.lit(_MOD))
        hy = F.pmod(F.xxhash64(F.col(url), F.lit(1)), F.lit(_MOD))
    elif hash_mode == "portable":
        c = F.crc32(F.encode(F.col(url), "UTF-8"))  # uint32 as bigint
        hx = F.pmod(c * F.lit(2654435761), F.lit(_MOD))
        hy = F.pmod(c * F.lit(2246822519), F.lit(_MOD))
    else:
        raise ValueError(hash_mode)
    return pages.withColumn(
        "x", F.lit(min_x) + hx / F.lit(float(_MOD)) * F.lit(max_x - min_x)
    ).withColumn("y", F.lit(min_y) + hy / F.lit(float(_MOD)) * F.lit(max_y - min_y))


def locate_pages(
    pages_geo: DataFrame,
    base_edges: DataFrame,
    scaling: Scaling,
    grid: GridSpec | None = None,
    url: str = "url",
) -> DataFrame:
    """PIP-locate geocoded pages; output keeps url + text byte-identical
    and adds (face_id, closest_eid). Columns pass through untouched —
    the join is on an opaque surrogate id, never on page payload."""
    keyed = pages_geo.withColumn("_pid", F.xxhash64(F.col(url)))
    pts = keyed.select(F.col("_pid").alias("point_id"), "x", "y")
    located = pip_locate(pts, base_edges, scaling, grid)
    return (
        keyed.join(located, keyed["_pid"] == located["point_id"], "left")
        .drop("point_id", "_pid")
    )
