"""rayjoin_spark — a from-scratch PySpark-native spatial-join + tiling engine.

Re-expresses the query semantics of pwrliang/RayJoin (ICS'24 GPU spatial
join; reference at /root/reference, studied not copied) as idiomatic
Spark DataFrame pipelines:

* polyline-edge intersection join (LSI)    — reference src/algo/lsi.h
* point-in-polygon location (PIP)          — reference src/algo/pip.h
* polygon map overlay                      — reference src/run_overlay.cu
* uniform-grid cell indexing               — reference src/grid/uniform_grid.h
* exact snapped-integer arithmetic + SoS   — reference src/map/scaling.h

plus the web-scale graft layer: page geocoding, kNN via cell-ring
expansion, raster<->vector tile aggregation, dedup / similarity /
text-quality operators for training-data pipelines.

Everything is DataFrame/Catalyst first: the hot join paths are pure
int64 column arithmetic (whole-stage codegen); pandas/Arrow UDFs appear
only at the multimodal decode boundary.
"""

from rayjoin_spark.plans.scaling import Scaling, compute_scaling, GridSpec
from rayjoin_spark.plans.layers import build_edges, scale_points
from rayjoin_spark.plans.cells import explode_edges_to_cells
from rayjoin_spark.plans.ranking import ordered_index
from rayjoin_spark.operators.lsi import lsi_join
from rayjoin_spark.operators.pip import PipIndex, pip_locate
from rayjoin_spark.operators.overlay import overlay

__all__ = [
    "Scaling",
    "GridSpec",
    "compute_scaling",
    "build_edges",
    "scale_points",
    "explode_edges_to_cells",
    "ordered_index",
    "lsi_join",
    "pip_locate",
    "PipIndex",
    "overlay",
]

__version__ = "0.1.0"
