"""ssgp_toolbox_spark — a PySpark-native spatial gapfilling + tiling engine.

A from-scratch reimplementation of the capabilities of the reference
SSGP-toolbox (Dreamlone/SSGP-toolbox, surveyed in SURVEY.md) on Apache
Spark: Iceberg-style image+caption tables, Arrow-vectorized pandas UDF
pixel kernels, an H3-style tile index with pixel tiles,
kNN spatial joins, point-in-polygon zone masking, salted skew handling
and resumable snapshot checkpoints.

Nothing here is a port: data movement is declared with the DataFrame
API (Catalyst plans, whole-stage codegen); only per-pixel math runs in
Python, batched per tile group via Arrow.
"""

__version__ = "0.1.0"

from ssgp_toolbox_spark.sentinels import GAP, NODATA, SKIP, SENTINELS

__all__ = ["GAP", "SKIP", "NODATA", "SENTINELS", "__version__"]
