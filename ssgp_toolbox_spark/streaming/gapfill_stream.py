"""Continuous gapfilling: the gapfill operator under Structured
Streaming.

New acquisitions (swath-ingested grid rows) arrive as a stream; the
temporal history is the static side (it changes slowly — republish
the packed history to refresh). The plan is a stream-static join:

    readStream(inputs) ──┐
                         ├── join(site) ── mapInPandas fill ── sink
    pack_history(static) ┘

Identical fill semantics to ``operators.gapfill.gapfill``: the same
kernels fill each joined row whole, and per-image seeding keeps the
output bit-identical to the batch run on the same rows (asserted in
tests/test_streaming.py). The batch operator plans one wave from its
collected inputs instead, which an unbounded stream cannot do. Stateless per
image → no watermark needed; at scale the static side is a broadcast
(small per-site packs) and each microbatch is a narrow map.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ssgp_toolbox_spark.operators import gapfill as G
from ssgp_toolbox_spark.operators import stats


def gapfill_stream(input_stream: DataFrame, history: DataFrame,
                   method: str = "Knn",
                   predictor_configuration: str = "Biome",
                   hyperparameters: str = "Custom",
                   params: dict | None = None,
                   min_valid: int = 101,
                   key_values: dict | None = None) -> DataFrame:
    """``input_stream``: streaming DataFrame of input_hint rows with a
    ``site`` column (e.g. swath ingest output routed through
    with_id_parts). ``history``: STATIC DataFrame of history/extra
    rows (role column as in the batch operator). Returns a streaming
    DataFrame in GAPFILL_SCHEMA (+passthrough leg).

    ``key_values``: sentinel-encoding override (see
    operators.gapfill.gapfill) — applied to both the on-stream stats
    and the fill kernel."""
    from ssgp_toolbox_spark.sentinels import resolve_key_values

    sv = resolve_key_values(key_values)
    st = stats.with_stats(input_stream, key_values)
    viable = st.filter((F.col("valid_px") > min_valid) & (F.col("gap_count") > 0))
    passthrough = st.filter(
        (F.col("valid_px") > min_valid) & (F.col("gap_count") == 0))

    hist = F.broadcast(G.pack_history(history.filter(F.col("role") == "history")))
    joined = viable.join(hist, "site")
    if predictor_configuration == "Biome":
        extra = F.broadcast(G.pack_extra(history.filter(F.col("role") == "extra")))
        joined = joined.join(extra, "site")

    keep = ["image_id", "bytes", "w", "h", "fmt", "caption", "phash",
            "hist_layers"]
    if predictor_configuration == "Biome":
        keep.append("extra_layer")
    filled = joined.select(*keep).mapInPandas(
        G._fill_batches(method, predictor_configuration, hyperparameters,
                        params, sv),
        G.GAPFILL_SCHEMA,
    )
    pass_df = passthrough.select(
        "image_id", "bytes", "w", "h", "fmt", "caption", "phash",
        F.lit("passthrough").alias("status"),
        F.lit(0).alias("filled_px"),
        F.lit(0.0).alias("mean_cv_mae"),
    )
    return filled.unionByName(pass_df)
