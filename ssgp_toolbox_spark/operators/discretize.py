"""Discretizator operator (reference EP3): regular time grid +
collision resolution + per-pixel temporal gap fill.

Plan shape (SURVEY.md J5/W1-W4/A6-A10):

1. ``groupBy(site)`` bounds: min/max ts → grid [start, end) with the
   reference's midnight-anchored construction (timeseries.py:73-82).
2. Bucket assignment as a pure column expression
   ``floor((ts − start) / step)`` — no UDF, stays in codegen.
3. Collision resolution per (site, bucket): one aggregation packs the
   bucket's layers chronologically; a mapInPandas kernel applies the
   reference rule ('None' → nearest-to-centroid *without decoding
   pixels*, 'simple'/'weighted' → decode + average
   (timeseries.py:107-182)).
4. Empty buckets: the grid is generated declaratively
   (``sequence`` + ``explode``) and left-joined; missing buckets
   materialize as all-gap blanks (timeseries.py:100-101); the
   *trailing* empty bucket is dropped (timeseries.py:96-98).
5. Temporal fill: ``groupBy(site)`` stacks the gridded layers and
   runs the pattern-class-vectorized sequential fill
   (kernels/timeseries.fill_stack) — skip propagation + median/poly.

Shuffles: (a) bucket packing, (b) site stacking for the fill. Both
key on (site[, bucket]) — at 100 TB the site key is replaced by
(site, tile) from tiling.py to bound group size; semantics unchanged
because the fill is per-pixel.
"""

from __future__ import annotations

from collections.abc import Iterator
from datetime import datetime, timezone

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ssgp_toolbox_spark import codecs
from ssgp_toolbox_spark.kernels import timeseries as ts_kernel
from ssgp_toolbox_spark.sentinels import (DEFAULT_SENTINELS, Sentinels,
                                          check_payload_fmt,
                                          resolve_key_values)

STEP_SECONDS = {"12H": 43200, "6H": 21600, "24H": 86400, "1D": 86400}

GRID_SCHEMA = T.StructType([
    T.StructField("site", T.StringType()),
    T.StructField("bucket", T.IntegerType()),
    T.StructField("centroid", T.TimestampType()),
    T.StructField("bytes", T.BinaryType()),
    T.StructField("w", T.IntegerType()),
    T.StructField("h", T.IntegerType()),
    T.StructField("fmt", T.StringType()),
    T.StructField("n_layers", T.IntegerType()),
])


def parse_step(timestep: str) -> int:
    if timestep in STEP_SECONDS:
        return STEP_SECONDS[timestep]
    # generic '<n>H' / '<n>D'
    unit = timestep[-1].upper()
    n = int(timestep[:-1])
    if unit == "H":
        return n * 3600
    if unit == "D":
        return n * 86400
    raise ValueError(f"unsupported timestep {timestep!r}")


def site_grid(layers: DataFrame, step_s: int) -> DataFrame:
    """(site, start, n_buckets, h, w, fmt) per site + the exploded
    (site, bucket) grid — all declarative."""
    bounds = layers.groupBy("site").agg(
        F.date_trunc("day", F.min("ts")).alias("start"),
        (F.date_trunc("day", F.max("ts")) + F.expr("interval 1 day")).alias("end"),
        F.first("h").alias("h"), F.first("w").alias("w"),
        F.first("fmt").alias("fmt"),
    ).withColumn(
        "n_buckets",
        ((F.unix_timestamp("end") - F.unix_timestamp("start")) / step_s).cast("int"),
    )
    grid = bounds.select(
        "site", "start", "n_buckets", "h", "w", "fmt",
        F.explode(F.sequence(F.lit(0), F.col("n_buckets") - 1)).alias("bucket"),
    )
    return bounds, grid


def _resolve_batches(averaging: str, step_s: int,
                     sv: Sentinels = DEFAULT_SENTINELS):
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in GRID_SCHEMA.fieldNames()}
            for row in pdf.itertuples(index=False):
                layers = row.layers  # chronologically sorted structs
                start_ns = pd.Timestamp(row.start).value
                centroid_ns = start_ns + int((row.bucket + 0.5) * step_s * 1e9)
                h, w, fmt = int(row.h), int(row.w), row.fmt
                check_payload_fmt(fmt, sv)
                if layers is None or len(layers) == 0:
                    payload = codecs.encode(np.full((h, w), sv.gap), fmt)
                    n = 0
                elif len(layers) == 1:
                    payload, n = layers[0]["bytes"], 1
                else:
                    dist = np.array([
                        abs(pd.Timestamp(l["ts"]).value - centroid_ns) for l in layers
                    ])
                    if averaging in (None, "None"):
                        payload = layers[int(np.argmin(dist))]["bytes"]
                    else:
                        mats = np.stack([
                            codecs.decode(l["bytes"], h, w, l["fmt"]) for l in layers
                        ])
                        resolved = ts_kernel.resolve_collision(mats, dist, averaging)
                        payload = codecs.encode(resolved, fmt)
                    n = len(layers)
                out["site"].append(row.site)
                out["bucket"].append(int(row.bucket))
                out["centroid"].append(
                    datetime.fromtimestamp(centroid_ns / 1e9, tz=timezone.utc).replace(tzinfo=None)
                )
                out["bytes"].append(payload)
                out["w"].append(w)
                out["h"].append(h)
                out["fmt"].append(fmt)
                out["n_layers"].append(n)
            yield pd.DataFrame(out)

    return fn


def _fill_group(filling_method, n_neighbors, poly_degree,
                sv: Sentinels = DEFAULT_SENTINELS):
    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("bucket").reset_index(drop=True)
        h, w = int(pdf["h"].iloc[0]), int(pdf["w"].iloc[0])
        stack = np.stack([
            codecs.decode(b, h, w, f) for b, f in zip(pdf["bytes"], pdf["fmt"])
        ])
        filled = ts_kernel.fill_stack(stack, filling_method, n_neighbors,
                                      poly_degree, sv)
        pdf["bytes"] = [codecs.encode(filled[i], pdf["fmt"].iloc[i]) for i in range(len(pdf))]
        return pdf

    return fn


# ---- tiled fill stage: bounds group memory to buckets × tile² ------

_TILE_GRID_SCHEMA = T.StructType([
    T.StructField("site", T.StringType()),
    T.StructField("bucket", T.IntegerType()),
    T.StructField("centroid", T.TimestampType()),
    T.StructField("w", T.IntegerType()),
    T.StructField("h", T.IntegerType()),
    T.StructField("fmt", T.StringType()),
    T.StructField("n_layers", T.IntegerType()),
    T.StructField("tx", T.IntegerType()), T.StructField("ty", T.IntegerType()),
    T.StructField("row0", T.IntegerType()), T.StructField("col0", T.IntegerType()),
    T.StructField("core_h", T.IntegerType()), T.StructField("core_w", T.IntegerType()),
    T.StructField("tile_bytes", T.BinaryType()),
])


def _tile_explode_grid(tile: int):
    from ssgp_toolbox_spark import tiling

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = _TILE_GRID_SCHEMA.fieldNames()
        for pdf in batches:
            outs = []
            for row in pdf.itertuples(index=False):
                m = codecs.decode(row.bytes, int(row.h), int(row.w), row.fmt)
                t = tiling.explode_tiles_pdf("_", m, tile)
                for col in ("site", "bucket", "centroid", "w", "h", "fmt",
                            "n_layers"):
                    t[col] = getattr(row, col)
                outs.append(t[cols])
            yield (pd.concat(outs) if outs else pd.DataFrame(columns=cols))

    return fn


def _fill_tile_group(filling_method, n_neighbors, poly_degree,
                     sv: Sentinels = DEFAULT_SENTINELS):
    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("bucket").reset_index(drop=True)
        th, tw = int(pdf["core_h"].iloc[0]), int(pdf["core_w"].iloc[0])
        stack = np.stack([
            np.frombuffer(b, dtype="<f8").reshape(th, tw)
            for b in pdf["tile_bytes"]
        ])
        filled = ts_kernel.fill_stack(stack, filling_method, n_neighbors,
                                      poly_degree, sv)
        pdf["tile_bytes"] = [
            np.ascontiguousarray(filled[i], "<f8").tobytes()
            for i in range(len(pdf))
        ]
        return pdf

    return fn


def _assemble_grid(key, pdf: pd.DataFrame) -> pd.DataFrame:
    from ssgp_toolbox_spark import tiling

    h, w = int(pdf["h"].iloc[0]), int(pdf["w"].iloc[0])
    fmt = pdf["fmt"].iloc[0]
    m = tiling.assemble_from_tiles(pdf, h, w)
    return pd.DataFrame([{
        "site": key[0], "bucket": int(key[1]),
        "centroid": pdf["centroid"].iloc[0],
        "bytes": codecs.encode(m, fmt),
        "w": w, "h": h, "fmt": fmt,
        "n_layers": int(pdf["n_layers"].iloc[0]),
    }])[GRID_SCHEMA.fieldNames()]


def discretize(layers: DataFrame, timestep: str = "12H",
               averaging: str = "None", filling_method: str | None = "None",
               n_neighbors: int = 5, poly_degree: int = 2,
               tile: int | None = None,
               key_values: dict | None = None) -> DataFrame:
    """``layers`` must carry (site, ts, bytes, h, w, fmt). Returns the
    gridded + temporally filled stack, one row per (site, bucket).

    ``tile``: when set, the temporal-fill stage is keyed on
    (site, tx, ty) instead of (site) — group memory drops from
    buckets × raster² to buckets × tile², which is what bounds a task
    at 10^5×10^5-pixel sites. Bit-identical to the untiled path (the
    fill is per-pixel; tiles exchange nothing).

    ``key_values``: sentinel override, the reference's
    ``Discretizator(key_values=...)`` (timeseries.py:31-38): blank
    buckets materialize as the overridden gap value and the temporal
    fill's gap/skip predicates use the overridden encoding."""
    sv = resolve_key_values(key_values)
    step_s = parse_step(timestep)
    bounds, grid = site_grid(layers, step_s)

    with_bucket = layers.join(bounds.select("site", "start", "n_buckets"), "site").withColumn(
        "bucket",
        F.floor((F.unix_timestamp("ts") - F.unix_timestamp("start")) / step_s).cast("int"),
    )
    packed = with_bucket.groupBy("site", "bucket").agg(
        F.sort_array(F.collect_list(F.struct("ts", "bytes", "fmt"))).alias("layers"),
    )
    slots = grid.join(packed, ["site", "bucket"], "left")
    # trailing empty bucket dropped (timeseries.py:96-98) — only the last
    slots = slots.filter(
        ~((F.col("bucket") == F.col("n_buckets") - 1) & F.col("layers").isNull())
    )
    resolved = slots.select(
        "site", "bucket", "start", "h", "w", "fmt", "layers"
    ).mapInPandas(_resolve_batches(averaging, step_s, sv), GRID_SCHEMA)

    if tile is None:
        return resolved.groupBy("site").applyInPandas(
            _fill_group(filling_method, n_neighbors, poly_degree, sv),
            GRID_SCHEMA
        )
    tiles = resolved.mapInPandas(_tile_explode_grid(tile), _TILE_GRID_SCHEMA)
    filled = tiles.groupBy("site", "tx", "ty").applyInPandas(
        _fill_tile_group(filling_method, n_neighbors, poly_degree, sv),
        _TILE_GRID_SCHEMA,
    )
    return filled.groupBy("site", "bucket").applyInPandas(
        _assemble_grid, GRID_SCHEMA
    )


def grid_image_ids(gridded: DataFrame) -> DataFrame:
    """Rows in the images-table shape (S11 npy sink analog: one layer
    per grid step named by its centroid timestamp, timeseries.py:330)."""
    return gridded.select(
        F.concat_ws(
            "/", "site", F.lit("grid"),
            F.date_format("centroid", "yyyyMMdd'T'HHmmss"),
        ).alias("image_id"),
        "bytes", "w", "h", "fmt",
        F.concat_ws(" ", F.lit("grid"), "site",
                    F.date_format("centroid", "yyyyMMdd'T'HHmmss")).alias("caption"),
        F.lit(None).cast("long").alias("phash"),
    )
