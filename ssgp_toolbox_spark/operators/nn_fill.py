"""Nearest-neighbor interpolation fill operator (reference EP2).

``SimpleSpatialGapfiller.nn_interpolation`` (gapfiller.py:901-967)
fills every flagged pixel with the nearest valid pixel's value,
per image, independently.

Spark mapping: one row = one image, the kernel needs no other rows →
**mapInPandas with zero shuffle**. The plan is scan → (optional
Catalyst-pushed filters) → Arrow-batched map → sink; at 100 TB this
is embarrassingly parallel and scales linearly with executors (the
per-round scaling benchmark runs exactly this operator).

Output: the full input schema with ``bytes`` replaced by the filled
payload, plus ``status`` ('filled' | 'passthrough' |
'not_enough_valid') and ``filled_px``. Caption and phash columns pass
through untouched (caption-equality invariant); phash is recomputed
only when pixels changed.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ssgp_toolbox_spark import codecs
from ssgp_toolbox_spark.kernels import nn
from ssgp_toolbox_spark.sentinels import (DEFAULT_SENTINELS, Sentinels,
                                          check_payload_fmt,
                                          resolve_key_values)

NN_FILL_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType()),
    T.StructField("bytes", T.BinaryType()),
    T.StructField("w", T.IntegerType()),
    T.StructField("h", T.IntegerType()),
    T.StructField("fmt", T.StringType()),
    T.StructField("caption", T.StringType()),
    T.StructField("phash", T.LongType()),
    T.StructField("status", T.StringType()),
    T.StructField("filled_px", T.IntegerType()),
])


def _nn_fill_batches(sv: Sentinels = DEFAULT_SENTINELS):
  def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = {k: [] for k in NN_FILL_SCHEMA.fieldNames()}
        for row in pdf.itertuples(index=False):
            check_payload_fmt(row.fmt, sv)
            m = codecs.decode(row.bytes, int(row.h), int(row.w), row.fmt)
            filled, status = nn.nn_interpolate(m, sv)
            changed = status == "filled"
            payload = codecs.encode(filled, row.fmt) if changed else row.bytes
            out["image_id"].append(row.image_id)
            out["bytes"].append(payload)
            out["w"].append(row.w)
            out["h"].append(row.h)
            out["fmt"].append(row.fmt)
            out["caption"].append(row.caption)
            out["phash"].append(
                codecs.phash64(filled, sv.gap, sv.skip, sv.nodata)
                if changed else row.phash)
            out["status"].append(status)
            out["filled_px"].append(int((m == sv.gap).sum()) if changed else 0)
        yield pd.DataFrame(out)

  return fn


def nn_fill(images: DataFrame, key_values: dict | None = None) -> DataFrame:
    """Fill gaps by nearest-neighbor interpolation, per image.

    No groupBy, no shuffle: `.explain()` shows a single
    MapInPandas over the scan.

    ``key_values``: optional sentinel-encoding override (the
    reference's ``nn_interpolation(..., key_values=...)``,
    gapfiller.py:901-913 dict shape {'gap','skip','NoData'}).
    """
    cols = ["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]
    return images.select(*cols).mapInPandas(
        _nn_fill_batches(resolve_key_values(key_values)), NN_FILL_SCHEMA)
