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
                                          check_gap_count, check_payload_fmt,
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


# ---------------------------------------------------------------- balanced

_NN_CHUNK_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType()),
    T.StructField("chunk_id", T.IntegerType()),
    T.StructField("rows", T.BinaryType()),
    T.StructField("cols", T.BinaryType()),
    T.StructField("vals", T.BinaryType()),
])


def _nn_chunk_batches(chunk_px: int, sv: Sentinels = DEFAULT_SENTINELS):
    import numpy as np

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in _NN_CHUNK_SCHEMA.fieldNames()}
            for row in pdf.itertuples(index=False):
                check_payload_fmt(row.fmt, sv)
                m = codecs.decode(row.bytes, int(row.h), int(row.w), row.fmt)
                work = m.copy()
                work[(work == sv.skip) | (work == sv.nodata)] = sv.gap
                # only true gaps change in the final image (skip/NoData
                # are restored by nn_interpolate, gapfiller.py:960-962)
                targets = np.argwhere(m == sv.gap)
                check_gap_count(row.image_id, len(targets),
                                int(row.gap_count), sv)
                lo = int(row.chunk_id) * chunk_px
                sel = targets[lo : lo + chunk_px]
                filled = nn.nn_lookup_grid(work, work != sv.gap, sel)
                out["image_id"].append(row.image_id)
                out["chunk_id"].append(int(row.chunk_id))
                out["rows"].append(sel[:, 0].astype("<i4").tobytes())
                out["cols"].append(sel[:, 1].astype("<i4").tobytes())
                out["vals"].append(np.ascontiguousarray(filled, "<f8").tobytes())
            yield pd.DataFrame(out)

    return fn


def _nn_assemble_batches_fn(sv: Sentinels = DEFAULT_SENTINELS):
  def _nn_assemble_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import numpy as np

    for pdf in batches:
        out = {k: [] for k in NN_FILL_SCHEMA.fieldNames()}
        for row in pdf.itertuples(index=False):
            m = codecs.decode(row.bytes, int(row.h), int(row.w), row.fmt)
            filled = m.copy()
            n_px = 0
            for ch in row.chunks:
                rs = np.frombuffer(ch["rows"], dtype="<i4")
                cs = np.frombuffer(ch["cols"], dtype="<i4")
                filled[rs, cs] = np.frombuffer(ch["vals"], dtype="<f8")
                n_px += len(rs)
            out["image_id"].append(row.image_id)
            out["bytes"].append(codecs.encode(filled, row.fmt))
            out["w"].append(row.w)
            out["h"].append(row.h)
            out["fmt"].append(row.fmt)
            out["caption"].append(row.caption)
            out["phash"].append(
                codecs.phash64(filled, sv.gap, sv.skip, sv.nodata))
            out["status"].append("filled")
            out["filled_px"].append(n_px)
        yield pd.DataFrame(out)

  return _nn_assemble_batches


def nn_fill_balanced(images: DataFrame, chunk_px: int = 4096,
                     key_values: dict | None = None) -> DataFrame:
    """Skew-balanced NN fill: each image's gap set splits into
    chunk-sized tasks with full-image lookup context — bit-identical
    to ``nn_fill`` (1-NN is deterministic), but a big or heavily
    gapped image no longer serializes the stage. Requires the stats
    columns — and with ``key_values`` set, the stats columns MUST have
    been computed with the SAME encoding
    (``stats.with_stats(key_values=...)``): default-encoded stats on a
    custom-encoded corpus would report gap_count=0 and silently route
    every image to the passthrough branch, and any other gap_count that
    disagrees with the payload raises ValueError in the chunk task.
    Non-viable (valid_px <= 10)
    and no-gap images follow the reference branches
    (gapfiller.py:920-936)."""
    from pyspark.sql import functions as F

    sv = resolve_key_values(key_values)
    base_cols = ["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]
    viable = images.filter((F.col("valid_px") > nn.MIN_VALID) & (F.col("gap_count") > 0))
    passthrough = images.filter(
        (F.col("valid_px") > nn.MIN_VALID) & (F.col("gap_count") == 0)
    ).select(*base_cols, F.lit("passthrough").alias("status"), F.lit(0).alias("filled_px"))
    nonviable = images.filter(F.col("valid_px") <= nn.MIN_VALID).select(
        *base_cols, F.lit("not_enough_valid").alias("status"), F.lit(0).alias("filled_px"))

    n_chunks = F.ceil(F.col("gap_count") / chunk_px).cast("int")
    # explicit count → AQE won't coalesce this CPU-heavy tiny-byte shuffle
    sc = images.sparkSession.sparkContext
    n_parts = max(sc.defaultParallelism * 8, 8)
    chunks = viable.withColumn(
        "chunk_id", F.explode(F.sequence(F.lit(0), n_chunks - 1))
    ).repartition(n_parts)  # round-robin: exact chunk-count balance
    partials = chunks.select("image_id", "chunk_id", "gap_count", "bytes", "w",
                             "h", "fmt") \
        .mapInPandas(_nn_chunk_batches(chunk_px, sv), _NN_CHUNK_SCHEMA)
    packed = partials.groupBy("image_id").agg(
        F.collect_list(F.struct("chunk_id", "rows", "cols", "vals")).alias("chunks")
    )
    assembled = viable.select(*base_cols).join(packed, "image_id") \
        .mapInPandas(_nn_assemble_batches_fn(sv), NN_FILL_SCHEMA)
    return assembled.unionByName(passthrough).unionByName(nonviable)
