"""Deep-history gapfill: bounded memory at ANY history depth.

``gapfill``/``gapfill_balanced`` stack a site's whole temporal history
into one Arrow row / one broadcast entry (L × h × w × 8 bytes) — fine
at the reference's depths (250-350 layers, SURVEY.md §1), unbounded at
100× depth. This operator re-plans the fill so **no full history
raster is ever grouped, collected, or broadcast**:

1. **Coords pass** (one task per viable input, needs only that input
   + the site's extra layer): run the exact predictor selection the
   fill kernels use (``batch.select_coords`` — per-pixel deterministic,
   reference gapfiller.py:438-586 semantics) for every gap pixel, split
   the gap scan into ``chunk_px`` chunks, and emit per chunk the
   DEDUPED flat coord keys plus the final-image values at those keys.
   Row size ≤ chunk_px × (C+1) × 12 bytes — independent of h, w, L.
2. **Extract pass** (one task per history LAYER): decode the layer
   once, slice ``layer.flat[keys]`` per chunk, emit tiny value
   vectors. Peak memory = ONE decoded layer + the site's key lists
   (broadcast-joined: keys are ~42 int64 per gap pixel, deduped).
   The layer raster itself never crosses a shuffle.
3. **Fill pass**: group the per-layer extracts by (image, chunk) —
   the collected group is the compact matrix (L × K floats,
   K ≤ chunk_px × (C+1)) — and run the post-gather kernel cores
   (``batch.fill_gathered_knn`` / ``frame.fill_gathered``). Tasks need
   NO raster at all: the target values ride the coords row.
4. Reassemble per image (same tiny delta shuffle + join as
   ``gapfill_balanced``), union the passthrough leg.

Memory bound per task: max(decoded layer, L × chunk_px × (C+1) × 8).
With C=41 (Biome 40-nearest + target, frame.N_NEAREST) and
chunk_px=256 that is ~86 MB even at L=1000 — tune ``chunk_px`` down
as L grows. 'All' predictor configuration degenerates (its coord set
IS the raster) — correct, but use the plain operators there.

Bit-identical to ``gapfill`` (asserted in tests/test_deep_gapfill.py):
selection is recomputed nowhere — coords are chosen once, and the
gathered frames equal ``build_frame``'s output value-for-value
(lossless f64 through the parquet/Arrow hops).

Reference parity: same per-image dataflow as gapfiller.py:600-781;
chronological layer order via sort-by-ts (gapfiller.py:91).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from ssgp_toolbox_spark import codecs
from ssgp_toolbox_spark.kernels import batch
from ssgp_toolbox_spark.kernels import frame as frame_kernel
from ssgp_toolbox_spark.operators import gapfill as G
from ssgp_toolbox_spark.sentinels import (DEFAULT_SENTINELS, Sentinels,
                                          check_payload_fmt,
                                          resolve_key_values)

COORDS_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType()),
    T.StructField("site", T.StringType()),
    T.StructField("chunk_id", T.IntegerType()),
    T.StructField("n_px", T.IntegerType()),      # P: gap pixels in chunk
    T.StructField("n_pred", T.IntegerType()),    # C: coords per pixel (target last)
    T.StructField("gaps", T.BinaryType()),       # int32 LE (P, 2) absolute coords
    T.StructField("keys", T.BinaryType()),       # int64 LE sorted unique r*w+c
    T.StructField("idx", T.BinaryType()),        # int32 LE (P, C) into keys
    T.StructField("last_vals", T.BinaryType()),  # f64 LE final values at keys
])

EXTRACT_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType()),
    T.StructField("chunk_id", T.IntegerType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("vals", T.BinaryType()),       # f64 LE layer values at keys
])


def _coords_batches(predictor_configuration: str, chunk_px: int,
                    sv: Sentinels = DEFAULT_SENTINELS,
                    group_chunks: int = 1):
    """Per-row coords extraction. A row is (image, grp): the gap scan
    slice [grp·G·chunk_px, (grp+1)·G·chunk_px) with G=``group_chunks``
    — per-pixel determinism (the fill kernels' ``gap_slice`` contract)
    makes a slice's coords identical to the same pixels' slice of the
    whole-image result, and chunk ids stay GLOBAL (grp·G + local), so
    the output rows are byte-identical to the former one-task-per-
    image pass; only the task split changes."""
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in COORDS_SCHEMA.fieldNames()}
            for row in pdf.itertuples(index=False):
                check_payload_fmt(row.fmt, sv)
                w = int(row.w)
                final = codecs.decode(row.bytes, int(row.h), w, row.fmt)
                extra = None
                if predictor_configuration == "Biome":
                    e = row.extra_layer
                    extra = codecs.decode(e["bytes"], int(e["h"]), int(e["w"]), e["fmt"])
                gaps = np.argwhere(final == sv.gap)
                if not len(gaps):
                    continue
                grp = int(getattr(row, "grp", 0))
                g_lo = grp * group_chunks * chunk_px
                g_hi = min(g_lo + group_chunks * chunk_px, len(gaps))
                if g_lo >= len(gaps):
                    continue
                sub_gaps = gaps[g_lo:g_hi]
                coords = batch.select_coords(
                    final, extra, sub_gaps, predictor_configuration,
                    seed=G._stable_seed(row.image_id), sv=sv)
                flat = (coords[..., 0] * w + coords[..., 1]).astype(np.int64)
                fr = final.ravel()
                base_ci = g_lo // chunk_px  # g_lo is chunk_px-aligned
                for j in range(-(-len(sub_gaps) // chunk_px)):
                    lo, hi = j * chunk_px, min((j + 1) * chunk_px,
                                               len(sub_gaps))
                    sub = flat[lo:hi]
                    keys = np.unique(sub)  # sorted — extraction/gather order
                    out["image_id"].append(row.image_id)
                    out["site"].append(row.site)
                    out["chunk_id"].append(base_ci + j)
                    out["n_px"].append(hi - lo)
                    out["n_pred"].append(sub.shape[1])
                    out["gaps"].append(
                        sub_gaps[lo:hi].astype("<i4").tobytes())
                    out["keys"].append(keys.astype("<i8").tobytes())
                    out["idx"].append(
                        np.searchsorted(keys, sub).astype("<i4").tobytes())
                    out["last_vals"].append(
                        np.ascontiguousarray(fr[keys], "<f8").tobytes())
            yield pd.DataFrame(out)

    return fn


def _extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = {k: [] for k in EXTRACT_SCHEMA.fieldNames()}
        for row in pdf.itertuples(index=False):
            layer = codecs.decode(
                row.bytes, int(row.h), int(row.w), row.fmt).ravel()
            for ck in row.chunk_keys:
                keys = np.frombuffer(ck["keys"], dtype="<i8")
                out["image_id"].append(ck["image_id"])
                out["chunk_id"].append(int(ck["chunk_id"]))
                out["ts"].append(row.ts)
                out["vals"].append(
                    np.ascontiguousarray(layer[keys], "<f8").tobytes())
        yield pd.DataFrame(out)


def _deep_fill_batches(method: str, hyperparameters: str, params: dict | None,
                       sv: Sentinels = DEFAULT_SENTINELS):
    params = dict(params or {})
    k = int(params.get("n_neighbors", 5))
    weights = params.get("weights", "uniform")

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {kk: [] for kk in G.CHUNK_SCHEMA.fieldNames()}
            for row in pdf.itertuples(index=False):
                P, C = int(row.n_px), int(row.n_pred)
                hist_mat = np.stack([
                    np.frombuffer(l["vals"], dtype="<f8")
                    for l in row.layers  # already ts-ascending (sort_array)
                ])
                idx = np.frombuffer(row.idx, dtype="<i4").reshape(P, C)
                hist = hist_mat[:, idx]                       # (L, P, C)
                last = np.frombuffer(row.last_vals, "<f8")[idx]   # (P, C)
                gaps = np.frombuffer(row.gaps, dtype="<i4").reshape(P, 2)
                seed = G._stable_seed(row.image_id)
                if method == "Knn" and hyperparameters == "Custom":
                    preds, scores, skip = batch.fill_gathered_knn(
                        hist, last, k, weights, seed, sv)
                else:
                    preds, scores, skip = frame_kernel.fill_gathered(
                        hist, last, gaps, method=method,
                        hyperparameters=hyperparameters, params=params,
                        seed=seed, sv=sv)
                vals = np.where(skip, sv.skip, preds)
                out["image_id"].append(row.image_id)
                out["chunk_id"].append(int(row.chunk_id))
                out["rows"].append(gaps[:, 0].astype("<i4").tobytes())
                out["cols"].append(gaps[:, 1].astype("<i4").tobytes())
                out["vals"].append(np.ascontiguousarray(vals, "<f8").tobytes())
                out["scores"].append(
                    np.ascontiguousarray(scores[~skip], "<f8").tobytes())
            yield pd.DataFrame(out)

    return fn


def gapfill_deep(images: DataFrame, method: str = "Knn",
                 predictor_configuration: str = "Biome",
                 hyperparameters: str = "Custom",
                 params: dict | None = None, min_valid: int = 101,
                 chunk_px: int = 256,
                 key_values: dict | None = None) -> DataFrame:
    """Depth-bounded gapfill (see module docstring). Same contract and
    bit-identical output as ``gapfill(images, ...)`` — including the
    ``key_values`` sentinel override."""
    sv = resolve_key_values(key_values)
    spark = images.sparkSession
    inputs = images.filter(F.col("role") == "input")
    viable = inputs.filter(
        (F.col("valid_px") > min_valid) & (F.col("gap_count") > 0))
    passthrough = inputs.filter(
        (F.col("valid_px") > min_valid) & (F.col("gap_count") == 0))

    sel_cols = ["image_id", "site", "bytes", "h", "w", "fmt"]
    # the coords pass is chunk-GROUPED (optimization round 6): one
    # task per image serialized the stage on high-gap images (a
    # 96%-gap 200×160 input alone measured 2.6-3.2 s of whole-image
    # select_coords in a single task). Groups of ``group_chunks``
    # chunks split that scan across tasks — per-pixel determinism
    # (the gap_slice contract) keeps every output row byte-identical,
    # at the price of re-shipping the input raster once per group
    # (×ceil(gaps / (G·chunk_px)) duplication through one round-robin
    # exchange — input payloads only, never history layers, so the
    # depth-bounded memory contract is untouched).
    group_chunks = 2  # measured best at bench scale (1.1 s stage vs
    #                   1.4 s at G=1/G=4, 2.6-3.2 s unsplit)
    n_groups = F.ceil(F.col("gap_count") / (group_chunks * chunk_px)) \
        .cast("int")
    cores = spark.sparkContext.defaultParallelism
    sel = viable.select(*sel_cols, F.explode(
        F.sequence(F.lit(0), n_groups - 1)).alias("grp"))
    if predictor_configuration == "Biome":
        extra = G.pack_extra(images.filter(F.col("role") == "extra"))
        sel = sel.join(F.broadcast(extra), "site")  # one small row per site
    coords = sel.repartition(cores * 2).mapInPandas(
        _coords_batches(predictor_configuration, chunk_px, sv,
                        group_chunks=group_chunks), COORDS_SCHEMA,
    ).persist()  # consumed twice: key lists for extraction + fill join

    # key lists per site, broadcast to every history-layer task; size =
    # deduped predictor coords only (~42 int64/gap px), never rasters
    site_keys = coords.groupBy("site").agg(
        F.collect_list(F.struct("image_id", "chunk_id", "keys")).alias("chunk_keys"))
    hist = images.filter(F.col("role") == "history") \
        .select("site", "ts", "bytes", "h", "w", "fmt")
    extracted = hist.join(F.broadcast(site_keys), "site").mapInPandas(
        _extract_batches, EXTRACT_SCHEMA)

    # (image, chunk) groups are the compact matrices: L rows × K floats
    packed_layers = extracted.groupBy("image_id", "chunk_id").agg(
        F.sort_array(F.collect_list(F.struct("ts", "vals"))).alias("layers"))

    # size the fill stage from the ACTUAL chunk count: coords is
    # persisted (consumed twice anyway), so counting it materializes
    # work that was already due. ~3 chunks/task amortizes per-task
    # dispatch + Arrow setup while round-robin still balances counts;
    # the explicit count keeps AQE from coalescing this CPU-heavy,
    # byte-light shuffle, and the [cores, cores*8] clamp keeps full
    # width at small counts
    cores = spark.sparkContext.defaultParallelism
    n_parts = int(min(max(cores, -(-coords.count() // 3)), cores * 8))
    fill_in = coords.drop("site").join(
        packed_layers, ["image_id", "chunk_id"]).repartition(n_parts)
    partials = fill_in.mapInPandas(
        _deep_fill_batches(method, hyperparameters, params, sv),
        G.CHUNK_SCHEMA)

    packed = partials.groupBy("image_id").agg(
        F.collect_list(
            F.struct("chunk_id", "rows", "cols", "vals", "scores")).alias("chunks"))
    assembled = viable.select(
        "image_id", "bytes", "w", "h", "fmt", "caption", "phash"
    ).join(packed, "image_id").mapInPandas(G._assemble_batches_fn(sv),
                                           G.GAPFILL_SCHEMA)

    pass_df = passthrough.select(
        "image_id", "bytes", "w", "h", "fmt", "caption", "phash",
        F.lit("passthrough").alias("status"),
        F.lit(0).alias("filled_px"),
        F.lit(0.0).alias("mean_cv_mae"),
    )
    return assembled.unionByName(pass_df)
