"""Deep-history gapfill: bounded memory at ANY history depth.

``gapfill`` collects a site's whole temporal history to the driver
and ships it in its fill task closure (L × h × w × 8 bytes) — fine
at the reference's depths (250-350 layers, SURVEY.md §1), unbounded at
100× depth. This operator runs on ``gapfill``'s planner but re-plans
the fill so **no history raster is ever grouped, collected, or
broadcast**:

1. **Side inputs + plan** (driver, one job, no exchange): the shared
   side-input collect (``gapfill._collect_side_inputs``) of the viable
   input rows and, under Biome, the extra layers — with the history
   payloads nulled, so only which sites have history reaches the
   driver. ``plan_fill`` bins the inputs by ``gap_count``.
2. **Coords pass** (one task per bin, inputs + extras in the task
   closure, no exchange): run the exact predictor selection the fill
   kernels use (``batch.select_coords`` — per-pixel deterministic,
   reference gapfiller.py:438-586 semantics) for every ``chunk_px``
   chunk of the gap scan a unit covers (all of a whole image's, a
   split unit's one — plan chunk c is coords chunk c), and emit per
   chunk the DEDUPED flat coord keys plus the final-image values at
   those keys. Row size ≤ chunk_px × (C+1) × 12 bytes — independent
   of h, w, L.
3. **Extract pass** (one task per history LAYER): decode the layer
   once, slice ``layer.flat[keys]`` per chunk, emit tiny value
   vectors tagged with the layer's image_id. The site's key lists
   arrive broadcast-joined (~42 int64 per gap pixel, deduped); the
   layer raster itself never crosses a shuffle.
4. **Fill pass**: extract rows and coords rows meet in ONE keyed
   exchange — a cogroup on (image, chunk), both sides hash-partitioned
   into a count fixed on the driver from the plan, so AQE cannot
   coalesce the CPU-heavy stage. A group's extract rows, in
   ``gapfill``'s layer order (ts ascending, nulls first, ties by layer
   image_id), stacked over the coords row's final-image values are the
   keyed frame table ``gapfill``'s kernel builds, so it enters the
   same keyed entry (``batch.fill_keyed``, which picks the method's
   core) with the coords row's ``idx`` and no (L, P, C) gather. Tasks
   need NO raster at all: the target values ride the coords row. The
   chunk deltas then go through ``gapfill``'s assemble, which takes
   the originals from its closure; the passthrough leg is unioned.

Memory bound per task: max(decoded layer, L × chunk_px × (C+1) × 8).
With C=41 (Biome 40-nearest + target, frame.N_NEAREST) and
chunk_px=256 that is ~86 MB even at L=1000 — tune ``chunk_px`` down
as L grows. The driver holds the viable input payloads (≤ 8 B/px) and
the broadcast key lists (~336 B/gap px), never a history layer; a
corpus whose inputs do not fit goes through
``gapfill.gapfill_balanced_checkpointed``. 'All' predictor
configuration degenerates (its coord set IS the raster) — correct, but
use the plain operators there.

Bit-identical to ``gapfill`` (asserted in tests/test_deep_gapfill.py):
selection is recomputed nowhere — coords are chosen once, and the
keyed table equals ``batch.keyed_table``'s value-for-value (lossless
f64 through the parquet/Arrow hops).

Reference parity: same per-image dataflow as gapfiller.py:600-781;
chronological layer order via sort-by-ts, ties by file name
(gapfiller.py:91).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from ssgp_toolbox_spark import codecs
from ssgp_toolbox_spark.kernels import batch
from ssgp_toolbox_spark.operators import gapfill as G
from ssgp_toolbox_spark.sentinels import (DEFAULT_SENTINELS, Sentinels,
                                          check_gap_count, check_payload_fmt,
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
    T.StructField("layer_id", T.StringType()),   # the history row's image_id
    T.StructField("vals", T.BinaryType()),       # f64 LE layer values at keys
])

_KEY = ["image_id", "chunk_id"]


def _coords_batches(bins, inputs, sites, predictor_configuration: str,
                    chunk_px: int, sv: Sentinels = DEFAULT_SENTINELS):
    """Coords rows of the ``plan_fill`` bins named by the ``id``
    column; ``inputs`` and ``sites`` are ``gapfill._collect_side_inputs``'
    maps, captured by the task closure. A whole unit emits every
    ``chunk_px`` chunk of its gap scan, a split unit its one chunk —
    per-pixel determinism (the fill kernel's gap-slice contract) makes
    a chunk's coords identical to the same pixels' slice of the
    whole-image result."""
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cur_image = None
        for pdf in batches:
            for b in pdf["id"]:
                out = {k: [] for k in COORDS_SCHEMA.fieldNames()}
                for image_id, chunk_id in bins[int(b)]:
                    payload, h, w, fmt, site, _caption, planned = \
                        inputs[image_id]
                    if image_id != cur_image:
                        check_payload_fmt(fmt, sv)
                        final = codecs.decode(payload, h, w, fmt)
                        gaps = np.argwhere(final == sv.gap)
                        check_gap_count(image_id, len(gaps), planned, sv)
                        extra_layer = sites[site][1]
                        extra = codecs.decode(*extra_layer) \
                            if extra_layer else None
                        fr = final.ravel()
                        cur_image = image_id
                    chunks = range(-(-len(gaps) // chunk_px)) \
                        if chunk_id is None else (chunk_id,)
                    for c in chunks:
                        sel = gaps[c * chunk_px:(c + 1) * chunk_px]
                        coords = batch.select_coords(
                            final, extra, sel, predictor_configuration,
                            seed=G._stable_seed(image_id), sv=sv)
                        flat = (coords[..., 0] * w + coords[..., 1]) \
                            .astype(np.int64)
                        keys = np.unique(flat)  # sorted — extraction/gather order
                        out["image_id"].append(image_id)
                        out["site"].append(site)
                        out["chunk_id"].append(c)
                        out["n_px"].append(len(sel))
                        out["n_pred"].append(flat.shape[1])
                        out["gaps"].append(sel.astype("<i4").tobytes())
                        out["keys"].append(keys.astype("<i8").tobytes())
                        out["idx"].append(
                            np.searchsorted(keys, flat).astype("<i4").tobytes())
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
                out["layer_id"].append(row.image_id)
                out["vals"].append(
                    np.ascontiguousarray(layer[keys], "<f8").tobytes())
        yield pd.DataFrame(out)


def _deep_fill_fn(method: str, hyperparameters: str, params: dict | None,
                  sv: Sentinels = DEFAULT_SENTINELS):
    """Cogroup function: one (image, chunk)'s extract rows and its one
    coords row → one CHUNK_SCHEMA delta row."""
    def fn(extracts: pd.DataFrame, coords: pd.DataFrame) -> pd.DataFrame:
        row = next(coords.itertuples(index=False))
        P, C = int(row.n_px), int(row.n_pred)
        # the keyed extract IS the kernels' frame table: one column per
        # key, history rows in gapfill's layer order, then the final row
        layers = extracts.sort_values(["ts", "layer_id"],
                                      na_position="first")["vals"]
        table = np.stack([*(np.frombuffer(v, dtype="<f8") for v in layers),
                          np.frombuffer(row.last_vals, dtype="<f8")])
        idx = np.frombuffer(row.idx, dtype="<i4").reshape(P, C)
        gaps = np.frombuffer(row.gaps, dtype="<i4").reshape(P, 2)
        preds, scores, skip = batch.fill_keyed(
            table, idx, gaps, method, hyperparameters, params,
            G._stable_seed(row.image_id), sv)
        vals = np.where(skip, sv.skip, preds)
        return pd.DataFrame({
            "image_id": [row.image_id], "chunk_id": [int(row.chunk_id)],
            "rows": [gaps[:, 0].astype("<i4").tobytes()],
            "cols": [gaps[:, 1].astype("<i4").tobytes()],
            "vals": [np.ascontiguousarray(vals, "<f8").tobytes()],
            "scores": [np.ascontiguousarray(scores[~skip], "<f8").tobytes()],
        })

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
    kept = (F.col("role") == "input") & (F.col("valid_px") > min_valid)
    # history payloads stay on the executors: of the history rows only
    # their sites count here (the stacks come back payload-less)
    sites, inputs = G._collect_side_inputs(
        images.withColumn("bytes", F.when(F.col("role") != "history",
                                          F.col("bytes"))),
        kept & (F.col("gap_count") > 0), predictor_configuration == "Biome")
    pass_df = G._passthrough(images, kept)
    if not inputs:
        return pass_df

    gap_counts = {i: m[6] for i, m in inputs.items()}
    cores = spark.sparkContext.defaultParallelism
    bins, _split = G.plan_fill(gap_counts, cores, chunk_px)
    coords = spark.range(0, len(bins), 1, len(bins)).mapInPandas(
        _coords_batches(bins, inputs, sites, predictor_configuration,
                        chunk_px, sv), COORDS_SCHEMA,
    # consumed twice (key lists for extraction + the fill cogroup):
    # evaluated once, here, and released with the plan, where a
    # persist() would stay in the cache manager after the call
    ).localCheckpoint()

    # key lists per site, broadcast to every history-layer task; size =
    # deduped predictor coords only (~42 int64/gap px), never rasters
    site_keys = coords.groupBy("site").agg(
        F.collect_list(F.struct("image_id", "chunk_id", "keys")).alias("chunk_keys"))
    hist = images.filter(F.col("role") == "history") \
        .select("site", "image_id", "ts", "bytes", "h", "w", "fmt")
    extracted = hist.join(F.broadcast(site_keys), "site").mapInPandas(
        _extract_batches, EXTRACT_SCHEMA)

    # one keyed exchange into the fill: ~3 chunks per task amortizes
    # per-task dispatch and Arrow setup; the explicit count keeps AQE
    # from coalescing this CPU-heavy, byte-light shuffle, and the
    # [cores, cores*8] clamp keeps full width at small counts
    n_chunks = sum(-(-g // chunk_px) for g in gap_counts.values())
    n_parts = min(max(cores, -(-n_chunks // 3)), cores * 8)
    partials = extracted.repartition(n_parts, *_KEY).groupBy(*_KEY).cogroup(
        coords.drop("site").repartition(n_parts, *_KEY).groupBy(*_KEY)
    ).applyInPandas(_deep_fill_fn(method, hyperparameters, params, sv),
                    G.CHUNK_SCHEMA)

    packed = partials.groupBy("image_id").agg(F.collect_list(
        F.struct(*G.CHUNK_SCHEMA.fieldNames()[1:])).alias("chunks"))
    assembled = packed.mapInPandas(G._assemble_batches_fn(inputs, sv),
                                   G.GAPFILL_SCHEMA)
    return assembled.unionByName(pass_df)
