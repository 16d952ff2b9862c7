"""Flagship operator: per-pixel ML gap fill (reference EP1).

``SimpleSpatialGapfiller.fill_gaps`` (gapfiller.py:801-899) re-planned
for Spark:

reference (eager, per input file)          this engine (one lazy plan)
-----------------------------------       ---------------------------------
re-scan History/ per input (S1)           scan history once, groupBy(site)
                                          → pack sorted temporal stack
load Extra.npy (S3)                       extra layer packed the same way
for file in Inputs/: viability F2/F3      Catalyst filters on stats columns
thread pool over gap pixels               join packed stack to each input
                                          row → **mapInPandas** fill kernel
np.save + Metadata.json (S4/S5)           snapshot append + metrics columns

Shuffle analysis (the 100 TB story): exactly ONE shuffle — the
``groupBy(site)`` that packs each site's history into a single row.
Inputs then stream through a join against that packed side (AQE
auto-broadcasts it when small; with millions of sites it degrades
gracefully to a co-partitioned shuffle join) and the fill itself is a
shuffle-free mapInPandas. Fill cost dominates (CV grid search per gap
pixel), so parallelism scales with input rows, and skew = images with
many gap pixels — handled by the tile path (operators/tiled_fill.py)
which splits hot images into cell-keyed tiles.

Sequential parity mode (``add_outputs=True``, gapfiller.py:788-790 —
layer i's output feeds layer i+1's training set) is a driver loop of
one Spark job per timestamp, as documented in SURVEY.md §3; this
module implements the parallel ``add_outputs=False`` configuration
used by the reference's own Comparison benchmark
(Comparison/Description.md:27).
"""

from __future__ import annotations

import heapq
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ssgp_toolbox_spark import codecs
from ssgp_toolbox_spark.kernels import frame as frame_kernel
from ssgp_toolbox_spark.sentinels import (DEFAULT_SENTINELS, Sentinels,
                                          check_payload_fmt,
                                          resolve_key_values)

GAPFILL_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType()),
    T.StructField("bytes", T.BinaryType()),
    T.StructField("w", T.IntegerType()),
    T.StructField("h", T.IntegerType()),
    T.StructField("fmt", T.StringType()),
    T.StructField("caption", T.StringType()),
    T.StructField("phash", T.LongType()),
    T.StructField("status", T.StringType()),
    T.StructField("filled_px", T.IntegerType()),
    T.StructField("mean_cv_mae", T.DoubleType()),
])

_LAYER_STRUCT = "array<struct<ts:timestamp,bytes:binary,h:int,w:int,fmt:string>>"


def _stable_seed(image_id: str) -> int:
    return zlib.crc32(image_id.encode()) & 0x7FFFFFFF


def pack_history(history: DataFrame) -> DataFrame:
    """One row per site: chronologically sorted temporal stack
    (reference O1 sort, gapfiller.py:91 + tensor build 846-848).
    This groupBy is the plan's single shuffle."""
    layer = F.struct("ts", "bytes", "h", "w", "fmt")
    return history.groupBy("site").agg(
        F.sort_array(F.collect_list(layer)).alias("hist_layers")
    )


def pack_extra(extras: DataFrame) -> DataFrame:
    layer = F.struct("bytes", "h", "w", "fmt")
    return extras.groupBy("site").agg(F.first(layer).alias("extra_layer"))


def _fill_kernel(final, tensor, extra, method, predictor_configuration,
                 hyperparameters, params, seed, gap_slice=None,
                 sv: Sentinels = DEFAULT_SENTINELS):
    """Dispatch: batched tensor-algebra path for Knn/Custom (20-60×
    faster, bit-identical — kernels/batch.py), generic per-pixel path
    otherwise."""
    if method == "Knn" and hyperparameters == "Custom":
        from ssgp_toolbox_spark.kernels import batch

        return batch.fill_image_knn(
            final, tensor, extra=extra,
            predictor_configuration=predictor_configuration,
            hyperparameters=hyperparameters, params=params, seed=seed,
            gap_slice=gap_slice, sv=sv,
        )
    return frame_kernel.fill_image(
        final, tensor, extra=extra, method=method,
        predictor_configuration=predictor_configuration,
        hyperparameters=hyperparameters, params=params, seed=seed,
        gap_slice=gap_slice, sv=sv,
    )


def _append_filled(out, image_id, filled, fmt, w, h, caption, n_px, scores,
                   sv: Sentinels):
    """One finished GAPFILL_SCHEMA row (status 'filled')."""
    out["image_id"].append(image_id)
    out["bytes"].append(codecs.encode(filled, fmt))
    out["w"].append(w)
    out["h"].append(h)
    out["fmt"].append(fmt)
    out["caption"].append(caption)
    out["phash"].append(codecs.phash64(filled, sv.gap, sv.skip, sv.nodata))
    out["status"].append("filled")
    out["filled_px"].append(n_px)
    out["mean_cv_mae"].append(
        float(np.mean(scores)) if len(scores) else float("nan"))


def _fill_batches(method, predictor_configuration, hyperparameters, params,
                  sv: Sentinels = DEFAULT_SENTINELS):
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in GAPFILL_SCHEMA.fieldNames()}
            for row in pdf.itertuples(index=False):
                check_payload_fmt(row.fmt, sv)
                final = codecs.decode(row.bytes, int(row.h), int(row.w), row.fmt)
                tensor = np.stack([
                    codecs.decode(l["bytes"], int(l["h"]), int(l["w"]), l["fmt"])
                    for l in row.hist_layers
                ])
                extra = None
                if predictor_configuration == "Biome":
                    e = row.extra_layer
                    extra = codecs.decode(e["bytes"], int(e["h"]), int(e["w"]), e["fmt"])
                n_gaps = int((final == sv.gap).sum())
                filled, scores = _fill_kernel(
                    final, tensor, extra, method, predictor_configuration,
                    hyperparameters, params, seed=_stable_seed(row.image_id),
                    sv=sv,
                )
                _append_filled(out, row.image_id, filled, row.fmt, row.w,
                               row.h, row.caption, n_gaps, scores, sv)
            yield pd.DataFrame(out)

    return fn


def gapfill(images: DataFrame, method: str = "Lasso",
            predictor_configuration: str = "Random",
            hyperparameters: str = "RandomGridSearch",
            params: dict | None = None, min_valid: int = 101,
            key_values: dict | None = None) -> DataFrame:
    """Fill all ``role='input'`` images of every site. ``images`` must
    carry (site, role, ts) id parts and the stats columns
    (operators.stats.with_stats).

    Output: GAPFILL_SCHEMA; passthrough images (no gaps) come through
    with status='passthrough' and metric 0.0 (gapfiller.py:862-873);
    non-viable images (valid_px <= 101) are *excluded*, like the
    reference's ``continue`` (gapfiller.py:856-861).

    ``key_values``: optional sentinel-encoding override, the
    reference's ``fill_gaps(..., key_values=...)`` parameter
    (gapfiller.py:826-828) — a dict with any of 'gap', 'skip',
    'NoData'. The stats columns must have been computed with the SAME
    encoding (stats.with_stats(key_values=...)).
    """
    sv = resolve_key_values(key_values)
    inputs = images.filter(F.col("role") == "input")
    viable = inputs.filter((F.col("valid_px") > min_valid) & (F.col("gap_count") > 0))
    passthrough = inputs.filter(
        (F.col("valid_px") > min_valid) & (F.col("gap_count") == 0)
    )

    hist = pack_history(images.filter(F.col("role") == "history"))
    joined = viable.join(hist, "site")
    if predictor_configuration == "Biome":
        extra = pack_extra(images.filter(F.col("role") == "extra"))
        joined = joined.join(extra, "site")

    keep = ["image_id", "bytes", "w", "h", "fmt", "caption", "phash", "hist_layers"]
    if predictor_configuration == "Biome":
        keep.append("extra_layer")
    filled = joined.select(*keep).mapInPandas(
        _fill_batches(method, predictor_configuration, hyperparameters, params,
                      sv),
        GAPFILL_SCHEMA,
    )

    pass_df = passthrough.select(
        "image_id", "bytes", "w", "h", "fmt", "caption", "phash",
        F.lit("passthrough").alias("status"),
        F.lit(0).alias("filled_px"),
        F.lit(0.0).alias("mean_cv_mae"),
    )
    return filled.unionByName(pass_df)


CHUNK_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType()),
    T.StructField("chunk_id", T.IntegerType()),
    T.StructField("rows", T.BinaryType()),    # int32 LE gap-pixel rows
    T.StructField("cols", T.BinaryType()),    # int32 LE gap-pixel cols
    T.StructField("vals", T.BinaryType()),    # f64 LE filled values
    T.StructField("scores", T.BinaryType()),  # f64 LE per-pixel |CV-MAE|
])

# balanced fill-stage rows: a finished image fills the GAPFILL_SCHEMA
# columns (chunk columns null), a chunk of a split image fills
# image_id + the CHUNK_SCHEMA columns (the rest null)
_FILL_SCHEMA = T.StructType(GAPFILL_SCHEMA.fields + CHUNK_SCHEMA.fields[1:])


# per-python-worker decode cache for broadcast history stacks: one
# decode per (site, broadcast-id) per worker process, not per chunk
_BC_CACHE: dict = {}

_SITE_CACHE_MAX = 8  # decoded site tensors kept per worker (FIFO evict)

# driver-side registry of live broadcast variables created by
# gapfill_balanced — drained by release_broadcasts() (and by the
# checkpointed loop after each snapshot commit) so repeated calls in
# one session don't accumulate executor memory
_LIVE_BROADCASTS: list = []


def release_broadcasts() -> int:
    """Unpersist every broadcast created by prior gapfill_balanced
    calls. Call AFTER materializing the returned DataFrame (the
    broadcast must stay alive until then). Returns the count."""
    n = 0
    while _LIVE_BROADCASTS:
        _LIVE_BROADCASTS.pop().unpersist()
        n += 1
    return n


def _bc_tensors(bc, site):
    gen = bc.value["gen"]
    key = (gen, site)
    if key not in _BC_CACHE:
        for stale in [k for k in _BC_CACHE if k[0] != gen]:
            del _BC_CACHE[stale]
        site_keys = [k for k in _BC_CACHE if len(k) == 2]
        if len(site_keys) >= _SITE_CACHE_MAX:
            del _BC_CACHE[site_keys[0]]
        hist_layers, extra_layer = bc.value["sites"][site]
        tensor = np.stack([
            codecs.decode(b, h, w, f) for (_ts, b, h, w, f) in hist_layers
        ]) if hist_layers else None
        extra = codecs.decode(*extra_layer) if extra_layer else None
        _BC_CACHE[key] = (tensor, extra)
    return _BC_CACHE[key]


_IMG_CACHE_MAX = 16  # decoded inputs kept per worker (FIFO evict)


def _bc_image(bc, image_id):
    gen = bc.value["gen"]
    key = (gen, "img", image_id)
    if key not in _BC_CACHE:
        payload, h, w, fmt = bc.value["inputs"][image_id][:4]
        img_keys = [k for k in _BC_CACHE if len(k) == 3 and k[1] == "img"]
        if len(img_keys) >= _IMG_CACHE_MAX:
            del _BC_CACHE[img_keys[0]]
        _BC_CACHE[key] = codecs.decode(payload, h, w, fmt)
    return _BC_CACHE[key]


def plan_fill(gap_counts: dict, slots: int, chunk_px: int):
    """Driver-side plan of the balanced fill wave, from the images'
    ``gap_count`` alone.

    Units: an image with at most ``share = ceil(total_gaps / slots)``
    gap px is one unit; a larger image splits at ``chunk_px``
    boundaries of its row-major gap scan (unit ``chunk_id`` c covers
    gap px ``c*chunk_px`` up to ``(c+1)*chunk_px``). Packing: units
    sorted by gap px (largest first, ties by image_id then chunk_id)
    each go to the lightest bin (ties to the lowest bin), over at most
    ``slots`` bins — so the heaviest bin holds at most share + its
    last unit. An image whose chunks all landed in one bin becomes a
    whole unit again.

    Returns ``(bins, split)``: ``bins`` is a list of bins, each a list
    of ``(image_id, chunk_id)`` units with ``chunk_id`` None for a
    whole image; ``split`` is the set of images spread over several
    bins."""
    total = sum(gap_counts.values())
    share = -(-total // slots)
    units = []
    for image_id, g in gap_counts.items():
        if g <= share:
            units.append((g, image_id, None))
        else:
            units.extend((min(chunk_px, g - lo), image_id, lo // chunk_px)
                         for lo in range(0, g, chunk_px))
    units.sort(key=lambda u: (-u[0], u[1], -1 if u[2] is None else u[2]))
    loads = [(0, b) for b in range(min(slots, len(units)))]
    placed = [[] for _ in loads]
    homes: dict = {}
    for px, image_id, chunk_id in units:
        load, b = heapq.heappop(loads)
        placed[b].append((image_id, chunk_id))
        homes.setdefault(image_id, set()).add(b)
        heapq.heappush(loads, (load + px, b))
    split = {i for i, hs in homes.items() if len(hs) > 1}
    bins = []
    for units_b in placed:
        whole = list(dict.fromkeys(i for i, _ in units_b if i not in split))
        bins.append([(i, None) for i in whole]
                    + [(i, c) for i, c in units_b if i in split])
    return bins, split


def _plan_fill_batches(bc, method, predictor_configuration,
                       hyperparameters, params, chunk_px,
                       sv: Sentinels = DEFAULT_SENTINELS):
    """Fill the bins of ``plan_fill`` named by the ``id`` column (the
    bins ride the broadcast). Each unit fills slice by slice, at most
    ``chunk_px`` gap px per kernel call; a whole image leaves as a
    finished row, a chunk of a split image as a delta row
    (scan-ordered rows/cols/vals/scores). Each row leaves in its own
    frame: a task's output is never held whole, and no integer column
    mixes values and nulls (pandas would widen it to float64 and round
    the 64-bit phash)."""
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for b in pdf["id"]:
                for image_id, chunk_id in bc.value["bins"][int(b)]:
                    _payload, h, w, fmt, site, caption, planned = \
                        bc.value["inputs"][image_id]
                    check_payload_fmt(fmt, sv)
                    final = _bc_image(bc, image_id)
                    gaps = np.argwhere(final == sv.gap)
                    if len(gaps) != planned:
                        raise ValueError(
                            f"image {image_id!r}: {len(gaps)} gap px under "
                            f"gap={sv.gap}, but its gap_count column says "
                            f"{planned}; compute the stats columns with "
                            "stats.with_stats(key_values=...) using the "
                            "key_values passed here")
                    tensor, extra = _bc_tensors(bc, site)
                    whole = chunk_id is None
                    lo = 0 if whole else chunk_id * chunk_px
                    hi = len(gaps) if whole else min(lo + chunk_px, len(gaps))
                    filled = final.copy()
                    scores = []
                    for s in range(lo, hi, chunk_px):
                        e = min(s + chunk_px, hi)
                        part, sc = _fill_kernel(
                            final, tensor, extra, method,
                            predictor_configuration, hyperparameters, params,
                            seed=_stable_seed(image_id), gap_slice=(s, e),
                            sv=sv)
                        sel = gaps[s:e]
                        filled[sel[:, 0], sel[:, 1]] = part[sel[:, 0], sel[:, 1]]
                        scores.extend(sc)
                    if whole:
                        row = {k: [] for k in GAPFILL_SCHEMA.fieldNames()}
                        _append_filled(row, image_id, filled, fmt, w, h,
                                       caption, len(gaps), scores, sv)
                    else:
                        sel = gaps[lo:hi]
                        row = {
                            "image_id": [image_id], "chunk_id": [chunk_id],
                            "rows": [sel[:, 0].astype("<i4").tobytes()],
                            "cols": [sel[:, 1].astype("<i4").tobytes()],
                            "vals": [np.ascontiguousarray(
                                filled[sel[:, 0], sel[:, 1]], "<f8").tobytes()],
                            "scores": [np.array(scores, "<f8").tobytes()],
                        }
                    yield pd.DataFrame({k: row.get(k, [None])
                                        for k in _FILL_SCHEMA.fieldNames()})

    return fn


def _assemble_batches_fn(sv: Sentinels = DEFAULT_SENTINELS, bc=None):
    """Scatter each image's chunk deltas into its original raster and
    finish the row. The original comes from the row's own
    bytes/w/h/fmt/caption columns, or with ``bc`` from the balanced
    fill's broadcast; there a row whose ``done`` list holds the image's
    finished row (finished in its fill task) passes it through
    unchanged."""
    def _assemble_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in GAPFILL_SCHEMA.fieldNames()}
            for row in pdf.itertuples(index=False):
                if bc is None:
                    fmt, w, h, caption = row.fmt, row.w, row.h, row.caption
                    final = codecs.decode(row.bytes, int(h), int(w), fmt)
                elif len(row.done):
                    out["image_id"].append(row.image_id)
                    for k, v in row.done[0].items():
                        out[k].append(v)
                    continue
                else:
                    _p, h, w, fmt, _site, caption, _g = \
                        bc.value["inputs"][row.image_id]
                    final = _bc_image(bc, row.image_id)
                filled = final.copy()
                all_scores = []
                n_px = 0
                for ch in sorted(row.chunks, key=lambda c: c["chunk_id"]):
                    rs = np.frombuffer(ch["rows"], dtype="<i4")
                    cs = np.frombuffer(ch["cols"], dtype="<i4")
                    filled[rs, cs] = np.frombuffer(ch["vals"], dtype="<f8")
                    all_scores.append(np.frombuffer(ch["scores"], dtype="<f8"))
                    n_px += len(rs)
                scores = np.concatenate(all_scores) if all_scores else np.array([])
                _append_filled(out, row.image_id, filled, fmt, w, h, caption,
                               n_px, scores, sv)
            yield pd.DataFrame(out)

    return _assemble_batches


def gapfill_balanced(images: DataFrame, predictor_configuration: str = "Biome",
                     params: dict | None = None, min_valid: int = 101,
                     chunk_px: int = 512, method: str = "Knn",
                     hyperparameters: str = "Custom",
                     key_values: dict | None = None) -> DataFrame:
    """Skew-balanced gapfill in one wave of at most
    ``defaultParallelism`` Python tasks. The driver plans the wave from
    the ``gap_count`` column (``plan_fill``): images with at most a
    task's share of the gap px stay whole, only hot images split into
    ``chunk_px``-pixel chunks of their gap scan, and the units are
    packed by gap px into at most one bin per core. Each task fills its
    units at most ``chunk_px`` gap px per kernel call (which bounds the
    kernel's temporaries) and finishes every image that lies wholly in
    it. Per-pixel seeding makes the result bit-identical to
    ``gapfill``.

    Plan: side-input collects → broadcast → driver-built bin table
    (one row per task, no shuffle) → mapInPandas fill. Only when an
    image splits across tasks: ONE shuffle of the fill rows by
    image_id ((row, col, value) deltas of split images, ~20
    bytes/gap-pixel, beside the finished rows) → mapInPandas assemble
    of the split images.

    The planner trusts ``gap_count``: a fill task raises ValueError
    when an image's gap scan under ``key_values`` disagrees with it
    (stats computed with another encoding)."""
    sv = resolve_key_values(key_values)
    inputs = images.filter(F.col("role") == "input")
    viable = inputs.filter((F.col("valid_px") > min_valid) & (F.col("gap_count") > 0))
    passthrough = inputs.filter(
        (F.col("valid_px") > min_valid) & (F.col("gap_count") == 0)
    )

    # side inputs ride a Spark *broadcast variable*: per-site history
    # stacks + extra layer reach each executor once and decode once per
    # Python worker (module-level cache) — joining them onto every
    # task row would push multi-MB Arrow batches through the Python
    # pipe per task (measured 2.4× throughput loss). With millions of
    # sites this one-shot broadcast is replaced by the plain-join path
    # of ``gapfill`` or a per-tile history table.
    import uuid
    from concurrent.futures import ThreadPoolExecutor

    spark = images.sparkSession
    sc = spark.sparkContext
    # the three side-input collects are independent Spark jobs —
    # submit them concurrently so the driver waits for the slowest
    # one, not their sum (guide-standard driver-thread overlap)
    with ThreadPoolExecutor(max_workers=3) as pool:
        f_hist = pool.submit(
            lambda: pack_history(
                images.filter(F.col("role") == "history")).collect())
        f_extra = (pool.submit(
            lambda: pack_extra(
                images.filter(F.col("role") == "extra")).collect())
            if predictor_configuration == "Biome" else None)
        f_inputs = pool.submit(
            lambda: viable.select("image_id", "bytes", "h", "w", "fmt",
                                  "site", "caption", "gap_count").collect())
        hist_rows = f_hist.result()
        extra_rows = {}
        if f_extra is not None:
            extra_rows = {
                r["site"]: (bytes(r["extra_layer"]["bytes"]),
                            int(r["extra_layer"]["h"]),
                            int(r["extra_layer"]["w"]),
                            r["extra_layer"]["fmt"])
                for r in f_extra.result()
            }
        input_rows = f_inputs.result()
    site_map = {}
    for r in hist_rows:
        layers = [(l["ts"], bytes(l["bytes"]), int(l["h"]), int(l["w"]), l["fmt"])
                  for l in r["hist_layers"]]
        site_map[r["site"]] = (layers, extra_rows.get(r["site"]))
    # input payloads and the plan ride the broadcast too: the fill table
    # is then one bin id per task, so the Arrow pipes carry a few bytes
    # instead of a duplicated raster per chunk (a measured 3× JVM tax
    # at 32 workers). The collected set must fit the driver —
    # beyond that, use gapfill_balanced_checkpointed(batch_rows=...),
    # which bounds the collect to one batch per snapshot and unpersists
    # each batch's broadcast after commit. Call release_broadcasts()
    # after materializing this one-shot variant's output.
    input_map = {
        r["image_id"]: (bytes(r["bytes"]), int(r["h"]), int(r["w"]), r["fmt"],
                        r["site"], r["caption"], int(r["gap_count"]))
        for r in input_rows
    }

    pass_df = passthrough.select(
        "image_id", "bytes", "w", "h", "fmt", "caption", "phash",
        F.lit("passthrough").alias("status"),
        F.lit(0).alias("filled_px"),
        F.lit(0.0).alias("mean_cv_mae"),
    )
    if not input_map:
        return pass_df

    bins, split = plan_fill({i: m[6] for i, m in input_map.items()},
                            sc.defaultParallelism, chunk_px)
    bc = sc.broadcast({"gen": uuid.uuid4().hex, "sites": site_map,
                       "inputs": input_map, "bins": bins})
    _LIVE_BROADCASTS.append(bc)

    # one row per bin, one partition per row: one fill task per bin,
    # no exchange
    filled = spark.range(0, len(bins), 1, len(bins)).mapInPandas(
        _plan_fill_batches(bc, method, predictor_configuration,
                           hyperparameters, params, chunk_px, sv),
        _FILL_SCHEMA)
    if split:
        # finished rows ride inside an array: nested structs reach
        # pandas as dicts of exact Python values, top-level nullable
        # ints would arrive as float64
        is_delta = F.col("chunk_id").isNotNull()
        done = F.collect_list(F.when(~is_delta, F.struct(
            *GAPFILL_SCHEMA.fieldNames()[1:]))).alias("done")
        deltas = F.collect_list(F.when(is_delta, F.struct(
            *CHUNK_SCHEMA.fieldNames()[1:]))).alias("chunks")
        filled = filled.groupBy("image_id").agg(done, deltas) \
            .mapInPandas(_assemble_batches_fn(sv, bc), GAPFILL_SCHEMA)
    return filled.select(*GAPFILL_SCHEMA.fieldNames()).unionByName(pass_df)


def gapfill_balanced_checkpointed(images: DataFrame, table_path: str,
                                  batch_rows: int = 64,
                                  predictor_configuration: str = "Biome",
                                  params: dict | None = None,
                                  min_valid: int = 101,
                                  chunk_px: int = 512, method: str = "Knn",
                                  hyperparameters: str = "Custom",
                                  key_values: dict | None = None) -> list[str]:
    """THE 100 TB entry point for the balanced path: viable inputs are
    processed in bounded batches of ``batch_rows`` images — only one
    batch of input payloads is ever collected to the driver for the
    side-input broadcast, each batch commits as one resumable snapshot
    (io/images manifest), and the batch's broadcast is unpersisted as
    soon as its snapshot lands. ``gapfill_balanced`` itself keeps the
    one-shot shape for corpora that fit the driver; this wrapper is
    what a 10^12-row run uses (and what resumes after a crash: already
    committed image_ids are anti-joined away).

    Returns the committed snapshot ids; read the result with
    ``io.images.load(spark, table_path)``."""
    from ssgp_toolbox_spark.operators import checkpoint

    spark = images.sparkSession
    inputs = images.filter(F.col("role") == "input")
    side = images.filter(F.col("role") != "input")
    # targets = inputs the operator will actually emit (viable or
    # passthrough); non-viable ones are excluded by the operator and
    # must not count as "remaining" forever
    targets = inputs.filter(F.col("valid_px") > min_valid).select("image_id")

    def compute(todo: DataFrame) -> DataFrame:
        batch_inputs = inputs.join(todo.select("image_id"), "image_id")
        out = gapfill_balanced(
            side.unionByName(batch_inputs),
            predictor_configuration=predictor_configuration, params=params,
            min_valid=min_valid, chunk_px=chunk_px, method=method,
            hyperparameters=hyperparameters, key_values=key_values)
        return out

    sids = []
    while True:
        todo = checkpoint.remaining(targets, spark, table_path).limit(batch_rows)
        if todo.count() == 0:
            break
        from ssgp_toolbox_spark.io import images as img_io

        out = checkpoint.with_lineage(compute(todo), {
            "op": "gapfill_balanced", "method": method,
            "hyperparameters": hyperparameters, "chunk_px": chunk_px})
        sids.append(img_io.append_snapshot(out, table_path))
        release_broadcasts()  # snapshot committed → side inputs free
    return sids


def gapfill_sequential(images: DataFrame, method: str = "Lasso",
                       predictor_configuration: str = "Random",
                       hyperparameters: str = "RandomGridSearch",
                       params: dict | None = None,
                       min_valid: int = 101,
                       key_values: dict | None = None) -> DataFrame:
    """``add_outputs=True`` parity mode (gapfiller.py:788-790): layer
    *i*'s filled output joins the training history of layer *i+1* — a
    hard sequential dependency, so this is a **driver loop of one
    Spark job per input timestamp** (SURVEY.md §3 EP1 note: "Spark
    runs one job per input timestamp in that mode"), exactly like the
    reference's per-file loop. Each iteration is itself fully
    parallel across that timestamp's gap pixels via the balanced path
    when applicable.

    Returns the union of the per-timestamp fill results (ts order).
    """
    spark = images.sparkSession
    inputs = images.filter(F.col("role") == "input")
    ts_list = [r["ts"] for r in
               inputs.select("ts").distinct().orderBy("ts").collect()]
    extra_hist = images.filter(F.col("role") != "input")
    results = []
    grown = extra_hist
    for ts in ts_list:
        step_images = grown.unionByName(inputs.filter(F.col("ts") == ts))
        out = gapfill(step_images, method=method,
                      predictor_configuration=predictor_configuration,
                      hyperparameters=hyperparameters, params=params,
                      min_valid=min_valid, key_values=key_values)
        rows = out.collect()  # materialize: next step depends on it
        results.extend(rows)
        if rows:
            filled_df = spark.createDataFrame(rows, GAPFILL_SCHEMA)
            from ssgp_toolbox_spark.io.images import with_id_parts

            feedback = with_id_parts(
                filled_df.select("image_id", "bytes", "w", "h", "fmt",
                                 "caption", "phash")
            ).withColumn("role", F.lit("history"))
            from ssgp_toolbox_spark.operators.stats import with_stats

            grown = grown.unionByName(with_stats(feedback, key_values),
                                      allowMissingColumns=True)
    return spark.createDataFrame(results, GAPFILL_SCHEMA)


def fill_metrics(filled: DataFrame) -> DataFrame:
    """Per-image fill metrics + per-partition lineage (north_rule):
    which Spark partition produced each row, for resumable audit.
    Equivalent of the reference's Outputs/Metadata.json (S5,
    gapfiller.py:792-798) as a queryable table."""
    return filled.select(
        "image_id", "status", "filled_px", "mean_cv_mae",
        F.spark_partition_id().alias("partition_id"),
        F.current_timestamp().alias("computed_at"),
    )


def gapfill_sequential_checkpointed(images: DataFrame, table_path: str,
                                    method: str = "Lasso",
                                    predictor_configuration: str = "Random",
                                    hyperparameters: str = "RandomGridSearch",
                                    params: dict | None = None,
                                    min_valid: int = 101,
                                    key_values: dict | None = None) -> DataFrame:
    """``gapfill_sequential`` without driver-side accumulation: each
    timestamp's output is committed as a DETERMINISTIC snapshot
    (``seq-<ts>``) and the next step's feedback history is read back
    from the table — step results never sit in driver memory, and the
    sequence is RESUMABLE: on restart, committed timestamps are
    skipped and their snapshots feed the next uncommitted step
    (the add_outputs chain reconstructed from the manifest list).

    Bit-identical to ``gapfill_sequential`` (same per-image seeds;
    the f64 payload round-trips parquet losslessly). Returns the
    union of the sequence's snapshots in GAPFILL_SCHEMA."""
    from ssgp_toolbox_spark.io import images as img_io
    from ssgp_toolbox_spark.operators.stats import with_stats

    spark = images.sparkSession
    inputs = images.filter(F.col("role") == "input")
    ts_list = [r["ts"] for r in
               inputs.select("ts").distinct().orderBy("ts").collect()]
    committed = {s["snapshot_id"] for s in img_io.snapshots(table_path)}
    out_cols = [f.name for f in GAPFILL_SCHEMA.fields]

    def sid_of(ts) -> str:
        return "seq-" + ts.strftime("%Y%m%dT%H%M%S")

    def snapshot_df(sid: str) -> DataFrame:
        data_dir = [s["data_dir"] for s in img_io.snapshots(table_path)
                    if s["snapshot_id"] == sid][0]
        return spark.read.parquet(data_dir)

    grown = images.filter(F.col("role") != "input")
    for ts in ts_list:
        sid = sid_of(ts)
        if sid not in committed:
            step = grown.unionByName(inputs.filter(F.col("ts") == ts),
                                     allowMissingColumns=True)
            out = gapfill(step, method=method,
                          predictor_configuration=predictor_configuration,
                          hyperparameters=hyperparameters, params=params,
                          min_valid=min_valid, key_values=key_values)
            img_io.append_snapshot(out.select(*out_cols), table_path, sid)
            committed.add(sid)
        feedback = with_stats(img_io.with_id_parts(
            snapshot_df(sid).select(*out_cols)
            .select("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
        ).withColumn("role", F.lit("history")), key_values)
        grown = grown.unionByName(feedback, allowMissingColumns=True)

    result = None
    for ts in ts_list:
        df = snapshot_df(sid_of(ts)).select(*out_cols)
        result = df if result is None else result.unionByName(df)
    return result if result is not None else \
        spark.createDataFrame([], GAPFILL_SCHEMA)
