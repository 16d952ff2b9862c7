"""Flagship operator: per-pixel ML gap fill (reference EP1).

``SimpleSpatialGapfiller.fill_gaps`` (gapfiller.py:801-899) re-planned
for Spark:

reference (eager, per input file)          this engine (one planned wave)
-----------------------------------       ---------------------------------
re-scan History/ per input (S1)           one scan of history, extra and
load Extra.npy (S3)                       viable input rows → driver
for file in Inputs/: viability F2/F3      builds sorted per-site stacks
                                          (viability = Catalyst filters
                                          on the stats columns)
thread pool over gap pixels               driver packs gap px into <= one
                                          task per core → **mapInPandas**
np.save + Metadata.json (S4/S5)           snapshot append + metrics columns

Plan of ``gapfill``: one collect of the history, extra (Biome only)
and viable input rows — one job, no exchange — from which the driver
builds each site's time-sorted stack; ``plan_fill`` bins the images by
``gap_count`` on the driver; one fill ``mapInPandas`` wave of at most
``defaultParallelism`` tasks runs the bins. Skew = images with many
gap px: only a hot image splits across tasks, and only then does a
shuffle of its deltas feed an assemble stage. A Python UDF plan costs
mostly what its task count and Arrow traffic cost, so the plan counts
tasks, not join shapes.

Past what the driver can collect: ``operators/deep_gapfill.py`` runs
on this planner (the same side-input collect and ``plan_fill``) but
never collects a history layer; corpora with too many inputs go
through ``gapfill_balanced_checkpointed`` (bounded batches).
The one join-shaped fill left is the stream-static join of
``streaming/gapfill_stream.py`` (``_fill_batches``).

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
from ssgp_toolbox_spark.kernels import batch
from ssgp_toolbox_spark.sentinels import (DEFAULT_SENTINELS, Sentinels,
                                          check_gap_count, check_payload_fmt,
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


def _stable_seed(image_id: str) -> int:
    return zlib.crc32(image_id.encode()) & 0x7FFFFFFF


_MANY_EXTRAS = ("site '%s' has more than one role='extra' row; a site "
                "needs exactly one extra (biome) layer")


def pack_history(history: DataFrame) -> DataFrame:
    """One row per site: chronologically sorted temporal stack
    (reference O1 sort, gapfiller.py:91 + tensor build 846-848; ts ties
    by the layer's image_id, as the reference sorts file names), one
    groupBy(site) shuffle — the static side of the stream-static join
    (streaming/gapfill_stream.py). ``gapfill`` builds the same stacks
    on the driver from one scan (``_collect_side_inputs``)."""
    layer = F.struct("ts", "image_id", "bytes", "h", "w", "fmt")
    return history.groupBy("site").agg(
        F.sort_array(F.collect_list(layer)).alias("hist_layers")
    )


def pack_extra(extras: DataFrame) -> DataFrame:
    """One row per site: its one ``role='extra'`` layer. A site with
    more than one extra row fails the query, naming the site, as
    ``_collect_side_inputs`` raises for ``gapfill``: the reference
    loads exactly one ``Extra/Extra.npy`` (gapfiller.py:830-835)."""
    layer = F.struct("bytes", "h", "w", "fmt")
    packed = extras.groupBy("site").agg(
        F.count(F.lit(1)).alias("n_extra"), F.first(layer).alias("extra_layer"))
    one = F.when(F.col("n_extra") > 1, F.raise_error(F.format_string(
        _MANY_EXTRAS, F.col("site")))).otherwise(F.col("extra_layer"))
    return packed.select("site", one.alias("extra_layer"))


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
    """Whole-image fill of rows joined with their site's packed stack
    (streaming/gapfill_stream.py)."""
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
                gaps = np.argwhere(final == sv.gap)
                filled, scores = batch.fill_image(
                    final, tensor, extra, method, predictor_configuration,
                    hyperparameters, params, seed=_stable_seed(row.image_id),
                    gaps=gaps, sv=sv,
                )
                _append_filled(out, row.image_id, filled, row.fmt, row.w,
                               row.h, row.caption, len(gaps), scores, sv)
            yield pd.DataFrame(out)

    return fn


CHUNK_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType()),
    T.StructField("chunk_id", T.IntegerType()),
    T.StructField("rows", T.BinaryType()),    # int32 LE gap-pixel rows
    T.StructField("cols", T.BinaryType()),    # int32 LE gap-pixel cols
    T.StructField("vals", T.BinaryType()),    # f64 LE filled values
    T.StructField("scores", T.BinaryType()),  # f64 LE per-pixel |CV-MAE|
])

# fill-stage rows: a finished image fills the GAPFILL_SCHEMA
# columns (chunk columns null), a chunk of a split image fills
# image_id + the CHUNK_SCHEMA columns (the rest null)
_FILL_SCHEMA = T.StructType(GAPFILL_SCHEMA.fields + CHUNK_SCHEMA.fields[1:])


def release_broadcasts() -> int:
    """Kept for callers of the former broadcast registry: ``gapfill``
    ships its inputs in the task closures, whose broadcast (if
    PySpark makes one) lives only as long as the plan. Releases
    nothing and returns 0."""
    return 0


def plan_fill(gap_counts: dict, slots: int, chunk_px: int):
    """Driver-side plan of the ``gapfill`` wave, from the images'
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


def _plan_fill_batches(plan, method, predictor_configuration,
                       hyperparameters, params, chunk_px,
                       sv: Sentinels = DEFAULT_SENTINELS):
    """Fill the bins of ``plan_fill`` named by the ``id`` column; the
    bins, input payloads and site stacks ride in ``plan``, captured by
    the task closure. A task fills its units sorted by (site, image_id,
    chunk_id) and decodes a site's stack or an input only when it
    changes, so one of each is live at a time. Each unit fills slice
    by slice, at most ``chunk_px`` gap px per kernel call; a whole
    image leaves as a finished row, a chunk of a split image as a
    delta row (scan-ordered rows/cols/vals/scores). Each row leaves in
    its own frame: a task's output is never held whole, and no integer
    column mixes values and nulls (pandas would widen it to float64
    and round the 64-bit phash)."""
    inputs, sites = plan["inputs"], plan["sites"]

    def unit_key(unit):
        image_id, chunk_id = unit
        return (inputs[image_id][4], image_id,
                -1 if chunk_id is None else chunk_id)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cur_site = cur_image = None
        for pdf in batches:
            for b in pdf["id"]:
                for image_id, chunk_id in sorted(plan["bins"][int(b)],
                                                 key=unit_key):
                    payload, h, w, fmt, site, caption, planned = \
                        inputs[image_id]
                    if image_id != cur_image:
                        check_payload_fmt(fmt, sv)
                        final = codecs.decode(payload, h, w, fmt)
                        gaps = np.argwhere(final == sv.gap)
                        check_gap_count(image_id, len(gaps), planned, sv)
                        cur_image = image_id
                    if site != cur_site:
                        hist_layers, extra_layer = sites[site]
                        tensor = np.stack([codecs.decode(*l)
                                           for l in hist_layers]) \
                            if hist_layers else None
                        extra = codecs.decode(*extra_layer) \
                            if extra_layer else None
                        cur_site = site
                    whole = chunk_id is None
                    lo = 0 if whole else chunk_id * chunk_px
                    hi = len(gaps) if whole else min(lo + chunk_px, len(gaps))
                    filled = final.copy()
                    scores = []
                    for s in range(lo, hi, chunk_px):
                        sel = gaps[s:min(s + chunk_px, hi)]
                        part, sc = batch.fill_image(
                            final, tensor, extra, method,
                            predictor_configuration, hyperparameters, params,
                            seed=_stable_seed(image_id), gaps=sel, sv=sv)
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


def _assemble_batches_fn(originals: dict, sv: Sentinels = DEFAULT_SENTINELS):
    """Scatter each image's ``chunks`` deltas into its original raster
    and finish the row; the originals (image_id → the input tuple of
    ``_collect_side_inputs``) ride in the task closure. A row of an
    image outside ``originals`` holds in ``done`` the row its fill task
    finished, and passes it through unchanged."""
    def _assemble_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in GAPFILL_SCHEMA.fieldNames()}
            for row in pdf.itertuples(index=False):
                if row.image_id not in originals:
                    out["image_id"].append(row.image_id)
                    for k, v in row.done[0].items():
                        out[k].append(v)
                    continue
                payload, h, w, fmt, _site, caption, _planned = \
                    originals[row.image_id]
                final = codecs.decode(payload, h, w, fmt)
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


def _nulls_first(values) -> tuple:
    """Sort key of ``sort_array`` ascending over a struct: field by
    field, nulls first."""
    return tuple((v is not None, v) for v in values)


def _collect_side_inputs(images: DataFrame, viable, biome: bool):
    """Everything the fill wave needs on the driver, from ONE collect of
    ``images`` filtered to history rows, extra rows (Biome only) and
    the rows matched by the ``viable`` input condition: one job, no
    exchange.

    Returns ``(sites, inputs)``: ``sites`` maps a site to
    ``(history layers, extra layer)`` with each layer a
    ``(payload, h, w, fmt)`` tuple and the history in
    ``pack_history``'s order (ts ascending, nulls first, ties by the
    layer's image_id); a history payload that ``images`` holds as null
    stays None. ``inputs`` maps an image_id to ``(payload, h, w, fmt,
    site, caption, gap_count)``. A site enters only with history rows,
    and under Biome only with its extra layer; the inputs of other
    sites are dropped — there is nothing to train on. A site with more
    than one extra row raises ValueError: the reference loads exactly
    one ``Extra/Extra.npy`` (gapfiller.py:830-835)."""
    side = F.col("role") == "history"
    if biome:
        side = side | (F.col("role") == "extra")
    rows = images.filter(side | viable).select(
        "role", "site", "image_id", F.unix_micros("ts").alias("ts"),
        "bytes", "h", "w", "fmt", "caption", "gap_count").collect()
    history: dict = {}
    extras: dict = {}
    for r in rows:
        if r["role"] == "history":
            p = r["bytes"]
            history.setdefault(r["site"], []).append(
                (r["ts"], r["image_id"], None if p is None else bytes(p),
                 r["h"], r["w"], r["fmt"]))
        elif r["role"] == "extra":
            if r["site"] in extras:
                raise ValueError(_MANY_EXTRAS % r["site"])
            extras[r["site"]] = (bytes(r["bytes"]), int(r["h"]),
                                 int(r["w"]), r["fmt"])
    sites = {}
    for site, layers in history.items():
        if biome and site not in extras:
            continue
        layers.sort(key=_nulls_first)
        sites[site] = ([(p, int(h), int(w), fmt)
                        for _, _, p, h, w, fmt in layers], extras.get(site))
    inputs = {
        r["image_id"]: (bytes(r["bytes"]), int(r["h"]), int(r["w"]), r["fmt"],
                        r["site"], r["caption"], int(r["gap_count"]))
        for r in rows if r["role"] == "input" and r["site"] in sites
    }
    return sites, inputs


def _passthrough(images: DataFrame, kept) -> DataFrame:
    """The rows matched by ``kept`` that have no gaps, as finished
    GAPFILL_SCHEMA rows with status 'passthrough' and metric 0.0
    (gapfiller.py:862-873)."""
    return images.filter(kept & (F.col("gap_count") == 0)).select(
        "image_id", "bytes", "w", "h", "fmt", "caption", "phash",
        F.lit("passthrough").alias("status"),
        F.lit(0).alias("filled_px"),
        F.lit(0.0).alias("mean_cv_mae"),
    )


def gapfill(images: DataFrame, method: str = "Lasso",
            predictor_configuration: str = "Random",
            hyperparameters: str = "RandomGridSearch",
            params: dict | None = None, min_valid: int = 101,
            key_values: dict | None = None,
            chunk_px: int = 512) -> DataFrame:
    """Fill all ``role='input'`` images of every site. ``images`` must
    carry (site, role, ts) id parts and the stats columns
    (operators.stats.with_stats).

    Output: GAPFILL_SCHEMA; passthrough images (no gaps) come through
    with status='passthrough' and metric 0.0 (gapfiller.py:862-873);
    non-viable images (valid_px <= ``min_valid``) are *excluded*, like
    the reference's ``continue`` (gapfiller.py:856-861), and so is an
    image with gaps whose site has no history rows (or, under Biome,
    no extra layer): there is nothing to train on.

    ``key_values``: optional sentinel-encoding override, the
    reference's ``fill_gaps(..., key_values=...)`` parameter
    (gapfiller.py:826-828) — a dict with any of 'gap', 'skip',
    'NoData'. The stats columns must have been computed with the SAME
    encoding: the planner trusts ``gap_count``, and a fill task raises
    ValueError when an image's gap scan disagrees with it.

    Plan: one side-input collect (history, extra and viable input
    rows in one job, no exchange) → ``plan_fill`` bins (at most
    ``defaultParallelism``; images with at most a task's share of the
    gap px stay whole, hot images split into ``chunk_px`` chunks of
    their gap scan) → one mapInPandas fill wave, no exchange. Only when
    an image splits: ONE shuffle of its (row, col, value) deltas,
    ~20 bytes/gap px, beside the finished rows → mapInPandas assemble.
    A kernel call (``batch.fill_image``, the one entry for every
    method: batched predictor selection, the keyed frame, then the
    method's core) fills at most ``chunk_px`` gap px, which bounds its
    temporaries; per-pixel seeding makes the result bit-identical to a
    whole-image fill.

    Stacks, payloads and bins ride in the fill task closure, the split
    images' originals in the assemble closure; PySpark broadcasts a
    UDF command over ``spark.broadcast.UDFCompressionThreshold`` (1 MiB)
    for the life of the plan, so nothing is left to release. The
    collected set must fit the driver: histories too deep for that go
    through ``deep_gapfill.gapfill_deep``, which collects the viable
    inputs the same way but never a history layer; too many inputs go
    through ``gapfill_balanced_checkpointed(batch_rows=...)``."""
    sv = resolve_key_values(key_values)
    kept = (F.col("role") == "input") & (F.col("valid_px") > min_valid)
    # side inputs ride in the task closure, not as join columns:
    # joining the stacks onto every task row would push multi-MB Arrow
    # batches through the Python pipe per task (measured 2.4×
    # throughput loss), and with the payloads in the closure the fill
    # table is one bin id per task (a duplicated raster per chunk was a
    # measured 3× JVM tax at 32 workers)
    site_map, input_map = _collect_side_inputs(
        images, kept & (F.col("gap_count") > 0),
        predictor_configuration == "Biome")
    pass_df = _passthrough(images, kept)
    if not input_map:
        return pass_df

    spark = images.sparkSession
    bins, split = plan_fill({i: m[6] for i, m in input_map.items()},
                            spark.sparkContext.defaultParallelism, chunk_px)
    plan = {"sites": site_map, "inputs": input_map, "bins": bins}

    # one row per bin, one partition per row: one fill task per bin,
    # no exchange
    filled = spark.range(0, len(bins), 1, len(bins)).mapInPandas(
        _plan_fill_batches(plan, method, predictor_configuration,
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
        originals = {i: input_map[i] for i in split}
        filled = filled.groupBy("image_id").agg(done, deltas) \
            .mapInPandas(_assemble_batches_fn(originals, sv), GAPFILL_SCHEMA)
    return filled.select(*GAPFILL_SCHEMA.fieldNames()).unionByName(pass_df)


def gapfill_balanced(images: DataFrame, predictor_configuration: str = "Biome",
                     params: dict | None = None, min_valid: int = 101,
                     chunk_px: int = 512, method: str = "Knn",
                     hyperparameters: str = "Custom",
                     key_values: dict | None = None) -> DataFrame:
    """``gapfill`` with Knn / Biome / Custom defaults (the name of the
    former second plan, kept for its callers)."""
    return gapfill(images, method, predictor_configuration, hyperparameters,
                   params, min_valid, key_values, chunk_px)


def gapfill_balanced_checkpointed(images: DataFrame, table_path: str,
                                  batch_rows: int = 64,
                                  predictor_configuration: str = "Biome",
                                  params: dict | None = None,
                                  min_valid: int = 101,
                                  chunk_px: int = 512, method: str = "Knn",
                                  hyperparameters: str = "Custom",
                                  key_values: dict | None = None) -> list[str]:
    """``gapfill`` for corpora too large to collect: inputs are
    processed in bounded batches of ``batch_rows`` images — only one
    batch of input payloads, and the stacks of that batch's sites
    only, is ever collected to the driver for the task closures, and
    each batch commits as one resumable snapshot (io/images manifest)
    (``checkpoint.run_checkpointed`` runs the loop). This wrapper is
    what a 10^12-row run uses (and what resumes after a crash: already
    committed image_ids are anti-joined away); ``gapfill`` itself
    collects the whole corpus in one shot. Defaults are Knn / Biome /
    Custom, as for ``gapfill_balanced``.

    Returns the committed snapshot ids; read the result with
    ``io.images.load(spark, table_path)``."""
    from ssgp_toolbox_spark.operators import checkpoint

    inputs = images.filter(F.col("role") == "input")
    side = images.filter(F.col("role") != "input")
    # targets = inputs ``gapfill`` will emit (passthrough, or viable
    # with a stack, and an extra layer under Biome); the rest must not
    # count as "remaining" forever
    stacked = side.filter(F.col("role") == "history").select("site")
    if predictor_configuration == "Biome":
        stacked = stacked.join(side.filter(F.col("role") == "extra"),
                               "site", "left_semi")
    emitted = inputs.filter(F.col("valid_px") > min_valid)
    targets = emitted.filter(F.col("gap_count") == 0).unionByName(
        emitted.join(stacked, "site", "left_semi")
        .filter(F.col("gap_count") > 0)).select("image_id")

    def compute(todo: DataFrame) -> DataFrame:
        batch_inputs = inputs.join(todo.select("image_id"), "image_id")
        batch_side = side.join(batch_inputs.select("site").distinct(),
                               "site", "left_semi")
        return gapfill(
            batch_side.unionByName(batch_inputs), method=method,
            predictor_configuration=predictor_configuration,
            hyperparameters=hyperparameters, params=params,
            min_valid=min_valid, key_values=key_values, chunk_px=chunk_px)

    return checkpoint.run_checkpointed(
        targets, compute, images.sparkSession, table_path,
        {"op": "gapfill_balanced", "method": method,
         "hyperparameters": hyperparameters, "chunk_px": chunk_px},
        batch_rows)


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
    reference's per-file loop. Each iteration is one ``gapfill`` call,
    parallel across that timestamp's inputs.

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
