"""Tiled ML gapfill — the 10^12-scale path (SURVEY.md J3/M2).

``gapfill`` still ships whole images + whole history stacks
to each task; beyond ~10^4×10^4 px that cannot fit a task. This
operator implements the north-star structure instead: every layer
(input, history, extra) is exploded into **halo'd tile windows**, all
layers of a tile are **co-partitioned by the tile key** (one shuffle
— the cell co-partitioning of SURVEY J3), and each group fills its
core gap pixels with the kNN kernel against the *window-local*
temporal stack.

Semantics vs the whole-image reference path:
- Biome kNN predictors are selected within the window. The fill for a
  pixel is **exactly** the whole-image result whenever its 40th
  same-biome neighbor lies inside the window; a pixel whose 40th
  neighbor lies beyond the window edge is filled from the window's
  candidates instead. With halo ≥ the biome 40-NN radius
  (≈ 2·sqrt(40/πρ) pixels) every pixel is exact and the operator is
  bit-identical to ``gapfill``.
- 'Random'/'All' configurations are inherently whole-image and are
  not offered here (use gapfill).

Memory per task: (tile+2·halo)² × (layers+2) float64 — bounded by
construction, independent of raster size.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ssgp_toolbox_spark import codecs, tiling
from ssgp_toolbox_spark.kernels import batch as batch_kernel
from ssgp_toolbox_spark.operators.gapfill import GAPFILL_SCHEMA, _stable_seed
from ssgp_toolbox_spark.sentinels import (DEFAULT_SENTINELS, Sentinels,
                                          check_payload_fmt,
                                          resolve_key_values)

_TILE_LAYER_SCHEMA = T.StructType(
    [T.StructField("image_id", T.StringType()),
     T.StructField("site", T.StringType()),
     T.StructField("role", T.StringType()),
     T.StructField("ts", T.TimestampType()),
     T.StructField("w", T.IntegerType()), T.StructField("h", T.IntegerType()),
     T.StructField("fmt", T.StringType()),
     T.StructField("caption", T.StringType()),
     T.StructField("phash", T.LongType())]
    + [f for f in tiling.TILE_SCHEMA.fields if f.name != "image_id"]
)


def _explode(tile: int, halo: int, sv: Sentinels = DEFAULT_SENTINELS):
    def fn(batches):
        for pdf in batches:
            outs = []
            for row in pdf.itertuples(index=False):
                # custom sentinel encodings on a lossy payload would
                # decode to the DEFAULT codes and silently fill nothing
                check_payload_fmt(row.fmt, sv)
                m = codecs.decode(row.bytes, int(row.h), int(row.w), row.fmt)
                t = tiling.explode_tiles_pdf(row.image_id, m, tile, halo)
                for col, val in (("site", row.site), ("role", row.role),
                                 ("ts", row.ts), ("w", row.w), ("h", row.h),
                                 ("fmt", row.fmt), ("caption", row.caption),
                                 ("phash", row.phash)):
                    t[col] = val
                outs.append(t)
            yield (pd.concat(outs)[_TILE_LAYER_SCHEMA.fieldNames()]
                   if outs else pd.DataFrame(columns=_TILE_LAYER_SCHEMA.fieldNames()))

    return fn


_FILL_TILE_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType()),
    T.StructField("site", T.StringType()),
    T.StructField("w", T.IntegerType()), T.StructField("h", T.IntegerType()),
    T.StructField("fmt", T.StringType()),
    T.StructField("caption", T.StringType()),
    T.StructField("phash", T.LongType()),
    T.StructField("tx", T.IntegerType()), T.StructField("ty", T.IntegerType()),
    T.StructField("row0", T.IntegerType()), T.StructField("col0", T.IntegerType()),
    T.StructField("core_h", T.IntegerType()), T.StructField("core_w", T.IntegerType()),
    T.StructField("halo", T.IntegerType()),
    T.StructField("prow0", T.IntegerType()), T.StructField("pcol0", T.IntegerType()),
    T.StructField("ph", T.IntegerType()), T.StructField("pw", T.IntegerType()),
    T.StructField("tile_bytes", T.BinaryType()),
    T.StructField("scores", T.BinaryType()),
])


def _fill_tile_group(params, sv: Sentinels = DEFAULT_SENTINELS):
    k = int((params or {}).get("n_neighbors", 5))
    weights = (params or {}).get("weights", "uniform")

    def fn(key, pdf: pd.DataFrame) -> pd.DataFrame:
        hist = pdf[pdf.role == "history"].sort_values("ts")
        extra_rows = pdf[pdf.role == "extra"]
        out_rows = []
        for inp in pdf[pdf.role == "input"].itertuples(index=False):
            win = np.frombuffer(inp.tile_bytes, dtype="<f8").reshape(inp.ph, inp.pw).copy()
            tensor = np.stack([
                np.frombuffer(r.tile_bytes, dtype="<f8").reshape(r.ph, r.pw)
                for r in hist.itertuples(index=False)
            ])
            ex = extra_rows.iloc[0]
            extra = np.frombuffer(ex.tile_bytes, dtype="<f8").reshape(ex.ph, ex.pw)
            # core gap pixels in window coordinates
            ri = inp.row0 - inp.prow0
            ci = inp.col0 - inp.pcol0
            core_mask = np.zeros_like(win, dtype=bool)
            core_mask[ri : ri + inp.core_h, ci : ci + inp.core_w] = True
            gaps_all = np.argwhere(win == sv.gap)
            in_core = core_mask[gaps_all[:, 0], gaps_all[:, 1]]
            filled = win.copy()
            scores = []
            if in_core.any():
                # window-local fill of the core gaps only (halo gaps
                # belong to the neighboring tiles' cores); per-pixel
                # seeds keyed by ABSOLUTE pixel coords (coord_offset)
                # so tiling does not change the seed
                sub = gaps_all[in_core]
                f, scores = batch_kernel.fill_image(
                    win, tensor, extra=extra, method="Knn",
                    predictor_configuration="Biome",
                    hyperparameters="Custom",
                    params={"n_neighbors": k, "weights": weights},
                    seed=_stable_seed(inp.image_id),
                    gaps=sub,
                    coord_offset=(int(inp.prow0), int(inp.pcol0)),
                    sv=sv,
                )
                filled[sub[:, 0], sub[:, 1]] = f[sub[:, 0], sub[:, 1]]
            row = {f: getattr(inp, f) for f in
                   ("image_id", "site", "w", "h", "fmt", "caption", "phash",
                    "tx", "ty", "row0", "col0", "core_h", "core_w", "halo",
                    "prow0", "pcol0", "ph", "pw")}
            row["tile_bytes"] = np.ascontiguousarray(filled, "<f8").tobytes()
            row["scores"] = np.array(scores, "<f8").tobytes()
            out_rows.append(row)
        return pd.DataFrame(out_rows, columns=_FILL_TILE_SCHEMA.fieldNames())

    return fn


def _assemble_fn(sv: Sentinels = DEFAULT_SENTINELS):
  def _assemble(key, pdf: pd.DataFrame) -> pd.DataFrame:
    h, w = int(pdf["h"].iloc[0]), int(pdf["w"].iloc[0])
    fmt = pdf["fmt"].iloc[0]
    m = tiling.assemble_from_tiles(pdf, h, w)
    scores = np.concatenate([
        np.frombuffer(b, dtype="<f8") for b in
        pdf.sort_values(["ty", "tx"])["scores"]
    ]) if len(pdf) else np.array([])
    return pd.DataFrame([{
        "image_id": key[0],
        "bytes": codecs.encode(m, fmt),
        "w": w, "h": h, "fmt": fmt,
        "caption": pdf["caption"].iloc[0],
        "phash": codecs.phash64(m, sv.gap, sv.skip, sv.nodata),
        "status": "filled",
        "filled_px": int(len(scores)),
        "mean_cv_mae": float(scores.mean()) if len(scores) else float("nan"),
    }])

  return _assemble


def tiled_gapfill(images: DataFrame, tile: int = 64, halo: int = 32,
                  params: dict | None = None,
                  key_values: dict | None = None) -> DataFrame:
    """Biome-mode kNN gapfill over cell co-partitioned tile windows.
    ``images`` must carry id parts; history/extra roles are exploded
    alongside inputs. Returns GAPFILL_SCHEMA."""
    sv = resolve_key_values(key_values)
    cols = ["image_id", "site", "role", "ts", "bytes", "w", "h", "fmt",
            "caption", "phash"]
    tiles = images.select(*cols).mapInPandas(_explode(tile, halo, sv),
                                             _TILE_LAYER_SCHEMA)
    filled_tiles = tiles.groupBy("site", "tx", "ty").applyInPandas(
        _fill_tile_group(params, sv), _FILL_TILE_SCHEMA
    )
    return filled_tiles.groupBy("image_id").applyInPandas(
        _assemble_fn(sv), GAPFILL_SCHEMA)
