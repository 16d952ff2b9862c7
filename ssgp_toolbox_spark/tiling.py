"""H3/S2-style hierarchical tile index + pixel tile explode.

The h3 library is not available in this sandbox, so the engine ships
its own deterministic cell index (same role as H3: fixed discrete
global grid, parent/child hierarchy, k-ring neighborhoods):

- **Global cells**: equirectangular quadtree. At resolution ``r`` the
  world is a ``2^r × 2^(r+1)`` (lat × lon) grid; a cell id packs
  ``(r, y, x)`` into an int64. Pure arithmetic → vectorizable with
  Spark built-ins or numpy, no Python-per-row.
- **grid_disk(cell, k)**: all cells within Chebyshev distance k
  (lon wraps, lat clamps) — the ring-neighbor halo join key set
  (SURVEY.md J3: kNN candidates restricted to same cell + ring-1).
- **Pixel tiles**: per-image fixed blocks ``tile = (tx, ty)`` of size
  ``T``. ``explode_tiles_pdf`` fans an image out into tile rows (the
  unit of discretize's tiled fill stage and of the per-tile NetCDF
  sink) and ``assemble_from_tiles`` stitches them back.

UTM-zone arithmetic (reference C3, S3_L2_LST.py:66-88 duplicated in
both MODIS preparators) is reproduced as a pure column expression.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_RES = 29  # 2^29 lat cells ≈ 2 cm at the equator; id fits int64


# ------------------------------------------------------------ global cells


def latlon_to_cell(lat, lon, res: int):
    """Vectorized (numpy or scalar) cell id at resolution ``res``.
    id = (res << 59) | (y << 30) | x with y ∈ [0, 2^res), x ∈ [0, 2^(res+1))."""
    if res < 0 or res > MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}]")
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    ny = np.int64(1) << res
    nx = ny << 1
    y = np.clip(((lat + 90.0) / 180.0 * ny).astype(np.int64), 0, ny - 1)
    x = np.clip(((lon + 180.0) / 360.0 * nx).astype(np.int64), 0, nx - 1)
    return (np.int64(res) << np.int64(59)) | (y << np.int64(30)) | x


def cell_res(cell) -> np.ndarray:
    return (np.asarray(cell, dtype=np.int64) >> 59) & 0x1F


def cell_yx(cell):
    c = np.asarray(cell, dtype=np.int64)
    return (c >> np.int64(30)) & np.int64((1 << 29) - 1), c & np.int64((1 << 30) - 1)


def cell_to_parent(cell, parent_res: int):
    c = np.asarray(cell, dtype=np.int64)
    res = cell_res(c)
    y, x = cell_yx(c)
    shift = (res - parent_res).astype(np.int64)
    if np.any(shift < 0):
        raise ValueError("parent_res must be <= cell res")
    return (np.int64(parent_res) << np.int64(59)) | ((y >> shift) << np.int64(30)) | (x >> shift)


def grid_disk(cell: int, k: int = 1) -> list[int]:
    """All cells within Chebyshev distance k (incl. self). Longitude
    wraps around the antimeridian; latitude rows clamp at the poles."""
    cell = int(cell)
    res = int(cell_res(cell))
    y0, x0 = (int(v) for v in cell_yx(cell))
    ny = 1 << res
    nx = ny << 1
    out = []
    for dy in range(-k, k + 1):
        y = y0 + dy
        if y < 0 or y >= ny:
            continue
        for dx in range(-k, k + 1):
            x = (x0 + dx) % nx
            out.append((res << 59) | (y << 30) | x)
    return out


def cell_expr(lat_col: str, lon_col: str, res: int):
    """The same cell id as a pure Catalyst column expression (stays in
    whole-stage codegen — no UDF)."""
    ny = 1 << res
    nx = ny << 1
    y = F.least(F.lit(ny - 1), F.greatest(F.lit(0), F.floor((F.col(lat_col) + 90.0) / 180.0 * ny)))
    x = F.least(F.lit(nx - 1), F.greatest(F.lit(0), F.floor((F.col(lon_col) + 180.0) / 360.0 * nx)))
    return (F.lit(res).cast("long") * F.lit(1 << 59).cast("long")
            + y.cast("long") * F.lit(1 << 30).cast("long") + x.cast("long"))


def utm_zone_expr(lon_col: str, lat_col: str):
    """UTM EPSG code from a lon/lat centroid — reference C3 arithmetic
    (S3_L2_LST.py:66-88): zone = int(((lon+180)/6) % 60) + 1, base
    32600 north / 32700 south."""
    zone = (F.floor((F.col(lon_col) + 180.0) / 6.0) % 60 + 1).cast("int")
    return F.when(F.col(lat_col) >= 0, zone + 32600).otherwise(zone + 32700)


# ------------------------------------------------------------ pixel tiles


def n_tiles(h: int, w: int, tile: int) -> tuple[int, int]:
    return (h + tile - 1) // tile, (w + tile - 1) // tile


def tile_bounds(h: int, w: int, tile: int):
    """Deterministic tile grid for an (h, w) image: yields
    (tx, ty, row0, col0, core_h, core_w)."""
    tys, txs = n_tiles(h, w, tile)
    for ty in range(tys):
        for tx in range(txs):
            row0, col0 = ty * tile, tx * tile
            yield (tx, ty, row0, col0, min(tile, h - row0), min(tile, w - col0))


def explode_tiles_pdf(image_id: str, matrix: np.ndarray, tile: int) -> pd.DataFrame:
    """One image → tile rows (pandas side, called inside mapInPandas)."""
    h, w = matrix.shape
    rows = []
    for (tx, ty, row0, col0, ch, cw) in tile_bounds(h, w, tile):
        block = np.ascontiguousarray(
            matrix[row0 : row0 + ch, col0 : col0 + cw], dtype="<f8"
        )
        rows.append({
            "image_id": image_id, "tx": tx, "ty": ty, "row0": row0,
            "col0": col0, "core_h": ch, "core_w": cw,
            "tile_bytes": block.tobytes(),
        })
    return pd.DataFrame(rows)


def assemble_from_tiles(tiles: pd.DataFrame, h: int, w: int) -> np.ndarray:
    """Inverse of explode: tile regions stitched back.
    Exactness of this round trip is the 'per-tile assignment' parity
    test (north_rule)."""
    out = np.full((h, w), np.nan)
    for r in tiles.itertuples(index=False):
        out[r.row0 : r.row0 + r.core_h, r.col0 : r.col0 + r.core_w] = \
            np.frombuffer(r.tile_bytes, dtype="<f8").reshape(r.core_h,
                                                             r.core_w)
    return out


# ------------------------------------------------- histogram salting


def salted_repartition(df: DataFrame, cell_col: str, row_key: str,
                       threshold: int = 10_000,
                       n_partitions: int | None = None) -> DataFrame:
    """Histogram-driven skew salting (north_rule): compute the cell
    histogram, split every cell whose row count exceeds ``threshold``
    into ``ceil(count / threshold)`` salt buckets, and repartition on
    (cell, salt). A hot cell (a megacity's pixel density, a 96%-cloud
    scene) fans out across tasks instead of serializing one.

    Why explicit: AQE's skewJoin rebalances *join* shuffles but not
    grouped-map (``applyInPandas``) keys — for those the salt must be
    part of the key, which only the application can decide
    (SURVEY.md §6 'none (skew)' row).

    The salt is deterministic (xxhash64 of the row key, mod the cell's
    bucket count) so retries and resumes land rows in the same bucket.
    The histogram is one cheap count aggregation, broadcast-joined
    back (cells are few relative to rows); cold cells miss the join
    and default to salt 0. Returns the repartitioned frame with a ``salt``
    column the caller may group by alongside the cell."""
    hist = (df.groupBy(cell_col)
            .agg(F.count("*").alias("_cnt"))
            .filter(F.col("_cnt") > threshold)
            .select(cell_col,
                    F.ceil(F.col("_cnt") / threshold).cast("int").alias("_buckets")))
    out = (df.join(F.broadcast(hist), cell_col, "left")
           .withColumn("salt",
                       F.when(F.col("_buckets").isNull(), F.lit(0))
                        .otherwise(F.pmod(F.xxhash64(F.col(row_key)),
                                          F.col("_buckets")).cast("int")))
           .drop("_buckets"))
    parts = n_partitions or df.sparkSession.sparkContext.defaultParallelism * 4
    return out.repartition(parts, F.col(cell_col), F.col("salt"))
