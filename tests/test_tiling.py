"""Tile index tests: cell id arithmetic, ring neighborhoods, exact
tile explode/assemble round trip (the 'per-tile assignments exactly'
north_rule check)."""

import numpy as np
import pandas as pd

from ssgp_toolbox_spark import generator, tiling


def test_cell_id_roundtrip_and_parent():
    lats = np.array([-89.9, -45.0, 0.0, 37.5, 89.9])
    lons = np.array([-179.9, -10.0, 0.0, 100.3, 179.9])
    cells = tiling.latlon_to_cell(lats, lons, 12)
    assert (tiling.cell_res(cells) == 12).all()
    parents = tiling.cell_to_parent(cells, 8)
    assert (tiling.cell_res(parents) == 8).all()
    y12, x12 = tiling.cell_yx(cells)
    y8, x8 = tiling.cell_yx(parents)
    assert (y8 == y12 >> 4).all() and (x8 == x12 >> 4).all()


def test_grid_disk_ring():
    c = int(tiling.latlon_to_cell(10.0, 20.0, 6))
    disk = tiling.grid_disk(c, 1)
    assert c in disk and len(disk) == 9
    y0, x0 = (int(v) for v in tiling.cell_yx(c))
    for d in disk:
        y, x = (int(v) for v in tiling.cell_yx(d))
        assert abs(y - y0) <= 1 and abs(x - x0) <= 1


def test_grid_disk_antimeridian_wrap():
    c = int(tiling.latlon_to_cell(0.0, 179.95, 4))
    disk = tiling.grid_disk(c, 1)
    assert len(disk) == 9  # wraps, no clipping at lon edge
    xs = [int(tiling.cell_yx(d)[1]) for d in disk]
    assert 0 in xs  # wrapped across the antimeridian


def test_grid_disk_pole_clamp():
    c = int(tiling.latlon_to_cell(89.99, 0.0, 4))
    disk = tiling.grid_disk(c, 1)
    assert len(disk) == 6  # top row clamped


def test_cell_expr_matches_numpy(spark):
    pdf = pd.DataFrame({
        "lat": np.linspace(-89, 89, 50),
        "lon": np.linspace(-179, 179, 50),
    })
    df = spark.createDataFrame(pdf)
    got = np.array(
        df.select(tiling.cell_expr("lat", "lon", 9).alias("c")).toPandas()["c"]
    )
    exp = tiling.latlon_to_cell(pdf["lat"].values, pdf["lon"].values, 9)
    assert np.array_equal(got, exp)


def test_tile_explode_assemble_exact():
    m = generator.make_layer("stp", 109, 62, 3, "input", 0.15)
    for tile in (32, 40, 64, 256):
        tiles = tiling.explode_tiles_pdf("img", m, tile)
        back = tiling.assemble_from_tiles(tiles, 109, 62)
        assert np.array_equal(back, m), tile


def test_salted_repartition_bounds_hot_cells(spark):
    """A 100x-hot cell fans out into ~count/threshold salt buckets;
    cold cells keep salt 0; bucket assignment is deterministic."""
    import pandas as pd
    from pyspark.sql import functions as F

    from ssgp_toolbox_spark import tiling

    rows = [(9001, f"hot-{i}") for i in range(2000)] + \
           [(c, f"cold-{c}-{i}") for c in range(10) for i in range(20)]
    df = spark.createDataFrame(rows, "cell long, image_id string")
    out = tiling.salted_repartition(df, "cell", "image_id", threshold=250)
    pdf = out.groupBy("cell", "salt").count().toPandas()
    hot = pdf[pdf.cell == 9001]
    assert hot.salt.nunique() == 8                      # ceil(2000/250)
    assert hot["count"].max() <= 2.0 * 250              # hash balance
    cold = pdf[pdf.cell != 9001]
    assert (cold.salt == 0).all()
    # determinism: same salt for the same row on a second run
    out2 = tiling.salted_repartition(df, "cell", "image_id", threshold=250)
    a = {r["image_id"]: r["salt"] for r in out.select("image_id", "salt").collect()}
    b = {r["image_id"]: r["salt"] for r in out2.select("image_id", "salt").collect()}
    assert a == b
