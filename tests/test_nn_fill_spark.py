"""Tier-2 golden end-to-end: M1 slice (SURVEY.md §7) — scan → F2/F3
filters → NN-fill mapInPandas → snapshot sink, vs the numpy oracle."""

import numpy as np
import pytest
from pyspark.sql import functions as F

import oracles
from ssgp_toolbox_spark import codecs, generator
from ssgp_toolbox_spark.io import images as img_io
from ssgp_toolbox_spark.operators import nn_fill, stats


@pytest.fixture(scope="module")
def images(spark):
    return generator.images_df(spark, sites=("stp",), n_history=4, n_inputs=3).cache()


def test_stats_columns(spark, images):
    got = {r["image_id"]: r for r in stats.with_stats(images).collect()}
    for row in images.collect():
        m = codecs.decode(bytes(row["bytes"]), row["h"], row["w"], row["fmt"])
        from ssgp_toolbox_spark.sentinels import sentinel_stats

        exp = sentinel_stats(m)
        g = got[row["image_id"]]
        assert (g["gap_count"], g["skip_count"], g["nodata_count"], g["valid_px"]) == (
            exp["gap_count"], exp["skip_count"], exp["nodata_count"], exp["valid_px"],
        )


def test_nn_fill_matches_oracle_per_image(spark, images):
    inputs = img_io.with_id_parts(images).filter(F.col("role") == "input")
    result = {r["image_id"]: r for r in nn_fill.nn_fill(inputs).collect()}
    for row in inputs.collect():
        m = codecs.decode(bytes(row["bytes"]), row["h"], row["w"], row["fmt"])
        exp, exp_status = oracles.nn_fill_oracle(m)
        got = result[row["image_id"]]
        assert got["status"] == exp_status
        out = codecs.decode(bytes(got["bytes"]), got["h"], got["w"], got["fmt"])
        assert np.array_equal(out, exp), row["image_id"]
        # caption equality invariant (input_hint)
        assert got["caption"] == row["caption"]


def test_nn_fill_plan_has_no_shuffle(spark, images):
    plan = nn_fill.nn_fill(images)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_snapshot_sink_and_resume(spark, images, tmp_path):
    table = str(tmp_path / "outputs")
    inputs = img_io.with_id_parts(images).filter(F.col("role") == "input")
    filled = nn_fill.nn_fill(inputs)
    first = filled.limit(1)
    img_io.append_snapshot(first, table)
    assert img_io.committed_ids(spark, table).count() == 1
    # resume: anti-join against committed ids, append the rest
    done = img_io.committed_ids(spark, table)
    remaining = filled.join(done, "image_id", "left_anti")
    img_io.append_snapshot(remaining, table)
    out = img_io.load(spark, table)
    assert out.count() == inputs.count()
    # no duplicate fills after resume (north_rule tier-3 check)
    assert out.select("image_id").distinct().count() == inputs.count()


def test_nn_fill_reaches_far_gaps(spark):
    """Gaps far from every valid pixel still take the nearest value: a
    128×128 all-gap raster with one 4×3 block of valid px (above
    ``nn.MIN_VALID``) in a corner fills completely, as the oracle
    does."""
    from ssgp_toolbox_spark.kernels import nn
    from ssgp_toolbox_spark.sentinels import GAP

    m = np.full((128, 128), GAP)
    m[:4, :3] = 290.0 + np.arange(12).reshape(4, 3)
    assert (m != GAP).sum() > nn.MIN_VALID
    row = generator.image_row("x", "input", "20190901T000000", m,
                              codecs.FMT_F64, 99)
    out = nn_fill.nn_fill(
        spark.createDataFrame([row], generator.IMAGE_COLUMNS)).collect()[0]
    assert out["status"] == "filled"
    back = codecs.decode(bytes(out["bytes"]), 128, 128, codecs.FMT_F64)
    assert not (back == GAP).any()
    exp, exp_status = oracles.nn_fill_fast_oracle(m)
    assert exp_status == "filled" and np.array_equal(back, exp)
