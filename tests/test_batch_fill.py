"""Batched kNN fill (kernels/batch.py) and the skew-balanced operator
must be bit-identical to the per-pixel reference-parity path."""

import numpy as np
import pytest

from ssgp_toolbox_spark import generator
from ssgp_toolbox_spark.kernels import batch as B
from ssgp_toolbox_spark.kernels import frame as FR
from ssgp_toolbox_spark.kernels import regressors
from ssgp_toolbox_spark.sentinels import GAP


@pytest.fixture(scope="module")
def scene():
    h, w = 40, 34
    tensor = np.stack([
        generator.make_layer("bf", h, w, t, "history", 0.02) for t in range(10)
    ])
    final = generator.make_layer("bf", h, w, 12, "input", 0.3)
    extra = generator.zone_raster("bf", h, w).astype(float)
    return final, tensor, extra


@pytest.mark.parametrize("config", ["Biome", "Random", "All"])
def test_batched_equals_perpixel(scene, config):
    final, tensor, extra = scene
    slow_m, slow_s = FR.fill_image(final, tensor, extra=extra, method="Knn",
                                   predictor_configuration=config,
                                   hyperparameters="Custom",
                                   params={"n_neighbors": 5}, seed=21)
    fast_m, fast_s = B.fill_image_knn(final, tensor, extra=extra,
                                      predictor_configuration=config,
                                      hyperparameters="Custom",
                                      params={"n_neighbors": 5}, seed=21)
    assert np.array_equal(slow_m, fast_m, equal_nan=True)
    assert len(slow_s) == len(fast_s)
    assert np.allclose(slow_s, fast_s, equal_nan=True)


def test_batched_distance_weights(scene):
    final, tensor, extra = scene
    slow_m, _ = FR.fill_image(final, tensor, extra=extra, method="Knn",
                              predictor_configuration="Biome",
                              hyperparameters="Custom",
                              params={"n_neighbors": 3, "weights": "distance"},
                              seed=4)
    fast_m, _ = B.fill_image_knn(final, tensor, extra=extra,
                                 predictor_configuration="Biome",
                                 hyperparameters="Custom",
                                 params={"n_neighbors": 3, "weights": "distance"},
                                 seed=4)
    # distance weights divide by ||a-b||: the batched path computes it
    # as a²+b²−2ab (matmul) vs the direct (a−b)² sum — last-ulp float
    # differences in 1/d are expected, so allclose not array_equal
    assert np.allclose(slow_m, fast_m, equal_nan=True)


def _slow_group_per_pixel(Xp, yp, xt, k, weights, seed):
    """Per-pixel regressors.fit_predict loop with the call signature of
    B._knn_slow_group: the reference the batched slow path replaced."""
    preds, scores = np.empty(len(Xp)), np.empty(len(Xp))
    for i in range(len(Xp)):
        pr, sc = regressors.fit_predict(
            "Knn", "Custom", {"n_neighbors": k, "weights": weights},
            Xp[i], yp[i], xt[i][None, :], seed=FR.cv_seed(seed, yp.shape[1]))
        preds[i] = float(np.ravel(pr)[0])
        scores[i] = abs(float(np.ravel(sc).mean() if np.ndim(sc) else sc))
    return preds, scores


@pytest.mark.parametrize("weights", ["uniform", "distance"])
def test_slow_path_batched_bit_equals_loop(weights, monkeypatch):
    """The batched slow path (optimization round 6) must be
    bit-identical to the per-pixel regressors.fit_predict loop it
    replaced — exercised on a cascade-rich scene: predictor columns
    NODATA at the test row force the F7 test-row-shift quirk, so the
    slow share is large and includes both the zero-feature and the
    column-readmitted clean_frame outcomes."""
    from ssgp_toolbox_spark.sentinels import DEFAULT_SENTINELS as SV

    rng = np.random.default_rng(5)
    L, H, W = 7, 30, 26
    tensor = rng.uniform(270, 300, size=(L, H, W)).round(2)
    # sprinkle sentinels through history so target-validity patterns
    # vary (different n per pixel → several slow groups, including
    # n < 3 exercising the no-CV fallback)
    for ly in range(L):
        m = rng.random((H, W))
        tensor[ly][m < 0.12] = SV.gap
        tensor[ly][(m >= 0.12) & (m < 0.16)] = SV.nodata
    final = rng.uniform(270, 300, size=(H, W)).round(2)
    # left third: valid with sparse gaps (fast-path pixels + the
    # >=101-valid pool select_random's fallback needs)
    gl = rng.random((H, 9))
    final[:, :9][gl < 0.15] = SV.gap
    # right two-thirds: gaps inside a SOLID NODATA region — every
    # nearest same-biome candidate is final-NODATA, so all predictor
    # columns drop, F7 drops the all-NaN test row, and F8 re-admits
    # columns at the shifted row (verified: ~30 distinct slow groups,
    # c 27-39 readmitted columns, train n 2-6)
    gr = rng.random((H, W - 9))
    final[:, 9:] = np.where(gr < 0.35, SV.gap, SV.nodata)
    extra = generator.zone_raster("slowb", H, W).astype(float)

    def fill():
        return B.fill_image_knn(
            final, tensor, extra=extra, predictor_configuration="Biome",
            hyperparameters="Custom",
            params={"n_neighbors": 5, "weights": weights}, seed=99)

    new_m, new_s = fill()
    groups = []

    def per_pixel(Xp, *args):
        groups.append(Xp.shape)
        return _slow_group_per_pixel(Xp, *args)

    monkeypatch.setattr(B, "_knn_slow_group", per_pixel)
    ref_m, ref_s = fill()
    assert len(groups) > 1  # the scene really exercises the slow path
    assert np.array_equal(ref_m, new_m, equal_nan=True)
    assert np.array_equal(np.asarray(ref_s), np.asarray(new_s))


def test_gap_slice_union_equals_whole(scene):
    """Chunked fills (the balanced operator's unit) reassemble to the
    exact whole-image fill — per-pixel seeding guarantees it."""
    final, tensor, extra = scene
    whole, scores = B.fill_image_knn(final, tensor, extra=extra,
                                     predictor_configuration="Biome",
                                     hyperparameters="Custom",
                                     params={"n_neighbors": 5}, seed=7)
    gaps = np.argwhere(final == GAP)
    stitched = final.copy()
    parts = []
    for lo in range(0, len(gaps), 137):
        hi = min(lo + 137, len(gaps))
        part, psc = B.fill_image_knn(final, tensor, extra=extra,
                                     predictor_configuration="Biome",
                                     hyperparameters="Custom",
                                     params={"n_neighbors": 5}, seed=7,
                                     gap_slice=(lo, hi))
        sel = gaps[lo:hi]
        stitched[sel[:, 0], sel[:, 1]] = part[sel[:, 0], sel[:, 1]]
        parts.extend(psc)
    assert np.array_equal(whole, stitched, equal_nan=True)
    assert np.allclose(parts, scores, equal_nan=True)


def test_balanced_operator_bit_equals_plain(spark):
    from pyspark.sql import functions as F

    from ssgp_toolbox_spark.io import images as img_io
    from ssgp_toolbox_spark.operators import gapfill, stats

    images = stats.with_stats(img_io.with_id_parts(
        generator.images_df(spark, sites=("stp",), n_history=5, n_inputs=2)
    )).cache()
    plain = {r["image_id"]: bytes(r["bytes"]) for r in gapfill.gapfill(
        images, method="Knn", predictor_configuration="Biome",
        hyperparameters="Custom", params={"n_neighbors": 5}).collect()}
    bal = {r["image_id"]: bytes(r["bytes"]) for r in gapfill.gapfill_balanced(
        images, predictor_configuration="Biome",
        params={"n_neighbors": 5}, chunk_px=300).collect()}
    assert plain == bal


def test_balanced_lasso_bit_equals_plain(spark):
    """The chunked path now covers all kernels: Lasso/Custom chunked
    == whole-image (per-pixel seeds + shared CV fold rule)."""
    from pyspark.sql import functions as F

    from ssgp_toolbox_spark.io import images as img_io
    from ssgp_toolbox_spark.operators import gapfill, stats

    images = stats.with_stats(img_io.with_id_parts(
        generator.images_df(spark, sites=("stp",), n_history=4, n_inputs=1)
    )).cache()
    plain = {r["image_id"]: bytes(r["bytes"]) for r in gapfill.gapfill(
        images, method="Lasso", predictor_configuration="Biome",
        hyperparameters="Custom", params={"alpha": 1.0}).collect()}
    bal = {r["image_id"]: bytes(r["bytes"]) for r in gapfill.gapfill_balanced(
        images, predictor_configuration="Biome", params={"alpha": 1.0},
        method="Lasso", chunk_px=150).collect()}
    assert plain == bal


def test_balanced_split_and_whole_bit_equal_plain(spark):
    """One balanced call that splits a hot image across tasks (delta →
    shuffle → assemble) and finishes the light ones whole in their
    fill tasks equals plain gapfill on every column the fill computes."""
    from ssgp_toolbox_spark import codecs
    from ssgp_toolbox_spark.io import images as img_io
    from ssgp_toolbox_spark.operators import gapfill, stats

    rows = [generator.image_row(
        "mx", "input", f"20190916T{hh:02d}0000",
        generator.make_layer("mx", 60, 50, 40 + hh, "input", frac),
        codecs.FMT_F64, int(frac * 100))
        for hh, frac in enumerate([0.80, 0.01, 0.05, 0.15])
    ] + generator.site_rows("mx", n_history=4, n_inputs=0, shape=(60, 50))
    images = stats.with_stats(img_io.with_id_parts(
        spark.createDataFrame(rows, schema=generator.IMAGE_COLUMNS))).cache()
    chunk_px = 150
    counts = {r["image_id"]: r["gap_count"] for r in images.filter(
        "role = 'input' AND gap_count > 0").collect()}
    bins, split = gapfill.plan_fill(
        counts, spark.sparkContext.defaultParallelism, chunk_px)
    assert split == {"mx/input/20190916T000000"}
    assert len(counts) - len(split) >= 3  # whole images ride along

    def cols(df):
        return {r["image_id"]: (bytes(r["bytes"]), r["filled_px"], r["phash"],
                                float(r["mean_cv_mae"]).hex())
                for r in df.collect()}

    plain = cols(gapfill.gapfill(
        images, method="Knn", predictor_configuration="Biome",
        hyperparameters="Custom", params={"n_neighbors": 5}))
    bal = cols(gapfill.gapfill_balanced(
        images, predictor_configuration="Biome", params={"n_neighbors": 5},
        chunk_px=chunk_px))
    gapfill.release_broadcasts()
    assert set(plain) == set(counts)
    assert plain == bal


def test_knn_coords_exact_int32_equals_int64():
    """The (d², index) tie key is built in int64 whatever the coord
    dtype: on a sparse 100000×100000 frame d² · n_c overflows int32."""
    rng = np.random.default_rng(3)
    shape = (100_000, 100_000)
    cands = rng.integers(0, 100_000, size=(1000, 2))
    blk = rng.integers(40_000, 41_000, size=(64, 2))
    want = B._knn_coords_exact(cands, blk, 5, shape)
    got = B._knn_coords_exact(cands.astype(np.int32), blk.astype(np.int32),
                              5, shape)
    assert np.array_equal(want, got)
    # and both are the exact first-index k nearest
    d2 = ((blk[:, None, :] - cands[None, :, :]) ** 2).sum(-1)
    ref = np.lexsort((np.broadcast_to(np.arange(len(cands)), d2.shape), d2),
                     axis=1)[:, :5]
    assert np.array_equal(want, cands[ref])
