"""The fill kernel (``batch.fill_image``) and the planned ``gapfill``
wave must be bit-identical to the per-pixel, whole-image reference
(``oracles.fill_image_per_pixel``)."""

import numpy as np
import oracles
import pytest

from ssgp_toolbox_spark import generator
from ssgp_toolbox_spark.kernels import batch as B
from ssgp_toolbox_spark.kernels import frame as FR
from ssgp_toolbox_spark.kernels import regressors
from ssgp_toolbox_spark.sentinels import GAP, NODATA, SKIP


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
    slow_m, slow_s = oracles.fill_image_per_pixel(
        final, tensor, extra=extra, method="Knn",
        predictor_configuration=config, hyperparameters="Custom",
        params={"n_neighbors": 5}, seed=21)
    fast_m, fast_s = B.fill_image(final, tensor, extra=extra, method="Knn",
                                  predictor_configuration=config,
                                  hyperparameters="Custom",
                                  params={"n_neighbors": 5}, seed=21)
    assert np.array_equal(slow_m, fast_m, equal_nan=True)
    assert len(slow_s) == len(fast_s)
    assert np.allclose(slow_s, fast_s, equal_nan=True)


def test_batched_distance_weights(scene):
    final, tensor, extra = scene
    slow_m, _ = oracles.fill_image_per_pixel(
        final, tensor, extra=extra, method="Knn",
        predictor_configuration="Biome", hyperparameters="Custom",
        params={"n_neighbors": 3, "weights": "distance"}, seed=4)
    fast_m, _ = B.fill_image(final, tensor, extra=extra, method="Knn",
                             predictor_configuration="Biome",
                             hyperparameters="Custom",
                             params={"n_neighbors": 3, "weights": "distance"},
                             seed=4)
    # distance weights divide by ||a-b||: the batched path computes it
    # as a²+b²−2ab (matmul) vs the direct (a−b)² sum — last-ulp float
    # differences in 1/d are expected, so allclose not array_equal
    assert np.allclose(slow_m, fast_m, equal_nan=True)


def test_empty_training_set_fills_skip(scene):
    """A gap px whose whole target history is gap/NoData has no
    training row. It becomes skip with no score, as a skip target
    does, in the batched Knn core, the per-pixel reference and the
    per-pixel core of a non-Knn method: no NaN reaches the raster or
    ``mean_cv_mae``."""
    final, tensor, extra = scene
    tensor = tensor.copy()
    gaps = np.argwhere(final == GAP)
    dead = gaps[[3, 40, 41]]
    tensor[:, dead[:, 0], dead[:, 1]] = GAP
    tensor[::2, dead[0, 0], dead[0, 1]] = NODATA
    kw = dict(extra=extra, predictor_configuration="Biome",
              hyperparameters="Custom", seed=21)
    knn = {"n_neighbors": 5}
    runs = [
        (B.fill_image(final, tensor, method="Knn", params=knn, **kw), gaps),
        (oracles.fill_image_per_pixel(final, tensor, method="Knn",
                                      params=knn, **kw), gaps),
        (B.fill_image(final, tensor, method="Lasso", params={"alpha": 1.0},
                      gaps=gaps[38:44], **kw), gaps[38:44]),
    ]
    for (filled, scores), done in runs:
        assert not np.isnan(filled).any()
        vals = filled[done[:, 0], done[:, 1]]
        assert len(scores) == (vals != SKIP).sum() > 0
        assert np.isfinite(np.mean(scores))
        for r, c in dead:
            if ((done[:, 0] == r) & (done[:, 1] == c)).any():
                assert filled[r, c] == SKIP


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
        return B.fill_image(
            final, tensor, extra=extra, method="Knn",
            predictor_configuration="Biome",
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
    kw = dict(extra=extra, method="Knn", predictor_configuration="Biome",
              hyperparameters="Custom", params={"n_neighbors": 5}, seed=7)
    whole, scores = B.fill_image(final, tensor, **kw)
    gaps = np.argwhere(final == GAP)
    stitched = final.copy()
    parts = []
    for lo in range(0, len(gaps), 137):
        hi = min(lo + 137, len(gaps))
        sel = gaps[lo:hi]
        part, psc = B.fill_image(final, tensor, gaps=sel, **kw)
        stitched[sel[:, 0], sel[:, 1]] = part[sel[:, 0], sel[:, 1]]
        parts.extend(psc)
    assert np.array_equal(whole, stitched, equal_nan=True)
    assert np.allclose(parts, scores, equal_nan=True)


def _filled_cols(df):
    """The columns ``gapfill`` computes, per filled image."""
    return {r["image_id"]: (bytes(r["bytes"]), r["filled_px"], r["phash"],
                            float(r["mean_cv_mae"]).hex())
            for r in df.collect() if r["status"] == "filled"}


def _whole_image_cols(images, *mode):
    """The same columns from one whole-image kernel call per image."""
    return {i: v[2] for i, v in
            oracles.whole_image_fills(images.collect(), *mode).items()}


def _fill_images(spark, site, n_history, n_inputs, shape=None):
    from ssgp_toolbox_spark.io import images as img_io
    from ssgp_toolbox_spark.operators import stats

    return stats.with_stats(img_io.with_id_parts(generator.images_df(
        spark, sites=(site,), n_history=n_history, n_inputs=n_inputs,
        shape=shape))).cache()


def test_balanced_operator_bit_equals_plain(spark):
    """Knn/Custom filled in ``chunk_px`` slices by the planned wave ==
    the whole-image kernel."""
    from ssgp_toolbox_spark.operators import gapfill

    images = _fill_images(spark, "stp", 5, 2)
    mode = ("Knn", "Biome", "Custom", {"n_neighbors": 5})
    want = _whole_image_cols(images, *mode)
    assert len(want) == 2
    assert _filled_cols(gapfill.gapfill(images, *mode, chunk_px=300)) == want


def test_balanced_lasso_bit_equals_plain(spark):
    """The chunked path covers all kernels: Lasso/Custom chunked ==
    whole-image (per-pixel seeds + shared CV fold rule)."""
    from ssgp_toolbox_spark.operators import gapfill

    images = _fill_images(spark, "stp", 4, 1)
    mode = ("Lasso", "Biome", "Custom", {"alpha": 1.0})
    want = _whole_image_cols(images, *mode)
    assert len(want) == 1
    assert _filled_cols(gapfill.gapfill(images, *mode, chunk_px=150)) == want


def test_gridsearch_chunked_bit_equals_whole(spark):
    """``gapfill``'s default mode (Lasso / Random / RandomGridSearch)
    samples its grid candidates per pixel, so an image split across
    every task in 2-px slices equals the whole-image kernel."""
    from ssgp_toolbox_spark import codecs
    from ssgp_toolbox_spark.io import images as img_io
    from ssgp_toolbox_spark.operators import gapfill, stats
    from ssgp_toolbox_spark.sentinels import is_valid

    # 12 scattered gap px keep the per-pixel grid search affordable
    m = generator.make_layer("gs", 20, 16, 9, "input", 0.0)
    m[tuple(np.argwhere(is_valid(m))[::17][:12].T)] = GAP
    rows = [generator.image_row("gs", "input", "20190910T000000", m,
                                codecs.FMT_F64, 4)]
    rows += generator.site_rows("gs", n_history=4, n_inputs=0, shape=(20, 16))
    images = stats.with_stats(img_io.with_id_parts(spark.createDataFrame(
        rows, schema=generator.IMAGE_COLUMNS))).cache()
    counts = {r["image_id"]: r["gap_count"] for r in images.filter(
        "role = 'input'").collect()}
    _bins, split = gapfill.plan_fill(
        counts, spark.sparkContext.defaultParallelism, 2)
    assert split == set(counts) and list(counts.values()) == [12]
    want = _whole_image_cols(images, "Lasso", "Random", "RandomGridSearch",
                             None)
    assert set(want) == set(counts)
    assert _filled_cols(gapfill.gapfill(images, chunk_px=2)) == want


def test_balanced_split_and_whole_bit_equal_plain(spark):
    """One call that splits a hot image across tasks (delta → shuffle →
    assemble) and finishes the light ones whole in their fill tasks
    equals the whole-image kernel on every column the fill computes."""
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

    mode = ("Knn", "Biome", "Custom", {"n_neighbors": 5})
    want = _whole_image_cols(images, *mode)
    assert set(want) == set(counts)
    assert _filled_cols(gapfill.gapfill(images, *mode,
                                        chunk_px=chunk_px)) == want


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


def _high_gap_scene(n_valid):
    """36×30 scene whose final image keeps only ``n_valid`` ungapped
    px (104 → 90.4% gaps): almost every biome has 41 or fewer
    candidates left, so almost every gap px takes the 101-random
    fallback."""
    rng = np.random.default_rng(11)
    h, w = 36, 30
    tensor = rng.uniform(270, 300, size=(6, h, w)).round(2)
    tensor[rng.random(tensor.shape) < 0.05] = GAP
    final = rng.uniform(270, 300, size=(h, w)).round(2)
    final.ravel()[rng.permutation(h * w)[n_valid:]] = GAP
    extra = generator.zone_raster("hg", h, w).astype(float)
    return final, tensor, extra


def test_small_biome_fallback_bit_equals_oracle(monkeypatch):
    """The batched small-biome fallback (one gather, one distance, one
    stable argsort per block) fills and scores every pixel exactly as
    the per-pixel oracle, whole and in a gap slice."""
    final, tensor, extra = _high_gap_scene(104)
    gaps = np.argwhere(final == GAP)
    assert len(gaps) >= 0.9 * final.size
    fallback = []
    real = B._random_nearest_batched

    def spy(final, gaps, sel, *args, **kwargs):
        fallback.append(len(sel))
        return real(final, gaps, sel, *args, **kwargs)

    monkeypatch.setattr(B, "_random_nearest_batched", spy)
    kw = dict(extra=extra, method="Knn", predictor_configuration="Biome",
              hyperparameters="Custom", params={"n_neighbors": 5}, seed=13)
    want_m, want_s = oracles.gapfill_image_oracle(final, tensor, extra, 13)
    got_m, got_s = B.fill_image(final, tensor, **kw)
    assert sum(fallback) > 0.8 * len(gaps)
    assert np.array_equal(got_m, want_m, equal_nan=True)
    assert len(got_s) == len(gaps)
    assert np.array_equal(np.asarray(got_s), np.asarray(want_s))
    lo, hi = 200, 600
    sel = gaps[lo:hi]
    part_m, part_s = B.fill_image(final, tensor, gaps=sel, **kw)
    assert np.array_equal(part_m[sel[:, 0], sel[:, 1]],
                          want_m[sel[:, 0], sel[:, 1]], equal_nan=True)
    # no skip px in the scene: one score per gap px, in scan order
    assert np.array_equal(np.asarray(part_s), np.asarray(want_s[lo:hi]))


def test_small_biome_fallback_needs_101_valid_px():
    """An image with fewer than 101 valid px cannot draw the fallback's
    101 random predictors: ``frame.random_pool``'s ValueError still
    stops it."""
    final, tensor, extra = _high_gap_scene(100)
    with pytest.raises(ValueError, match="needs 101 valid pixels"):
        B.fill_image(final, tensor, extra=extra, method="Knn",
                     predictor_configuration="Biome",
                     hyperparameters="Custom",
                     params={"n_neighbors": 5}, seed=13)


def _matrix_scene():
    """24×20 px, 6 history layers, ~23% gaps: small enough that every
    method fits per pixel in well under a second."""
    h, w = 24, 20
    tensor = np.stack([
        generator.make_layer("mm", h, w, t, "history", 0.02) for t in range(6)
    ])
    final = generator.make_layer("mm", h, w, 8, "input", 0.23)
    extra = generator.zone_raster("mm", h, w).astype(float)
    return final, tensor, extra


@pytest.mark.parametrize("config", ["Biome", "Random", "All"])
@pytest.mark.parametrize("method,hp,params", [
    ("Lasso", "Custom", {"alpha": 1.0}),
    ("Lasso", "RandomGridSearch", None),
    ("Knn", "RandomGridSearch", None),
    ("Knn", "GridSearch", None),
    ("SVR", "Custom", None),
    ("RandomForest", "Custom", {"n_estimators": 5}),
])
def test_fill_image_matches_per_pixel(method, hp, params, config):
    """Every method and mode through the one entry (batched selection,
    keyed frame, the method's core) equals the per-pixel reference on
    filled payload and score bits, on a gap slice (one px under 'All',
    whose frames hold every valid px: per-pixel Lasso is slow there)."""
    final, tensor, extra = _matrix_scene()
    gaps = np.argwhere(final == GAP)
    lo, hi = (40, 41) if config == "All" else (40, 45)
    kw = dict(extra=extra, method=method, predictor_configuration=config,
              hyperparameters=hp, params=params, seed=21)
    want_m, want_s = oracles.fill_image_per_pixel(
        final, tensor, gap_slice=(lo, hi), **kw)
    got_m, got_s = B.fill_image(final, tensor, gaps=gaps[lo:hi], **kw)
    assert got_m.tobytes() == want_m.tobytes()
    assert [v.hex() for v in got_s] == [v.hex() for v in want_s]
    assert len(got_s) > 0


def test_forest_grid_small_image_seed_fills():
    """A forest grid mode at a small image seed fills every gap with
    a finite score. The per-pixel loop this entry replaced salted the
    grid seed with numpy ints, so below an image seed of ~50,300 the
    forests' ``seed * 1_000_003 + t`` wrapped in int64 and a negative
    seed raised "expected non-negative integer"."""
    from ssgp_toolbox_spark.sentinels import is_valid

    _, tensor, _ = _matrix_scene()
    final = generator.make_layer("mm", 24, 20, 8, "input", 0.0)
    gaps = np.argwhere(is_valid(final))[::53][:6]
    final[tuple(gaps.T)] = GAP
    filled, scores = B.fill_image(
        final, tensor, method="ExtraTrees", predictor_configuration="Random",
        hyperparameters="RandomGridSearch", params={"n_estimators": 5},
        seed=21)
    assert is_valid(filled[tuple(gaps.T)]).all()
    assert len(scores) == 6 and np.isfinite(scores).all()
