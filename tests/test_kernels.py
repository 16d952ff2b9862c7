"""Tier-1 kernel parity: engine's vectorized kernels vs naive oracle
transcriptions of the cited reference lines (SURVEY.md §5.2)."""

import numpy as np
import pytest

import oracles
from ssgp_toolbox_spark import generator
from ssgp_toolbox_spark.kernels import batch as B
from ssgp_toolbox_spark.kernels import frame as FR
from ssgp_toolbox_spark.kernels import nn as NN
from ssgp_toolbox_spark.kernels import regressors as R
from ssgp_toolbox_spark.sentinels import GAP, NODATA, SKIP


@pytest.fixture(scope="module")
def small_scene():
    rng = np.random.default_rng(7)
    tensor = np.stack([generator.temperature_field("k", 24, 18, t) for t in range(10)])
    final = generator.temperature_field("k", 24, 18, 11)
    final[4:8, 4:9] = GAP
    final[0:2, 0:4] = SKIP
    final[:, -1] = NODATA
    # sprinkle sentinels into history to exercise cleaning
    tensor[2, 5:7, :] = GAP
    tensor[5, :, 2] = NODATA
    tensor[1, 0:2, 0:4] = SKIP
    return tensor, final


def test_nn_fill_matches_oracle(small_scene):
    _, final = small_scene
    ours, st1 = NN.nn_interpolate(final)
    ref, st2 = oracles.nn_fill_oracle(final)
    assert st1 == st2 == "filled"
    assert np.array_equal(ours, ref)


def test_nn_fill_viability_and_passthrough():
    m = np.full((20, 20), SKIP)
    m[0, :5] = 290.0
    out, status = NN.nn_interpolate(m)
    assert status == "not_enough_valid" and np.array_equal(out, m)
    ok = np.full((20, 20), 290.0)
    out, status = NN.nn_interpolate(ok)
    assert status == "passthrough" and np.array_equal(out, ok)


def test_clean_frame_matches_oracle(small_scene):
    tensor, final = small_scene
    for coord in [(5, 5), (4, 8), (7, 4)]:
        coords = oracles.select_all(final, coord)
        f = oracles.build_frame(tensor, final, coords)
        ours = FR.clean_frame(f.copy())
        ref = oracles.clean_frame_oracle(f.copy())
        assert not isinstance(ours, str) and not isinstance(ref, str)
        for a, b in zip(ours, (ref[0], ref[1], ref[2])):
            assert np.allclose(a, np.asarray(b, dtype=float).reshape(a.shape))


def test_clean_frame_skip_target(small_scene):
    tensor, final = small_scene
    # gap pixel whose history contains skip -> 'skip' (gapfiller.py:634-635)
    final2 = final.copy()
    final2[1, 1] = GAP  # history layer 1 has SKIP at (1,1)
    coords = oracles.select_all(final2, (1, 1))
    f = oracles.build_frame(tensor, final2, coords)
    assert FR.clean_frame(f) == "skip"
    assert oracles.clean_frame_oracle(f) == "skip"


def test_knn_regressor_matches_oracle():
    rng = np.random.default_rng(3)
    X = rng.normal(size=(40, 6))
    y = rng.normal(size=40)
    Xt = rng.normal(size=(5, 6))
    for k in (2, 5, 10):
        for w in ("uniform", "distance"):
            ours = R.KNNRegressor(k, w).fit(X, y).predict(Xt)
            ref = oracles.knn_predict_oracle(X, y, Xt, k, w)
            assert np.allclose(ours, ref)


def test_k_nearest_tiebreak_parity():
    """np.argmin first-index tie-break (gapfiller.py:519-530) in the
    Biome selection's exact k-nearest search."""
    coords = np.array([[2, 4], [4, 2], [2, 0], [0, 2], [3, 3], [5, 5]])
    ours = B._knn_coords_exact(coords, np.array([[2, 2]]), 4, (6, 6))[0]
    ref = oracles.k_nearest_coords_oracle(coords, (2, 2), 4)
    assert np.array_equal(ours, np.asarray(ref, dtype=coords.dtype))


def test_random_sample_count_and_determinism():
    final = generator.temperature_field("k", 30, 30, 0)
    target = np.array([[3, 4]])
    c1 = B.select_coords(final, None, target, "Random", 42)[0]
    c2 = B.select_coords(final, None, target, "Random", 42)[0]
    # 101 sampled + target = 102 (reference O4 quirk, gapfiller.py:463-486)
    assert len(c1) == 102 and np.array_equal(c1, c2)
    assert tuple(c1[-1]) == (3, 4)
    vals = final[c1[:-1, 0], c1[:-1, 1]]
    assert ((vals != GAP) & (vals != SKIP) & (vals != NODATA)).all()
    assert len({tuple(x) for x in c1[:-1]}) == 101


@pytest.mark.parametrize("n", [101, 150, 1000, 4156])
def test_seeded_draws_equal_default_rng(n):
    """One reused generator with a hand-derived PCG64 state draws
    exactly what a fresh ``default_rng(s)`` draws, at the edges of the
    one- and two-word seed forms and at random seeds."""
    seeds = [0, 1, 2**32 - 1, 2**32, 2**63 - 2] + [
        int(s) for s in np.random.default_rng(n).integers(0, 2**63 - 1, 40)]
    want = np.stack([np.random.default_rng(s).permutation(n)[:101]
                     for s in seeds])
    got = FR.seeded_draws(seeds, n)
    assert got.dtype == np.int64 and np.array_equal(got, want)


def test_pixel_draws_equal_pixel_rng():
    """``pixel_draws`` keys each pixel exactly as the per-pixel
    reference's ``pixel_rng`` does,
    including image seeds whose ``seed * 1_000_003`` leaves int64."""
    coords = np.array([[0, 0], [3, 4], [108, 61], [1500, 1499]])
    for seed in (0, 7, 2**62 + 11, 2**63 - 2):
        want = np.stack([oracles.pixel_rng(seed, int(r), int(c)).permutation(300)[:101]
                         for r, c in coords])
        assert np.array_equal(FR.pixel_draws(seed, coords, 300), want)


def test_biome_selection_branches(small_scene):
    tensor, final = small_scene
    extra = generator.zone_raster("k", 24, 18, n_zones=4).astype(float)
    sel = B.select_coords(final, extra, np.array([[5, 5]]), "Biome", 1)[0]
    assert len(sel) == 41  # 40 nearest + target
    # currently-gapped pixels must not be candidates (gapfiller.py:507-511)
    for i, j in sel[:-1]:
        assert final[int(i), int(j)] != GAP
    # tiny-zone fallback: target in the forced 5x5 zone (<=41 px)
    tiny_code = extra.max()
    ti, tj = map(int, np.argwhere(extra == tiny_code)[0])
    sel2 = B.select_coords(final, extra, np.array([[ti, tj]]), "Biome", 1)[0]
    assert len(sel2) == 41
    assert np.array_equal(sel2, oracles.select_biome(
        final, (ti, tj), extra, oracles.pixel_rng(1, ti, tj)))


def test_fill_image_deterministic_and_complete(small_scene):
    tensor, final = small_scene
    f1, s1 = B.fill_image(final, tensor, method="Knn",
                          predictor_configuration="Random",
                          hyperparameters="Custom",
                          params={"n_neighbors": 5}, seed=9)
    f2, s2 = B.fill_image(final, tensor, method="Knn",
                          predictor_configuration="Random",
                          hyperparameters="Custom",
                          params={"n_neighbors": 5}, seed=9)
    assert np.array_equal(f1, f2) and s1 == s2
    assert (f1 == GAP).sum() == 0
    # untouched pixels pass through
    mask = final != GAP
    assert np.array_equal(f1[mask], final[mask])


def test_fill_accuracy_envelope():
    """Filled values should be close to the smooth truth (MAE envelope
    like the reference Comparison benchmark, BASELINE.md)."""
    tensor = np.stack([generator.temperature_field("e", 30, 30, t) for t in range(12)])
    truth = generator.temperature_field("e", 30, 30, 13)
    final = truth.copy()
    final[10:18, 10:18] = GAP
    filled, _ = B.fill_image(final, tensor, method="Lasso",
                             predictor_configuration="Random",
                             hyperparameters="Custom",
                             params={"alpha": 0.1}, seed=5)
    mae = np.abs(filled[10:18, 10:18] - truth[10:18, 10:18]).mean()
    assert mae < 2.0, mae


def test_tree_split_matches_naive():
    """Vectorized variance-reduction split == naive per-threshold scan."""
    from ssgp_toolbox_spark.kernels.regressors import _Tree

    rng = np.random.default_rng(5)
    X = rng.normal(size=(40, 6))
    y = (X[:, 2] > 0.3).astype(float) * 5 + rng.normal(scale=0.1, size=40)
    tree = _Tree(max_depth=1, min_samples_split=2).fit(X, y)
    f, thr, l, r = tree.nodes[0]
    # naive best split search
    best = None
    n = len(y)
    parent = y.var() * n
    for fi in range(6):
        xs = np.sort(np.unique(X[:, fi]))
        for a, b in zip(xs[:-1], xs[1:]):
            t = (a + b) / 2
            m = X[:, fi] <= t
            gain = parent - (y[m].var() * m.sum() + y[~m].var() * (~m).sum())
            if best is None or gain > best[0] + 1e-12:
                best = (gain, fi, t)
    assert f == best[1]
    assert abs(thr - best[2]) < 1e-9


def test_forest_deterministic_and_learns():
    from ssgp_toolbox_spark.kernels.regressors import ForestRegressor

    rng = np.random.default_rng(8)
    X = rng.normal(size=(80, 4))
    y = 3 * X[:, 0] - 2 * X[:, 1] + rng.normal(scale=0.1, size=80)
    for mode in ("rf", "et"):
        m1 = ForestRegressor(n_estimators=15, max_depth=6, mode=mode, seed=3).fit(X, y)
        m2 = ForestRegressor(n_estimators=15, max_depth=6, mode=mode, seed=3).fit(X, y)
        p1, p2 = m1.predict(X[:10]), m2.predict(X[:10])
        assert np.array_equal(p1, p2)  # seeded determinism
        mae = np.abs(m1.predict(X) - y).mean()
        assert mae < 1.0, (mode, mae)
