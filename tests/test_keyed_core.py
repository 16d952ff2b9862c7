"""The keyed kNN fill core (``batch.fill_keyed_knn``: frame cleaning
once per distinct predictor pixel) against the frozen pairwise core it
replaced (``oracles.fill_gathered_knn``: cleaning per (gap px,
predictor) pair). Preds, score bits and skip masks must be equal. The
one intended difference: a fast-path pixel with an empty training set,
which the pairwise core leaves NaN, is a skip in the keyed core.

The fill_wide-shaped scenes use the benchmark's sites, sizes and seeded
pixel noise; the sentinel-rich scene covers every cleaning branch.
No Spark: these run in seconds."""

import numpy as np
import oracles
import pytest

from ssgp_toolbox_spark import codecs, generator
from ssgp_toolbox_spark.kernels import batch as B
from ssgp_toolbox_spark.kernels import frame as FR
from ssgp_toolbox_spark.sentinels import (DEFAULT_SENTINELS as SV, GAP,
                                          is_invalid, sentinel_stats)


def _cores(final, tensor, extra, config, seed, gaps, weights="uniform"):
    """(pairwise reference, keyed core) results on the same coords."""
    coords = B.select_coords(final, extra, gaps, config, seed)
    hist = tensor[:, coords[..., 0], coords[..., 1]]
    last = final[coords[..., 0], coords[..., 1]]
    ref = oracles.fill_gathered_knn(hist, last, 5, weights, seed)
    table, idx = B.keyed_table(final, tensor, coords)
    assert np.array_equal(table[:, idx], np.concatenate([hist, last[None]]))
    return ref, B.fill_keyed_knn(table, idx, 5, weights, seed)


def _assert_same(ref, new):
    rp, rs, rk = ref
    npred, ns, nk = new
    empty = ~rk & np.isnan(rp)  # empty train: NaN in the pairwise core
    assert np.array_equal(nk, rk | empty)
    ok = ~nk
    assert npred[ok].tobytes() == rp[ok].tobytes()
    assert [v.hex() for v in ns[ok]] == [v.hex() for v in rs[ok]]
    assert np.isnan(npred[nk]).all() and np.isnan(ns[nk]).all()
    return int(empty.sum())


def _fill_wide_scenes(seed=7):
    """The benchmark's ``fill_wide`` inputs: sites vlad and stp, 8
    inputs and 12 history layers at 80×64, seeded noise plus a
    per-site offset on every valid pixel; viable inputs with gaps."""
    scenes = []
    for i, site in enumerate(("vlad", "stp")):
        offset = np.random.default_rng([seed, i]).uniform(-3.0, 3.0)
        hist, inputs, extra = [], [], None
        for j, (iid, payload, w, h, fmt, _cap, _ph) in enumerate(
                generator.site_rows(site, 12, 8, shape=(80, 64))):
            m = codecs.decode(payload, h, w, fmt)
            if "/extra/" in iid:
                extra = m
                continue
            valid = ~is_invalid(m)
            noise = np.random.default_rng([seed, i, j]).normal(0.0, 0.5,
                                                                m.shape)
            m[valid] += offset + noise[valid]
            (hist if "/history/" in iid else inputs).append((iid, m))
        tensor = np.stack([m for _, m in sorted(hist, key=lambda t: t[0])])
        for iid, m in inputs:
            st = sentinel_stats(m)
            if st["valid_px"] > 101 and st["gap_count"] > 0:
                scenes.append((iid, m, tensor, extra))
    return scenes


def test_keyed_core_equals_pairwise_fill_wide():
    """Whole images and 1024-px gap slices of every fill_wide input."""
    scenes = _fill_wide_scenes()
    assert len(scenes) == 15
    for n, (iid, final, tensor, extra) in enumerate(scenes):
        seed = oracles.stable_seed(iid)
        gaps = np.argwhere(final == GAP)
        weights = "distance" if n % 4 == 0 else "uniform"
        _assert_same(*_cores(final, tensor, extra, "Biome", seed, gaps,
                             weights))
        for lo in range(0, len(gaps), 1024):
            _assert_same(*_cores(final, tensor, extra, "Biome", seed,
                                 gaps[lo:lo + 1024], weights))


def _sentinel_scene():
    """30×26 scene with every cleaning branch: skip values in history
    (skip predictors, F5b, and skip targets, F5), a solid NoData block
    in the final image (NoData at predictor coords on the final row,
    F8, and pixels whose every column drops, the slow path with its
    F7 test-row shift) and gap px whose whole history is gap/NoData
    (empty training set)."""
    rng = np.random.default_rng(5)
    L, H, W = 7, 30, 26
    tensor = rng.uniform(270, 300, size=(L, H, W)).round(2)
    for ly in range(L):
        m = rng.random((H, W))
        tensor[ly][m < 0.12] = SV.gap
        tensor[ly][(m >= 0.12) & (m < 0.16)] = SV.nodata
        tensor[ly][(m >= 0.16) & (m < 0.165)] = SV.skip
    final = rng.uniform(270, 300, size=(H, W)).round(2)
    final[:, :9][rng.random((H, 9)) < 0.15] = SV.gap
    final[:, 9:] = np.where(rng.random((H, W - 9)) < 0.35, SV.gap,
                            SV.nodata)
    gaps = np.argwhere(final == SV.gap)
    dead = gaps[::23]
    tensor[:, dead[:, 0], dead[:, 1]] = np.where(
        rng.random((L, len(dead))) < 0.5, SV.gap, SV.nodata)
    extra = generator.zone_raster("slowb", H, W).astype(float)
    return final, tensor, extra


@pytest.mark.parametrize("weights", ["uniform", "distance"])
@pytest.mark.parametrize("config", ["Biome", "Random", "All"])
def test_keyed_core_equals_pairwise_sentinels(config, weights, monkeypatch):
    final, tensor, extra = _sentinel_scene()
    gaps = np.argwhere(final == GAP)
    slow = []  # frames both cores' slow paths clean one by one
    real = FR.clean_frame

    def spy(frame, *args):
        slow.append(frame.shape)
        return real(frame, *args)

    monkeypatch.setattr(FR, "clean_frame", spy)
    ref, new = _cores(final, tensor, extra, config, 31, gaps, weights)
    n_empty = _assert_same(ref, new)
    coords = B.select_coords(final, extra, gaps, config, 31)
    pred_vals = np.concatenate([tensor, final[None]])[
        :, coords[:, :-1, 0], coords[:, :-1, 1]]

    assert ref[2].sum() > 0                       # F5: skip targets
    assert n_empty > 0                            # empty training sets
    assert (pred_vals == SV.skip).any()           # F5b: skip predictors
    if config != "Random":  # Random draws valid final px only
        assert (pred_vals[-1] == SV.nodata).any()  # F8
    if config == "Biome":
        assert len(slow) > 1                      # all-drop slow path


def test_keyed_core_equals_pairwise_slices():
    """A slice's keyed table holds only that slice's pixels; its fill
    is the same as the slice's share of the whole-scene pairwise fill."""
    final, tensor, extra = _sentinel_scene()
    gaps = np.argwhere(final == GAP)
    whole, _ = _cores(final, tensor, extra, "Biome", 31, gaps)
    for lo in range(0, len(gaps), 64):
        part = slice(lo, lo + 64)
        _, new = _cores(final, tensor, extra, "Biome", 31, gaps[part])
        _assert_same(tuple(a[part] for a in whole), new)
