"""Ingest column functions (S6-S8 analogs), UTM projection (C4), time
travel, and hypothesis property tests (SURVEY.md §5: randomized
testing the reference lacks)."""

import numpy as np
import oracles
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from ssgp_toolbox_spark import codecs, generator, geometry
from ssgp_toolbox_spark.sentinels import GAP, NODATA, SKIP


# ------------------------------------------------------------ ingest


def test_qc_two_bit_policies(spark):
    from ssgp_toolbox_spark.functions import ingest

    df = spark.createDataFrame([(i,) for i in range(8)], "qc int")
    got = df.select("qc", ingest.qc_two_bit(F.col("qc"), 0).alias("p0"),
                    ingest.qc_two_bit(F.col("qc"), 1).alias("p1")).collect()
    by_qc = {r["qc"]: (r["p0"], r["p1"]) for r in got}
    # last-2-bits semantics (MODIS_MOD_MYD_11.py:102-129)
    assert by_qc[0] == ("ok", "ok")
    assert by_qc[1] == ("ok", "gap")
    assert by_qc[2] == ("gap", "skip")
    assert by_qc[3] == ("nodata", "nodata")
    assert by_qc[4] == by_qc[0]  # only last two bits matter


def test_cloud_mask_bits(spark):
    from ssgp_toolbox_spark.functions import ingest

    df = spark.createDataFrame(
        [(16384, 0), (0, 2), (0, 0), (16384 + 1, 2 + 1)], "conf int, bayes int")
    got = [r[0] for r in df.select(
        ingest.cloud_mask(F.col("conf"), F.col("bayes"))).collect()]
    assert got == [True, True, False, True]


def test_ndvi_albedo_clamps(spark):
    from ssgp_toolbox_spark.functions import ingest

    df = spark.createDataFrame(
        [(0.8, 0.2), (0.0, 0.0)], "nir double, red double")
    vals = [r[0] for r in df.select(ingest.ndvi(F.col("nir"), F.col("red"))).collect()]
    assert abs(vals[0] - 0.6) < 1e-12
    assert vals[1] == GAP  # 0/0 -> NaN -> outside [-1,1] -> gap


# ------------------------------------------------------------ UTM (C4)


def test_utm_central_meridian_and_scale():
    # on the central meridian easting == 500000 exactly
    x, y = geometry.utm_project(33.0, 45.0, zone=36)
    assert abs(float(x) - 500000.0) < 1e-6
    # scale at the central meridian == k0: numeric dx/dlon ≈ k0·N·cosφ
    eps = 1e-6
    x2, _ = geometry.utm_project(33.0 + eps, 45.0, zone=36)
    dxdlon = (float(x2) - float(x)) / np.deg2rad(eps)
    a, f = 6378137.0, 1 / 298.257223563
    e2 = f * (2 - f)
    N = a / np.sqrt(1 - e2 * np.sin(np.deg2rad(45)) ** 2)
    assert abs(dxdlon / (N * np.cos(np.deg2rad(45))) - 0.9996) < 1e-6


def test_utm_known_point():
    # UTM zone 31N of (lat 0, lon 3) = central meridian, equator
    x, y = geometry.utm_project(3.0, 0.0, zone=31)
    assert abs(float(x) - 500000.0) < 1e-6 and abs(float(y)) < 1e-6
    # southern hemisphere false northing
    _, ys = geometry.utm_project(3.0, -1.0, zone=31, south=True)
    assert 9_800_000 < float(ys) < 10_000_000


# ------------------------------------------------------------ time travel


def test_snapshot_time_travel(spark, tmp_path):
    from ssgp_toolbox_spark.io import images as img_io

    table = str(tmp_path / "tt")
    df = img_io.with_id_parts(generator.images_df(spark, sites=("stp",),
                                                  n_history=1, n_inputs=2))
    s1 = img_io.append_snapshot(df.limit(1), table)
    s2 = img_io.append_snapshot(df, table)
    assert img_io.load(spark, table).count() == 1 + df.count()
    assert img_io.load(spark, table, as_of=s1).count() == 1
    with pytest.raises(ValueError):
        img_io.load(spark, table, as_of="snap-nope")


# ------------------------------------------------------------ properties


@settings(max_examples=20, deadline=None)
@given(st.integers(2, 40), st.integers(2, 40), st.integers(0, 2**31 - 1))
def test_codec_roundtrip_property(h, w, seed):
    rng = np.random.default_rng(seed)
    m = rng.normal(280, 10, (h, w))
    # sprinkle sentinels
    m.ravel()[rng.integers(0, h * w, size=max(1, h * w // 10))] = GAP
    m.ravel()[rng.integers(0, h * w, size=max(1, h * w // 20))] = SKIP
    assert np.array_equal(codecs.decode(codecs.encode(m, codecs.FMT_F64), h, w,
                                        codecs.FMT_F64), m)
    back = codecs.decode(codecs.encode(m, codecs.FMT_PNG16), h, w, codecs.FMT_PNG16)
    sent = (m == GAP) | (m == SKIP) | (m == NODATA)
    assert np.array_equal(back[sent], m[sent])
    assert np.abs(back[~sent] - m[~sent]).max() < 0.006


@settings(max_examples=20, deadline=None)
@given(st.integers(3, 30), st.integers(0, 2**31 - 1), st.integers(1, 5))
def test_neighbor_schedule_property(n, seed, k):
    """Sequential schedule: each gap's neighbors are known at its
    turn; earlier gaps become known for later gaps."""
    from ssgp_toolbox_spark.kernels.timeseries import neighbor_schedule

    rng = np.random.default_rng(seed)
    mask = rng.random(n) < 0.4
    if mask.all():
        mask[rng.integers(0, n)] = False
    known = set(np.flatnonzero(~mask))
    for g, nbrs in neighbor_schedule(mask, k):
        assert set(nbrs) <= known
        assert len(nbrs) == min(k, len(known))
        known.add(g)


def _assert_grid_nn_equals_brute(m, valid):
    from ssgp_toolbox_spark.kernels import nn

    targets = np.argwhere(~valid)
    got = nn.nn_lookup_grid(m, valid, targets)
    pts = np.argwhere(valid)
    exp = oracles.nn_fill_values(pts, m[pts[:, 0], pts[:, 1]], targets)
    assert np.array_equal(got, exp)


@settings(max_examples=10, deadline=None)
@given(st.integers(0, 2**31 - 1))
def test_grid_nn_property(seed):
    """nn_lookup_grid == brute force on random masks (tie rule incl.),
    up to 120×90 so the targets span several 1024-target chunks, with
    one column that holds no valid pixel."""
    rng = np.random.default_rng(seed)
    h, w = rng.integers(4, 121), rng.integers(4, 91)
    m = rng.normal(0, 1, (h, w))
    valid = rng.random((h, w)) < rng.uniform(0.02, 0.9)
    empty = rng.integers(w)
    valid[:, empty] = False
    if not valid.any():
        valid[rng.integers(h), (empty + 1) % w] = True
    _assert_grid_nn_equals_brute(m, valid)


def test_grid_nn_single_valid_pixel():
    """One valid pixel: all 10,799 targets of a 120×90 grid take its
    value, across every chunk boundary."""
    m = np.random.default_rng(3).normal(0, 1, (120, 90))
    valid = np.zeros(m.shape, bool)
    valid[77, 13] = True
    _assert_grid_nn_equals_brute(m, valid)


def test_grid_nn_generator_sites_equal_brute_force():
    """nn_interpolate on generator images (109×62, gap ladder up to
    96 %) equals a brute-force fill of their gap pixels from their
    valid ones."""
    from ssgp_toolbox_spark.kernels import nn

    for site in ("nn0", "nn7", "nn19"):
        for r in generator.site_rows(site, n_history=0, n_inputs=4):
            if "/input/" not in r[0]:
                continue
            m = codecs.decode(r[1], r[3], r[2], r[4])
            assert m.shape == (109, 62)
            got, status = nn.nn_interpolate(m)
            assert status == "filled"
            flagged = (m == GAP) | (m == SKIP) | (m == NODATA)
            pts, targets = np.argwhere(~flagged), np.argwhere(m == GAP)
            exp = m.copy()
            exp[m == GAP] = oracles.nn_fill_values(
                pts, m[pts[:, 0], pts[:, 1]], targets)
            assert np.array_equal(got, exp)


def test_grid_nn_rejects_key_overflow_and_no_valid_pixel():
    """The int64 (d², row, col) key has 2^62 of headroom: a 50k×50k
    raster overflows it and must raise before anything is allocated
    (the zero-stride inputs below hold one element each)."""
    from ssgp_toolbox_spark.kernels import nn

    m = np.broadcast_to(np.zeros(1), (50_000, 50_000))
    valid = np.broadcast_to(np.ones(1, bool), m.shape)
    with pytest.raises(ValueError, match="50000x50000"):
        nn.nn_lookup_grid(m, valid, np.zeros((1, 2), np.int64))
    with pytest.raises(ValueError, match="no valid pixel"):
        nn.nn_lookup_grid(np.zeros((4, 3)), np.zeros((4, 3), bool),
                          np.zeros((1, 2), np.int64))


def test_flip_vertical_matches_numpy_and_is_involution(spark):
    """C9 decode-time swath flip (S3_L2_LST.py:157-159)."""
    import numpy as np

    from ssgp_toolbox_spark import codecs, generator
    from ssgp_toolbox_spark.functions import ingest

    imgs = generator.images_df(spark, sites=("stp",), n_history=2, n_inputs=1)
    orig = {r["image_id"]: codecs.decode(bytes(r["bytes"]), r["h"], r["w"], r["fmt"])
            for r in imgs.collect()}
    once = ingest.flip_vertical(imgs)
    for r in once.collect():
        m = codecs.decode(bytes(r["bytes"]), r["h"], r["w"], r["fmt"])
        assert np.array_equal(m, np.flip(orig[r["image_id"]], axis=0))
        assert r["phash"] == codecs.phash64(m)
    twice = ingest.flip_vertical(once)
    for r in twice.collect():
        m = codecs.decode(bytes(r["bytes"]), r["h"], r["w"], r["fmt"])
        assert np.array_equal(m, orig[r["image_id"]])
