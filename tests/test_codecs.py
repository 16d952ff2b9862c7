"""Codec round-trip tests (FIXTURES.md: decode(encode(x)) == x)."""

import numpy as np
import pytest

import oracles
from ssgp_toolbox_spark import codecs, generator, sentinels
from ssgp_toolbox_spark.kernels import nn


@pytest.fixture(scope="module")
def layer():
    return generator.make_layer("stp", 109, 62, 25, "input", 0.15)


def test_f64_roundtrip_exact(layer):
    payload = codecs.encode(layer, codecs.FMT_F64)
    out = codecs.decode(payload, 109, 62, codecs.FMT_F64)
    assert np.array_equal(layer, out)


def test_png16_sentinels_exact(layer):
    payload = codecs.encode(layer, codecs.FMT_PNG16)
    out = codecs.decode(payload, 109, 62, codecs.FMT_PNG16)
    inv = ~sentinels.is_valid(layer)
    assert np.array_equal(layer[inv], out[inv])


def test_png16_psnr_above_gate(layer):
    """Lossy path must clear the PSNR >= 40 dB invariant (input_hint)."""
    payload = codecs.encode(layer, codecs.FMT_PNG16)
    out = codecs.decode(payload, 109, 62, codecs.FMT_PNG16)
    v = sentinels.is_valid(layer)
    mse = float(((layer[v] - out[v]) ** 2).mean())
    peak = float(layer[v].max() - layer[v].min())
    psnr = 10 * np.log10(peak**2 / max(mse, 1e-30))
    assert psnr >= 40.0


def test_png16_is_real_png(layer):
    payload = codecs.encode(layer, codecs.FMT_PNG16)
    assert payload[:8] == b"\x89PNG\r\n\x1a\n"
    assert b"IHDR" in payload[:32] and payload[-8:-4] == b"IEND"


def test_phash_stable_and_locality():
    a = generator.make_layer("stp", 64, 64, 1, "history", 0.0)
    assert codecs.phash64(a) == codecs.phash64(a.copy())
    # small perturbation of valid pixels -> small hamming distance;
    # different field -> large
    near = a.copy()
    near[sentinels.is_valid(near)] += 0.01
    far = generator.make_layer("vlad", 64, 64, 9, "history", 0.0)
    ham = lambda x, y: bin((x ^ y) & (2**64 - 1)).count("1")
    assert ham(codecs.phash64(a), codecs.phash64(near)) <= 4
    assert ham(codecs.phash64(a), codecs.phash64(far)) > 10


def _phash_corpus():
    """nn_snapshot's 360 inputs (nn0-nn29 x 12 at 109x62) and their NN
    fills, fill_wide's vlad layers at 80x64, and 200 random shapes up
    to 300x300 (below 32 px a side some bins stay empty) with
    sentinels."""
    ladder = generator.GAP_LADDER
    for i in range(30):
        for k in range(12):
            m = generator.make_layer(f"nn{i}", 109, 62, k, "input",
                                     ladder[k % len(ladder)])
            yield m
            yield nn.nn_interpolate(m)[0]
    for t in range(20):
        role, frac = ("history", 0.02) if t < 12 else ("input", ladder[t % len(ladder)])
        yield generator.make_layer("vlad", 80, 64, t, role, frac)
    rng = np.random.default_rng(8)
    for _ in range(200):
        h, w = rng.integers(1, 301, size=2)
        m = rng.normal(280.0, 15.0, (h, w))
        m[rng.random((h, w)) < rng.uniform(0.0, 0.6)] = sentinels.GAP
        m[rng.random((h, w)) < 0.05] = sentinels.SKIP
        m[rng.random((h, w)) < 0.05] = sentinels.NODATA
        yield m


def test_phash_bit_equals_add_at_reference():
    """The bincount/packbits phash64 equals the np.add.at + bit-loop
    form it replaced, on default and on key_values-style sentinels."""
    kv = {"gap": -9999.0, "skip": -8888.0, "nodata": -7777.0}
    n = 0
    for m in _phash_corpus():
        want = oracles.phash64_add_at(m)
        assert codecs.phash64(m) == want
        moved = m.copy()
        for name, value in kv.items():
            moved[m == getattr(sentinels, name.upper())] = value
        assert codecs.phash64(moved, **kv) == oracles.phash64_add_at(moved, **kv) == want
        n += 1
    assert n == 940


def test_zone_vector_raster_parity():
    """FIXTURES.md §2b invariant: the WKB multipolygons rasterize back
    to the zone raster exactly (checked here via run-rect containment
    arithmetic; the Spark PIP join test re-checks via geometry)."""
    codes = generator.zone_raster("stp", 40, 30)
    rows = generator.zone_runs_wkb(codes)
    seen = np.zeros_like(codes)
    import struct

    for zone, wkb in rows:
        assert wkb[:5] == b"\x01\x06\x00\x00\x00"[:5]
        (n_polys,) = struct.unpack("<I", wkb[5:9])
        pos = 9
        for _ in range(n_polys):
            (npts,) = struct.unpack("<I", wkb[pos + 9 : pos + 13])
            pts = struct.unpack(f"<{npts * 2}d", wkb[pos + 13 : pos + 13 + npts * 16])
            xs, ys = pts[0::2], pts[1::2]
            x0, x1 = int(min(xs)), int(max(xs))
            y0, y1 = int(min(ys)), int(max(ys))
            seen[y0:y1, x0:x1] = zone
            pos += 13 + npts * 16
    assert np.array_equal(seen, codes)
