"""Cellular automaton parity: engine kernel vs naive transcription of
common_functions.py:34-193 (seeded), plus the Spark operator."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from ssgp_toolbox_spark import codecs, generator
from ssgp_toolbox_spark.io import images as img_io
from ssgp_toolbox_spark.kernels import cellular as ca
from ssgp_toolbox_spark.operators import cellular as ca_op
from ssgp_toolbox_spark.operators import stats
from ssgp_toolbox_spark.sentinels import GAP


def _oracle_step(matrix, biome_matrix, rng, gap=GAP):
    """Direct transcription of common_functions.py:47-188 with the
    unseeded random.random() replaced by the shared seeded rng, drawn
    in the same scan positions."""
    biome_matrix[matrix == gap] = gap
    next_matrix = matrix.copy()
    valid = matrix[matrix != gap]
    amplitude = valid.max() - valid.min()
    h, w = matrix.shape
    for i in range(h):
        for j in range(w):
            if i == 0:
                if j == 0:
                    arr = matrix[i:i + 2, j:j + 2]
                elif j == w - 1:
                    arr = matrix[i:i + 2, j - 1:j + 1]
                else:
                    arr = matrix[i:i + 2, j - 1:j + 2]
            elif j == 0:
                if i == h - 1:
                    arr = matrix[i - 1:i + 1, j:j + 2]
                else:
                    arr = matrix[i - 1:i + 2, j:j + 2]
            elif i == h - 1:
                if j == w - 1:
                    arr = matrix[i - 1:i + 1, j - 1:j + 1]
                else:
                    arr = matrix[i - 1:i + 1, j - 1:j + 2]
            elif j == w - 1:
                arr = matrix[i - 1:i + 2, j - 1:j + 1]
            elif matrix[i, j] == gap:
                arr = np.zeros((2, 2))
            else:
                arr = matrix[i - 1:i + 2, j - 1:j + 2]
            id_cloud = np.argwhere(arr == gap)
            if len(id_cloud) != 0 and matrix[i, j] != gap:
                prob_number = rng.random()
                n = len(id_cloud)
                if n >= 8:
                    fact = 0.8
                elif n == 7:
                    fact = 0.85
                elif n == 6:
                    fact = 0.9
                elif n == 5:
                    fact = 0.95
                else:
                    fact = 0.99
                code = biome_matrix[i, j]
                coords = np.argwhere(biome_matrix == code)
                if len(coords) < 41:
                    coords = np.argwhere(matrix != gap)
                d = np.sqrt(((coords - np.array([i, j])) ** 2).sum(axis=1)).astype(float)
                sel = []
                for _ in range(min(40, len(coords))):
                    k = int(np.argmin(d))
                    sel.append(coords[k])
                    d[k] = np.inf
                med = np.median([matrix[a, b] for a, b in sel])
                value = (matrix[i, j] - med) / amplitude
                if value >= 0:
                    pass
                elif n < 3:
                    pass
                else:
                    fact = fact + value
                    if prob_number >= fact:
                        next_matrix[i, j] = gap
    return next_matrix


@pytest.fixture(scope="module")
def scene():
    m = generator.temperature_field("ca", 24, 20, 0)
    # a cold anomaly next to a cloud -> expansion candidates
    m[8:12, 8:12] = GAP
    m[12:14, 8:12] -= 6.0
    biome = generator.zone_raster("ca", 24, 20, n_zones=3).astype(float)
    return m, biome


def test_step_matches_oracle(scene):
    m, biome = scene
    ours = ca.cellular_step(m.copy(), biome.copy(), np.random.default_rng(7))
    ref = _oracle_step(m.copy(), biome.copy(), np.random.default_rng(7))
    assert np.array_equal(ours, ref)


def test_expand_iterates_and_grows(scene):
    m, biome = scene
    out = ca.cellular_expand(m, biome, iters=5, seed=3)
    assert (out == GAP).sum() >= (m == GAP).sum()
    # determinism
    out2 = ca.cellular_expand(m, biome, iters=5, seed=3)
    assert np.array_equal(out, out2)
    # original clouds never un-gap
    assert (out[m == GAP] == GAP).all()


def test_cloud_expand_spark(spark):
    images = stats.with_stats(img_io.with_id_parts(
        generator.images_df(spark, sites=("stp",), n_history=2, n_inputs=1)
    ))
    got = ca_op.cloud_expand(images, iters=2).collect()
    assert len(got) == 1
    r = got[0]
    m = codecs.decode(bytes(r["bytes"]), r["h"], r["w"], r["fmt"])
    assert r["expanded_px"] >= 0
    # matches local kernel with same seed
    src = {x["image_id"]: x for x in images.filter(F.col("role") == "input").collect()}[r["image_id"]]
    extra = {x["site"]: x for x in images.filter(F.col("role") == "extra").collect()}["stp"]
    m_in = codecs.decode(bytes(src["bytes"]), src["h"], src["w"], src["fmt"])
    biome = codecs.decode(bytes(extra["bytes"]), extra["h"], extra["w"], extra["fmt"])
    from ssgp_toolbox_spark.operators.gapfill import _stable_seed

    exp = ca.cellular_expand(m_in, biome, iters=2, seed=_stable_seed(r["image_id"]))
    assert np.array_equal(m, exp)


def test_cloud_expand_rejects_two_extra_layers(two_extra_images):
    """A site with two ``role='extra'`` rows fails the query, naming the
    site, instead of expanding with an arbitrary one of them."""
    with pytest.raises(Exception, match="site 'stp' has more than one"):
        ca_op.cloud_expand(two_extra_images, iters=1).collect()
