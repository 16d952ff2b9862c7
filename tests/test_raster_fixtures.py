"""Anchor the r01-r08 DuckDB fixtures (scripts/make_raster_fixtures.py)
to reality: the naive per-pixel oracles that generate them must match
the engine kernels bit-for-bit, and the banded hamming join must carry
no cross join."""

import numpy as np
import oracles

from ssgp_toolbox_spark import codecs, generator
from ssgp_toolbox_spark.kernels import cellular as ck
from ssgp_toolbox_spark.kernels import batch
from ssgp_toolbox_spark.kernels import nn
from ssgp_toolbox_spark.operators.gapfill import _stable_seed

SITE, H, W = "stp", 109, 62


def _corpus():
    hist = np.stack([
        generator.make_layer(SITE, H, W, t, "history", 0.02) for t in range(6)
    ])
    codes = generator.zone_raster(SITE, H, W).astype(np.float64)
    iid = f"{SITE}/input/{generator.layer_ts(6)}"
    inp = generator.make_layer(SITE, H, W, 6, "input", 0.04)
    return hist, codes, iid, inp


def test_naive_gapfill_oracle_matches_engine_bitwise():
    hist, codes, iid, inp = _corpus()
    seed = _stable_seed(iid)
    f_eng, s_eng = batch.fill_image(
        inp, hist, extra=codes, method="Knn",
        predictor_configuration="Biome", hyperparameters="Custom",
        params={"n_neighbors": 5}, seed=seed)
    f_nai, s_nai = oracles.gapfill_image_oracle(inp, hist, codes, seed, k=5)
    assert np.array_equal(f_eng, f_nai)
    assert np.array_equal(np.array(s_eng), np.array(s_nai))


def test_naive_phash_and_cellular_match_engine():
    hist, codes, iid, inp = _corpus()
    seed = _stable_seed(iid)
    assert oracles.phash64_oracle(inp) == codecs.phash64(inp)
    e = ck.cellular_expand(inp, codes, iters=2, seed=seed)
    n = oracles.cellular_expand_oracle(inp, codes, 2, seed)
    assert np.array_equal(e, n)
    assert oracles.phash64_oracle(e) == codecs.phash64(e)


def test_naive_nn_fill_matches_engine():
    _, _, _, inp = _corpus()
    e, st_e = nn.nn_interpolate(inp)
    n, st_n = oracles.nn_fill_fast_oracle(inp)
    assert st_e == st_n
    assert np.array_equal(e, n)


def test_fixture_parquet_matches_regenerated_oracle():
    """The committed fixtures are exactly what the oracle script
    produces today (guards against stale fixtures after corpus or
    oracle changes)."""
    import pyarrow.parquet as pq

    hist, codes, iid, inp = _corpus()
    t = pq.read_table("/root/repo/fixtures/r02_expected.parquet").to_pydict()
    seed = _stable_seed(iid)
    filled, scores = oracles.gapfill_image_oracle(inp, hist, codes, seed, k=5)
    i = t["image_id"].index(iid)
    assert t["filled_px"][i] == int((inp == oracles.GAP).sum())
    assert t["mean_cv_mae_raw"][i] == float(np.mean(scores))
    assert t["phash"][i] == oracles.phash64_oracle(filled)


def test_hamming_pairs_plan_has_no_cross_join(spark):
    import __spark_entry__ as entry

    df = entry.r08_phash_dedup(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    rows = df.collect()
    assert len(rows) == 3  # planted dup pair + exact-copy pair vs history t3
    assert all(r["hamming"] <= 8 for r in rows)


def test_r06_checkpointed_fill_matches_fixture(spark, monkeypatch):
    """r06 runs the resumable checkpointed fill (one snapshot per input)
    and returns exactly the fixture rows; its temporary table is gone
    once the query returns."""
    import os
    import tempfile

    import pyarrow.parquet as pq

    import __spark_entry__ as entry

    made = []
    real_mkdtemp = tempfile.mkdtemp

    def spy(*args, **kwargs):
        made.append(real_mkdtemp(*args, **kwargs))
        return made[-1]

    monkeypatch.setattr(tempfile, "mkdtemp", spy)
    # r06 builds its corpus from the generator: no scale-factor dir
    got = [tuple(r) for r in entry.r06_tiled_gapfill(spark, None).collect()]
    t = pq.read_table(os.path.join(os.path.dirname(__file__), "..",
                                   "fixtures", "r06_expected.parquet")) \
        .to_pydict()
    want = sorted(zip(t["image_id"], t["status"], t["filled_px"]))
    assert got == want
    assert len(made) == 1 and os.path.basename(made[0]).startswith("r06_")
    assert not os.path.exists(made[0])
