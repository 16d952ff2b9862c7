"""Custom sentinel (`key_values`) override API — round-3 VERDICT
"What's missing" #1. The reference lets every entry point rebind
gap/skip/NoData (fill_gaps(..., key_values=...), gapfiller.py:826-828;
Discretizator(key_values=...), timeseries.py:31, 36-38); these tests
pin (a) the defaults == the reference's published values, and (b)
remap-equivalence: running an operator on a sentinel-remapped corpus
with the matching key_values yields exactly the default result with
the same remap applied (valid pixels byte-identical, sentinel pixels
carrying the custom codes)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from ssgp_toolbox_spark import codecs, generator
from ssgp_toolbox_spark.io import images as img_io
from ssgp_toolbox_spark.operators import gapfill, nn_fill, stats
from ssgp_toolbox_spark.sentinels import (GAP, NODATA, SKIP, Sentinels,
                                          resolve_key_values)

KV = {"gap": -7.5, "skip": -15.25, "NoData": -9999.0}


def _remap(m, kv=KV):
    out = m.copy()
    out[m == GAP] = kv["gap"]
    out[m == SKIP] = kv["skip"]
    out[m == NODATA] = kv["NoData"]
    return out


def _unmap(m, kv=KV):
    out = m.copy()
    out[m == kv["gap"]] = GAP
    out[m == kv["skip"]] = SKIP
    out[m == kv["NoData"]] = NODATA
    return out


def test_defaults_match_reference():
    """Default encoding == reference gapfiller.py:805 key_values."""
    sv = resolve_key_values(None)
    assert (sv.gap, sv.skip, sv.nodata) == (-100.0, -200.0, -32768.0)
    sv2 = resolve_key_values({"gap": -1.0})
    assert (sv2.gap, sv2.skip, sv2.nodata) == (-1.0, -200.0, -32768.0)
    with pytest.raises(ValueError, match="unknown key_values"):
        resolve_key_values({"gaps": -1.0})
    with pytest.raises(ValueError, match="distinct"):
        Sentinels(gap=-1.0, skip=-1.0)


def _remapped_images(spark, **gen_kw):
    """generator corpus with every payload's sentinels remapped to KV
    (valid pixels untouched; corpus values are ~276..305 so the custom
    codes are collision-free)."""
    imgs = img_io.with_id_parts(generator.images_df(spark, sites=("mini",),
                                                    shape=(30, 20), **gen_kw))
    rows = imgs.collect()
    remapped = []
    for r in rows:
        m = _remap(codecs.decode(bytes(r["bytes"]), r["h"], r["w"], r["fmt"]))
        d = r.asDict()
        d["bytes"] = codecs.encode(m, r["fmt"])
        # kv-aware input phash: non-filled rows echo this value, so it
        # must follow the remapped corpus's own encoding convention
        d["phash"] = codecs.phash64(m, KV["gap"], KV["skip"], KV["NoData"])
        remapped.append(tuple(d[f] for f in imgs.columns))
    return spark.createDataFrame(remapped, imgs.schema)


def test_with_stats_key_values(spark):
    imgs = img_io.with_id_parts(generator.images_df(
        spark, sites=("mini",), shape=(30, 20), n_history=2, n_inputs=1))
    base = {r["image_id"]: (r["gap_count"], r["skip_count"],
                            r["nodata_count"], r["valid_px"])
            for r in stats.with_stats(imgs).collect()}
    rem = _remapped_images(spark, n_history=2, n_inputs=1)
    got = {r["image_id"]: (r["gap_count"], r["skip_count"],
                           r["nodata_count"], r["valid_px"])
           for r in stats.with_stats(rem, KV).collect()}
    assert got == base
    # and with the WRONG encoding the counts collapse to zero sentinels
    wrong = stats.with_stats(rem).agg(
        F.sum("gap_count").alias("g"), F.sum("skip_count").alias("s")).first()
    assert wrong["g"] == 0 and wrong["s"] == 0


def test_nn_fill_key_values_equivalence(spark):
    imgs = stats.with_stats(img_io.with_id_parts(generator.images_df(
        spark, sites=("mini",), shape=(30, 20), n_history=2, n_inputs=2)))
    base = {r["image_id"]: codecs.decode(bytes(r["bytes"]), r["h"], r["w"], r["fmt"])
            for r in nn_fill.nn_fill(
                imgs.filter(F.col("role") == "input")).collect()}
    rem = stats.with_stats(_remapped_images(spark, n_history=2, n_inputs=2), KV)
    got = {r["image_id"]: codecs.decode(bytes(r["bytes"]), r["h"], r["w"], r["fmt"])
           for r in nn_fill.nn_fill(
               rem.filter(F.col("role") == "input"), key_values=KV).collect()}
    assert set(got) == set(base)
    for iid in base:
        np.testing.assert_array_equal(_unmap(got[iid]), base[iid])


def test_gapfill_key_values_equivalence(spark):
    kw = dict(method="Knn", predictor_configuration="Biome",
              hyperparameters="Custom", params={"n_neighbors": 5})
    imgs = stats.with_stats(img_io.with_id_parts(generator.images_df(
        spark, sites=("mini",), shape=(30, 20), n_history=4, n_inputs=1)))
    base = {r["image_id"]: (codecs.decode(bytes(r["bytes"]), r["h"], r["w"],
                                          r["fmt"]),
                            r["filled_px"], r["mean_cv_mae"])
            for r in gapfill.gapfill(imgs, **kw).collect()}
    rem = stats.with_stats(_remapped_images(spark, n_history=4, n_inputs=1), KV)
    got = {r["image_id"]: (codecs.decode(bytes(r["bytes"]), r["h"], r["w"],
                                         r["fmt"]),
                           r["filled_px"], r["mean_cv_mae"])
           for r in gapfill.gapfill(rem, key_values=KV, **kw).collect()}
    assert set(got) == set(base) and len(base) >= 1
    for iid in base:
        bm, bpx, bmae = base[iid]
        gm, gpx, gmae = got[iid]
        assert (gpx, gmae) == (bpx, bmae)
        np.testing.assert_array_equal(_unmap(gm), bm)


def test_balanced_gapfill_rejects_stats_of_another_encoding(spark):
    """gapfill plans its tasks from the gap_count column; stats
    computed with the default encoding do not count the gaps seen under
    key_values=KV, and the fill task must say so instead of leaving the
    gaps unfilled."""
    imgs = stats.with_stats(img_io.with_id_parts(generator.images_df(
        spark, sites=("mini",), shape=(30, 20), n_history=4, n_inputs=1)))
    assert imgs.filter("role = 'input' AND gap_count > 0").count() >= 1
    with pytest.raises(Exception,
                       match=r"ValueError.*stats\.with_stats\(key_values"):
        gapfill.gapfill(imgs, method="Knn", predictor_configuration="Biome",
                        hyperparameters="Custom", params={"n_neighbors": 5},
                        key_values=KV).collect()


def test_deep_rejects_stats_of_another_encoding(spark):
    """gapfill_deep sizes its coords pass from the gap_count column;
    stats computed with the default encoding do not count the gaps seen
    under key_values=KV, and the coords task must say so instead of
    dropping the image from the output."""
    from ssgp_toolbox_spark.operators import deep_gapfill

    imgs = stats.with_stats(img_io.with_id_parts(generator.images_df(
        spark, sites=("mini",), shape=(30, 20), n_history=4, n_inputs=1)))
    assert imgs.filter("role = 'input' AND gap_count > 0").count() >= 1
    with pytest.raises(Exception,
                       match=r"ValueError.*stats\.with_stats\(key_values"):
        deep_gapfill.gapfill_deep(imgs, predictor_configuration="Biome",
                                  params={"n_neighbors": 5},
                                  key_values=KV).collect()


def test_discretize_key_values_blank_and_fill(spark):
    from ssgp_toolbox_spark.operators import discretize as disc

    imgs = stats.with_stats(img_io.with_id_parts(generator.images_df(
        spark, sites=("mini",), shape=(30, 20), n_history=4, n_inputs=0)))
    layers = imgs.filter(F.col("role") == "history")
    base = {(r["site"], r["bucket"]):
            codecs.decode(bytes(r["bytes"]), r["h"], r["w"], r["fmt"])
            for r in disc.discretize(layers, "12H", averaging="None",
                                     filling_method="median").collect()}
    rem_all = _remapped_images(spark, n_history=4, n_inputs=0)
    rem = rem_all.filter(F.col("role") == "history")
    got = {(r["site"], r["bucket"]):
           codecs.decode(bytes(r["bytes"]), r["h"], r["w"], r["fmt"])
           for r in disc.discretize(rem, "12H", averaging="None",
                                    filling_method="median",
                                    key_values=KV).collect()}
    assert set(got) == set(base)
    for key in base:
        np.testing.assert_array_equal(_unmap(got[key]), base[key])


def test_deep_and_cellular_key_values_equivalence(spark):
    """The 100 TB paths honor the override too: deep (coord-extract)
    gapfill and the cloud-expand automaton produce the default result
    remapped."""
    from ssgp_toolbox_spark.operators import cellular, deep_gapfill

    kw = dict(method="Knn", predictor_configuration="Biome",
              hyperparameters="Custom", params={"n_neighbors": 5},
              chunk_px=97)
    imgs = stats.with_stats(img_io.with_id_parts(generator.images_df(
        spark, sites=("mini",), shape=(30, 20), n_history=4, n_inputs=1)))
    base = {r["image_id"]: codecs.decode(bytes(r["bytes"]), r["h"], r["w"],
                                         r["fmt"])
            for r in deep_gapfill.gapfill_deep(imgs, **kw).collect()}
    rem = stats.with_stats(_remapped_images(spark, n_history=4, n_inputs=1), KV)
    got = {r["image_id"]: codecs.decode(bytes(r["bytes"]), r["h"], r["w"],
                                        r["fmt"])
           for r in deep_gapfill.gapfill_deep(rem, key_values=KV,
                                              **kw).collect()}
    assert set(got) == set(base) and len(base) >= 1
    for iid in base:
        np.testing.assert_array_equal(_unmap(got[iid]), base[iid])

    ca_base = {r["image_id"]: (codecs.decode(bytes(r["bytes"]), r["h"],
                                             r["w"], r["fmt"]),
                               r["expanded_px"])
               for r in cellular.cloud_expand(imgs, iters=2).collect()}
    ca_got = {r["image_id"]: (codecs.decode(bytes(r["bytes"]), r["h"],
                                            r["w"], r["fmt"]),
                              r["expanded_px"])
              for r in cellular.cloud_expand(rem, iters=2,
                                             key_values=KV).collect()}
    assert set(ca_got) == set(ca_base)
    for iid in ca_base:
        bm, bn = ca_base[iid]
        gm, gn = ca_got[iid]
        assert gn == bn
        np.testing.assert_array_equal(_unmap(gm), bm)


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=25, deadline=None)
@given(st.lists(st.floats(min_value=-1e6, max_value=-0.001,
                          allow_nan=False, width=64),
                min_size=3, max_size=3, unique=True))
def test_nn_kernel_key_values_property(codes):
    """Property: for ANY distinct negative sentinel triple, the NN
    kernel on the remapped matrix equals the default result remapped
    (numpy-level — no Spark, so hypothesis can sweep encodings)."""
    from ssgp_toolbox_spark.kernels import nn
    from ssgp_toolbox_spark.sentinels import Sentinels

    rng = np.random.default_rng(7)
    m = rng.uniform(270.0, 310.0, (12, 9))
    m[rng.random(m.shape) < 0.2] = GAP
    m[0, 0] = SKIP
    m[5, 5] = NODATA
    base, status = nn.nn_interpolate(m)
    kv = {"gap": codes[0], "skip": codes[1], "NoData": codes[2]}
    got, status2 = nn.nn_interpolate(_remap(m, kv),
                                     Sentinels(*codes))
    assert status2 == status
    np.testing.assert_array_equal(_unmap(got, kv), base)


def test_key_values_rejects_lossy_fmt(spark):
    """png16 payloads quantize with reserved codes for the DEFAULT
    sentinels only — a custom encoding there would be silently
    corrupted (custom codes quantized as data, nothing filled). The
    operators must raise up front instead."""
    from ssgp_toolbox_spark.operators import deep_gapfill

    imgs = stats.with_stats(img_io.with_id_parts(generator.images_df(
        spark, sites=("mini",), shape=(30, 20), n_history=2, n_inputs=1,
        fmt=codecs.FMT_PNG16)))
    with pytest.raises(Exception, match="npy-f64"):
        nn_fill.nn_fill(imgs.filter(F.col("role") == "input"),
                        key_values=KV).collect()
    with pytest.raises(Exception, match="npy-f64"):
        gapfill.gapfill(imgs, method="Knn", predictor_configuration="Random",
                        hyperparameters="Custom", params={"n_neighbors": 5},
                        key_values=KV).collect()
    with pytest.raises(Exception, match="npy-f64"):
        deep_gapfill.gapfill_deep(imgs, method="Knn",
                                  predictor_configuration="Random",
                                  hyperparameters="Custom",
                                  params={"n_neighbors": 5},
                                  key_values=KV).collect()
    # default encoding on png16 keeps working
    assert nn_fill.nn_fill(imgs.filter(F.col("role") == "input")).count() == 1


def test_key_values_rejects_lossy_fmt_tiled_and_stats(spark, tmp_path):
    """The guard must fire on EVERY entry point: with_stats(kv) on
    png16 would otherwise count the DEFAULT codes (gap_count=0 →
    all images routed to passthrough, bypassing the fill operators'
    own guard, which only runs inside the viable-row mapInPandas);
    the checkpointed fill (the plan contract query r06 runs) must
    raise before it commits any snapshot."""
    imgs = img_io.with_id_parts(generator.images_df(
        spark, sites=("mini",), shape=(30, 20), n_history=2, n_inputs=1,
        fmt=codecs.FMT_PNG16))
    with pytest.raises(Exception, match="npy-f64"):
        stats.with_stats(imgs, KV).select("gap_count").collect()
    table = tmp_path / "ckpt"
    with pytest.raises(Exception, match="npy-f64"):
        gapfill.gapfill_balanced_checkpointed(
            stats.with_stats(imgs), str(table), batch_rows=1, params={"n_neighbors": 5},
            key_values=KV)
    assert not list(table.glob("**/*.parquet"))
    # the default encoding still passes with_stats
    assert stats.with_stats(imgs).count() == imgs.count()
