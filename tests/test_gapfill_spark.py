"""Gapfill operator (EP1) on Spark: distributed result must equal the
local kernel run with the same per-image seed (determinism/resume
guarantee), branches per reference viability rules."""

import numpy as np
import oracles
import pytest
from pyspark.sql import functions as F

from ssgp_toolbox_spark import codecs, generator
from ssgp_toolbox_spark.io import images as img_io
from ssgp_toolbox_spark.operators import deep_gapfill, gapfill, stats
from ssgp_toolbox_spark.sentinels import GAP


@pytest.fixture(scope="module")
def images(spark):
    df = generator.images_df(spark, sites=("stp",), n_history=6, n_inputs=2)
    return stats.with_stats(img_io.with_id_parts(df)).cache()


@pytest.mark.parametrize("config", ["Random", "Biome"])
def test_spark_fill_equals_local_kernel(spark, images, config):
    rows = images.collect()
    expected = oracles.whole_image_fills(rows, "Knn", config, "Custom",
                                         {"n_neighbors": 5})
    got = gapfill.gapfill(images, method="Knn", predictor_configuration=config,
                          hyperparameters="Custom", params={"n_neighbors": 5}).collect()
    filled_rows = [r for r in got if r["status"] == "filled"]
    assert len(filled_rows) == len(expected)
    for r in filled_rows:
        exp_m, exp_scores, _ = expected[r["image_id"]]
        m = codecs.decode(bytes(r["bytes"]), r["h"], r["w"], r["fmt"])
        assert np.array_equal(m, exp_m), r["image_id"]
        assert (m == GAP).sum() == 0
        if exp_scores:
            assert np.isclose(r["mean_cv_mae"], float(np.mean(exp_scores)))


def test_passthrough_and_nonviable_branches(spark):
    df = generator.images_df(spark, sites=("stp",), n_history=4, n_inputs=1)
    # craft a no-gap input and a nonviable (tiny valid count) input
    import pandas as pd

    from ssgp_toolbox_spark.sentinels import SKIP

    nogap = generator.make_layer("stp", 109, 62, 99, "input", 0.0)
    dead = np.full((109, 62), SKIP)
    dead[0, :50] = 290.0  # 50 valid <= 101
    extra_rows = [
        generator.image_row("stp", "input", "20991231T000000", nogap, codecs.FMT_F64, 0),
        generator.image_row("stp", "input", "20991231T120000", dead, codecs.FMT_F64, 0),
    ]
    df = df.unionByName(spark.createDataFrame(extra_rows, df.schema))
    prepared = stats.with_stats(img_io.with_id_parts(df))
    got = gapfill.gapfill(prepared, method="Knn", hyperparameters="Custom",
                          params={"n_neighbors": 5}).collect()
    by_id = {r["image_id"]: r for r in got}
    assert by_id["stp/input/20991231T000000"]["status"] == "passthrough"
    assert by_id["stp/input/20991231T000000"]["mean_cv_mae"] == 0.0
    # nonviable image excluded entirely (reference 'continue',
    # gapfiller.py:856-861)
    assert "stp/input/20991231T120000" not in by_id


def test_fill_metrics_lineage(spark, images):
    out = gapfill.gapfill(images, method="Knn", hyperparameters="Custom",
                          params={"n_neighbors": 5})
    m = gapfill.fill_metrics(out)
    rows = m.collect()
    assert {"image_id", "status", "filled_px", "mean_cv_mae", "partition_id",
            "computed_at"} <= set(m.columns)
    assert all(r["partition_id"] >= 0 for r in rows)


def test_lasso_kernel_on_spark(spark):
    """Non-batched dispatch path (Lasso/Custom is deterministic CD):
    Spark result == local kernel."""
    df = generator.images_df(spark, sites=("stp",), n_history=5, n_inputs=1)
    images = stats.with_stats(img_io.with_id_parts(df)).cache()
    rows = images.collect()
    expected = oracles.whole_image_fills(rows, "Lasso", "Random", "Custom",
                                         {"alpha": 1.0})
    got = gapfill.gapfill(images, method="Lasso",
                          predictor_configuration="Random",
                          hyperparameters="Custom", params={"alpha": 1.0}).collect()
    for r in got:
        if r["status"] != "filled":
            continue
        exp_m, _, _ = expected[r["image_id"]]
        m = codecs.decode(bytes(r["bytes"]), r["h"], r["w"], r["fmt"])
        assert np.allclose(m, exp_m, equal_nan=True)


def test_gridsearch_mode_smoke(spark):
    """RandomGridSearch mode end-to-end on a tiny image (envelope
    check only — stochastic search, FIXTURES.md §4)."""
    import pandas as pd

    small = generator.make_layer("gs", 20, 16, 9, "input", 0.1)
    rows = [generator.image_row("gs", "input", "20190910T000000", small,
                                codecs.FMT_F64, 10)]
    rows += generator.site_rows("gs", n_history=5, n_inputs=0, shape=(20, 16))
    df = spark.createDataFrame(rows, schema=generator.IMAGE_COLUMNS)
    images = stats.with_stats(img_io.with_id_parts(df))
    got = gapfill.gapfill(images, method="Knn",
                          predictor_configuration="Random",
                          hyperparameters="RandomGridSearch",
                          min_valid=50).collect()
    assert len(got) == 1 and got[0]["status"] == "filled"
    m = codecs.decode(bytes(got[0]["bytes"]), 20, 16, codecs.FMT_F64)
    assert (m == -100.0).sum() == 0
    # values within the physical range of the synthetic field
    assert 250 < np.median(m[m > -50]) < 330


@pytest.mark.parametrize("fill,config", [
    pytest.param(gapfill.gapfill, "Biome", id="Biome"),
    pytest.param(gapfill.gapfill, "Random", id="Random"),
    pytest.param(deep_gapfill.gapfill_deep, "Biome", id="deep-Biome"),
    pytest.param(deep_gapfill.gapfill_deep, "Random", id="deep-Random"),
])
def test_input_without_stack_is_excluded(mixed_stack_images, fill, config):
    """An input whose site has no history rows (or, under Biome, no
    extra layer) has nothing to train on and is left out, by
    ``gapfill`` and ``gapfill_deep`` alike; the other inputs equal the
    whole-image kernel."""
    images = mixed_stack_images
    mode = ("Knn", config, "Custom", {"n_neighbors": 5})
    want = oracles.whole_image_fills(images.collect(), *mode)
    got = {r["image_id"]: (bytes(r["bytes"]), r["filled_px"], r["phash"],
                           float(r["mean_cv_mae"]).hex())
           for r in fill(images, *mode).collect()}
    filled_sites = {"stp", "nox"} if config == "Random" else {"stp"}
    assert set(got) == {r["image_id"] for r in images.filter(
        "role = 'input'").collect() if r["site"] in filled_sites}
    assert got == {i: v[2] for i, v in want.items()}


def test_gapfill_balanced_forwards_knn_biome_custom(monkeypatch):
    """``gapfill_balanced`` is ``gapfill`` with Knn / Biome / Custom
    defaults and nothing else."""
    calls = []
    monkeypatch.setattr(gapfill, "gapfill", lambda *a: calls.append(a))
    gapfill.gapfill_balanced("imgs")
    gapfill.gapfill_balanced("imgs", "Random", {"n_neighbors": 3}, 50, 64,
                             "Lasso", "RandomGridSearch", {"gap": -1.0})
    assert calls == [
        ("imgs", "Knn", "Biome", "Custom", None, 101, None, 512),
        ("imgs", "Lasso", "Random", "RandomGridSearch", {"n_neighbors": 3},
         50, {"gap": -1.0}, 64)]


def _new_jobs(spark, seen):
    """(stage count, shuffle bytes written) of each Spark job finished
    since the ids in ``seen``, which is updated; read from the
    application's status store once the listener bus has drained."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    jobs = store.jobsList(None)
    out = []
    for job in sorted((jobs.apply(i) for i in range(jobs.size())),
                      key=lambda j: j.jobId()):
        if job.jobId() in seen:
            continue
        seen.add(job.jobId())
        ids = job.stageIds()
        written = 0
        for s in (ids.apply(i) for i in range(ids.size())):
            attempts = store.stageData(s, False, None, False, None)
            written += sum(attempts.apply(a).shuffleWriteBytes()
                           for a in range(attempts.size()))
        out.append((ids.size(), written))
    return out


def test_unsplit_call_runs_one_side_input_job_and_one_fill_job(spark):
    """Without a split image, ``gapfill`` reads its side inputs (history,
    extra layers, viable inputs) in one job and fills in one more, and
    neither job exchanges data."""
    df = generator.images_df(spark, sites=("stp", "vlad"), n_history=3,
                             n_inputs=2, shape=(30, 24))
    images = stats.with_stats(img_io.with_id_parts(df)).cache()
    counts = {r["image_id"]: r["gap_count"] for r in images.filter(
        "role = 'input' AND gap_count > 0").collect()}
    chunk_px = max(counts.values())
    assert gapfill.plan_fill(counts, spark.sparkContext.defaultParallelism,
                             chunk_px)[1] == set()
    seen = set()
    _new_jobs(spark, seen)

    out = gapfill.gapfill(images, "Knn", "Biome", "Custom",
                          {"n_neighbors": 5}, chunk_px=chunk_px)
    side = _new_jobs(spark, seen)
    rows = out.collect()
    fill = _new_jobs(spark, seen)
    assert side == [(1, 0)]
    assert fill == [(1, 0)]
    assert {r["image_id"] for r in rows if r["status"] == "filled"} \
        == set(counts)


def test_side_input_stacks_follow_pack_history_order(spark):
    """The driver-built stacks keep ``pack_history``'s
    ``sort_array(struct(ts, image_id, bytes, h, w, fmt))`` order: ts
    ascending, nulls first, ties broken by the layer's image_id (the
    reference sorts file names, gapfiller.py:91)."""
    df = generator.images_df(spark, sites=("stp",), n_history=5,
                             n_inputs=1, shape=(20, 16))
    images = stats.with_stats(img_io.with_id_parts(df))
    hist = images.filter("role = 'history'").orderBy("image_id").collect()
    # two layers share the third layer's ts, one has no ts
    tie_ts, null_id = hist[2]["ts"], hist[4]["image_id"]
    images = images.withColumn(
        "ts", F.when(F.col("image_id") == hist[0]["image_id"], F.lit(tie_ts))
        .when(F.col("image_id") == null_id, F.lit(None))
        .otherwise(F.col("ts"))).cache()
    want = [(bytes(l["bytes"]), l["h"], l["w"], l["fmt"])
            for l in gapfill.pack_history(images.filter(
                "role = 'history'")).collect()[0]["hist_layers"]]
    sites, _inputs = gapfill._collect_side_inputs(
        images, F.lit(False), biome=False)
    assert sites["stp"][0] == want
    assert want[0][0] == bytes(hist[4]["bytes"])  # the null ts leads
    # the tied pair follows image_id order
    payloads = [p for p, *_ in want]
    assert payloads.index(bytes(hist[0]["bytes"])) \
        < payloads.index(bytes(hist[2]["bytes"]))


def test_two_extra_layers_for_one_site_raise(two_extra_images):
    """The reference loads exactly one Extra/Extra.npy per run
    (gapfiller.py:830-835); a site with two extra rows is an error,
    not an arbitrary pick."""
    images = two_extra_images
    with pytest.raises(ValueError, match="'stp'"):
        gapfill.gapfill(images, "Knn", "Biome", "Custom",
                        {"n_neighbors": 5})
    # the extra layer is not read outside Biome
    assert gapfill.gapfill(images, "Knn", "Random", "Custom",
                           {"n_neighbors": 5}).count() == 1
