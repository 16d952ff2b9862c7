"""Deep-history gapfill: bit-identical to ``gapfill`` while never
materializing a stacked history (operators/deep_gapfill.py). Parity
across kernel dispatches (batched Knn + generic per-pixel) and a
deep-stack run whose per-row Arrow payloads are asserted bounded."""

import numpy as np
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


def _by_id(rows):
    return {r["image_id"]: r for r in rows}


@pytest.mark.parametrize("method,config,hp,params", [
    ("Knn", "Biome", "Custom", {"n_neighbors": 5}),     # batched core
    ("Knn", "Random", "Custom", {"n_neighbors": 5}),
    ("Lasso", "Biome", "Custom", {"alpha": 1.0}),       # generic core
])
def test_deep_equals_gapfill(spark, images, method, config, hp, params):
    base = _by_id(gapfill.gapfill(
        images, method=method, predictor_configuration=config,
        hyperparameters=hp, params=params).collect())
    deep = _by_id(deep_gapfill.gapfill_deep(
        images, method=method, predictor_configuration=config,
        hyperparameters=hp, params=params, chunk_px=97).collect())
    assert set(deep) == set(base)
    for iid, r in deep.items():
        b = base[iid]
        assert r["status"] == b["status"]
        assert r["filled_px"] == b["filled_px"]
        assert r["phash"] == b["phash"]
        m = codecs.decode(bytes(r["bytes"]), r["h"], r["w"], r["fmt"])
        e = codecs.decode(bytes(b["bytes"]), b["h"], b["w"], b["fmt"])
        assert np.array_equal(m, e), iid
        if b["status"] == "filled":
            assert np.isclose(r["mean_cv_mae"], b["mean_cv_mae"], equal_nan=True)


def test_deep_gridsearch_parity(spark, images):
    """Grid-search modes route through batch.fill_keyed to the
    per-pixel core with its per-pixel seed salt — must match gapfill
    exactly."""
    kw = dict(method="Lasso", predictor_configuration="Biome",
              hyperparameters="RandomGridSearch", params=None)
    base = _by_id(gapfill.gapfill(images, **kw).collect())
    deep = _by_id(deep_gapfill.gapfill_deep(images, chunk_px=64, **kw).collect())
    for iid, r in deep.items():
        m = codecs.decode(bytes(r["bytes"]), r["h"], r["w"], r["fmt"])
        b = base[iid]
        e = codecs.decode(bytes(b["bytes"]), b["h"], b["w"], b["fmt"])
        assert np.array_equal(m, e), iid


def test_deep_equals_gapfill_with_tied_and_null_ts(spark, images):
    """History layers that share a ts, or have none, keep ``gapfill``'s
    order — ts ascending, nulls first, ties by the layer's image_id, as
    the reference sorts file names (gapfiller.py:91) — so deep equals
    ``gapfill`` at any ``chunk_px``."""
    hist = sorted((r["image_id"], r["ts"]) for r in images.filter(
        "role = 'history'").select("image_id", "ts").collect())
    images = images.withColumn(
        "ts", F.when(F.col("image_id") == hist[1][0], F.lit(hist[4][1]))
        .when(F.col("image_id") == hist[2][0], F.lit(None))
        .otherwise(F.col("ts")))
    kw = dict(method="Knn", predictor_configuration="Biome",
              hyperparameters="Custom", params={"n_neighbors": 5})

    def rows(out):
        return {r["image_id"]: (bytes(r["bytes"]), r["filled_px"], r["phash"],
                                float(r["mean_cv_mae"]).hex())
                for r in out.collect()}

    base = rows(gapfill.gapfill(images, **kw))
    assert base
    for chunk_px in (97, 4096):
        assert rows(deep_gapfill.gapfill_deep(images, chunk_px=chunk_px,
                                              **kw)) == base, chunk_px


def _exchange_columns(plan):
    """(node name, output column names) of every exchange in a physical
    plan, adaptive query stages unwrapped."""
    out, todo = [], [plan]
    while todo:
        node = todo.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if name.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if "Exchange" in name:
            attrs = node.output()
            out.append((name, [attrs.apply(i).name()
                               for i in range(attrs.size())]))
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return out


def test_deep_plan_shape(spark):
    """The call runs the side-input collect and the coords pass, one
    job each, neither writing shuffle bytes; the query's exchanges are
    keyed (no round-robin) and none carries a raster ``bytes``
    column."""
    from test_gapfill_spark import _new_jobs

    df = generator.images_df(spark, sites=("stp", "vlad"), n_history=3,
                             n_inputs=2, shape=(30, 24))
    images = stats.with_stats(img_io.with_id_parts(df)).cache()
    images.count()
    seen = set()
    _new_jobs(spark, seen)

    out = deep_gapfill.gapfill_deep(images, "Knn", "Biome", "Custom",
                                    {"n_neighbors": 5}, chunk_px=64)
    assert _new_jobs(spark, seen) == [(1, 0), (1, 0)]
    assert out.collect()
    plan = out._jdf.queryExecution().executedPlan()
    assert "RoundRobinPartitioning" not in plan.toString()
    exchanges = _exchange_columns(plan)
    assert exchanges
    for name, cols in exchanges:
        assert "bytes" not in cols, (name, cols)
    images.unpersist()


def test_deep_stack_bounded_rows(spark):
    """120-layer history on a small site: runs end-to-end, fills all
    gaps, and the planned coords rows respect the documented bound
    (chunk_px × (C+1) × 8 bytes per value blob) — i.e. nothing
    resembling a stacked history crosses the shuffle."""
    df = generator.images_df(spark, sites=("stp",), n_history=120, n_inputs=1)
    images = stats.with_stats(img_io.with_id_parts(df))

    chunk_px = 128
    n_coord = 42  # Biome: 40-nearest + target + slack is <= 41+1
    sites, inputs = gapfill._collect_side_inputs(
        images, (F.col("role") == "input") & (F.col("gap_count") > 0),
        biome=True)
    bins, _split = gapfill.plan_fill({i: m[6] for i, m in inputs.items()},
                                     spark.sparkContext.defaultParallelism,
                                     chunk_px)
    coords = deep_gapfill._coords_batches(bins, inputs, sites, "Biome",
                                          chunk_px)
    coord_rows = spark.range(0, len(bins), 1, len(bins)).mapInPandas(
        coords, deep_gapfill.COORDS_SCHEMA).collect()
    assert coord_rows
    for r in coord_rows:
        assert len(r["keys"]) // 8 <= chunk_px * n_coord
        assert len(r["last_vals"]) == len(r["keys"])
        assert len(r["idx"]) == 4 * r["n_px"] * r["n_pred"]

    out = deep_gapfill.gapfill_deep(
        images, method="Knn", predictor_configuration="Biome",
        hyperparameters="Custom", params={"n_neighbors": 5},
        chunk_px=chunk_px).collect()
    filled = [r for r in out if r["status"] == "filled"]
    assert filled
    for r in filled:
        m = codecs.decode(bytes(r["bytes"]), r["h"], r["w"], r["fmt"])
        assert (m == GAP).sum() == 0


def test_deep_plan_has_no_history_stacking(spark, images):
    """The physical plan must not collect history layers into rows:
    no `hist_layers` aggregation and no raster `bytes` inside a
    collect_list — the extraction leg ships value vectors only."""
    df = deep_gapfill.gapfill_deep(
        images, method="Knn", predictor_configuration="Biome",
        hyperparameters="Custom", params={"n_neighbors": 5})
    plan = df._jdf.queryExecution().toString()
    assert "hist_layers" not in plan
    assert "collect_list(struct(ts" in plan.replace(", ", ",") or \
           "collect_list" in plan  # layers agg is (ts, vals) structs only
    # the only collect_list aggregations are over extracted vals and
    # chunk deltas — never over a column named bytes
    for line in plan.splitlines():
        if "collect_list" in line:
            assert "bytes" not in line, line


def test_deep_rejects_two_extra_layers(two_extra_images):
    """Under Biome a site with two ``role='extra'`` rows fails the
    query, naming the site, as ``gapfill`` does; other modes do not
    read the extra layer."""
    with pytest.raises(Exception, match="site 'stp' has more than one"):
        deep_gapfill.gapfill_deep(two_extra_images, "Knn", "Biome", "Custom",
                                  {"n_neighbors": 5}).collect()
    assert deep_gapfill.gapfill_deep(two_extra_images, "Knn", "Random",
                                     "Custom",
                                     {"n_neighbors": 5}).count() == 1
