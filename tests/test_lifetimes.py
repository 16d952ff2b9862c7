"""Resource lifetimes: an operator call leaves nothing pinned in the
driver's storage memory, and no persisted RDD, once its result is
collected and dropped.

Task-side inputs ride in the UDF closures; PySpark ships a command over
``spark.broadcast.UDFCompressionThreshold`` (1 MiB by default) as a
broadcast that lives as long as the plan. Each case below builds a
command past that threshold, so a broadcast the operator kept alive
(a module registry, an un-released ``SparkContext.broadcast``) would
hold the driver's free storage memory below its starting value.
``gapfill_deep`` evaluates its coords frame once for two consumers; a
``persist()`` there would stay registered in the cache manager.
"""

import gc
import time

import numpy as np
import pytest

from ssgp_toolbox_spark import generator
from ssgp_toolbox_spark.functions import simsearch
from ssgp_toolbox_spark.io import images as img_io
from ssgp_toolbox_spark.operators import gapfill, stats


def _free_storage(sc) -> int:
    """Free storage memory summed over the block managers (the driver
    alone in local mode), in bytes."""
    it = sc._jsc.sc().getExecutorMemoryStatus().valuesIterator()
    free = 0
    while it.hasNext():
        free += it.next()._2()
    return free


def _collect_garbage(sc) -> None:
    gc.collect()
    sc._jvm.System.gc()
    time.sleep(0.5)


def _settled_free(sc) -> int:
    """Free storage once garbage from earlier calls is cleaned up: two
    equal readings in a row, at most ~10 s."""
    last = None
    for _ in range(20):
        _collect_garbage(sc)
        free = _free_storage(sc)
        if free == last:
            break
        last = free
    return free


def _balanced_fill(spark):
    images = stats.with_stats(img_io.with_id_parts(generator.images_df(
        spark, sites=("vlad", "stp"), n_history=12, n_inputs=8,
        shape=(80, 64)))).cache()
    return images, lambda: gapfill.gapfill_balanced(
        images, predictor_configuration="Biome", params={"n_neighbors": 5},
        chunk_px=1024)


def _deep_fill(spark):
    from ssgp_toolbox_spark.operators import deep_gapfill

    images = stats.with_stats(img_io.with_id_parts(generator.images_df(
        spark, sites=("stp",), n_history=4, n_inputs=2))).cache()
    return images, lambda: deep_gapfill.gapfill_deep(
        images, params={"n_neighbors": 5}, chunk_px=256)


def _ivf_assign(spark):
    rng = np.random.default_rng(5)
    cents = [[float(v) for v in row]
             for row in rng.standard_normal((5000, 64)).round(6)]
    vectors = spark.createDataFrame(
        [(i, [float(v) for v in row])
         for i, row in enumerate(rng.standard_normal((200, 64)))],
        "nid long, emb array<double>").cache()
    return vectors, lambda: simsearch.ivf_assign(vectors, cents)


def _persisted(sc) -> int:
    """Count of persisted RDDs. ``getPersistentRDDs`` answers with a map
    that holds each RDD strongly; it is detached at once, because a map
    the gateway still holds keeps the RDDs it counts from being cleaned
    up."""
    rdds = sc._jsc.getPersistentRDDs()
    try:
        return rdds.size()
    finally:
        sc._gateway.detach(rdds)


@pytest.mark.parametrize("make_op", [_balanced_fill, _deep_fill, _ivf_assign],
                         ids=["gapfill_balanced", "gapfill_deep",
                              "ivf_assign"])
def test_call_releases_storage_memory(spark, make_op):
    sc = spark.sparkContext
    inputs, op = make_op(spark)
    try:
        inputs.count()
        start = _settled_free(sc)
        start_rdds = _persisted(sc)

        df = op()
        assert df.collect()
        held = _free_storage(sc)
        assert held < start, "the command broadcast was not measured"
        del df

        deadline = time.monotonic() + 30
        free, rdds = _free_storage(sc), _persisted(sc)
        while ((free < start or rdds > start_rdds)
               and time.monotonic() < deadline):
            _collect_garbage(sc)
            free, rdds = _free_storage(sc), _persisted(sc)
        assert free >= start, (
            f"{(start - free) / 2**20:.2f} MiB of storage still held "
            f"({(start - held) / 2**20:.2f} MiB while the result was live)")
        assert rdds == start_rdds, f"{rdds - start_rdds} persisted RDDs left"
    finally:
        inputs.unpersist()
