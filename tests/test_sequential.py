"""add_outputs=True parity mode: layer i's fill feeds layer i+1's
training stack (gapfiller.py:788-790) — driver loop of Spark jobs."""

import numpy as np
from pyspark.sql import functions as F

from ssgp_toolbox_spark import codecs, generator
from ssgp_toolbox_spark.io import images as img_io
from ssgp_toolbox_spark.kernels import batch
from ssgp_toolbox_spark.operators import gapfill, stats


def test_sequential_chaining_matches_local(spark):
    images = stats.with_stats(img_io.with_id_parts(
        generator.images_df(spark, sites=("stp",), n_history=4, n_inputs=2)
    )).cache()
    out = gapfill.gapfill_sequential(
        images, method="Knn", predictor_configuration="Random",
        hyperparameters="Custom", params={"n_neighbors": 5})
    got = {r["image_id"]: bytes(r["bytes"]) for r in out.collect()}
    assert len(got) == 2

    # local oracle: fill input 1 with history H; fill input 2 with H +
    # filled(input 1)
    rows = images.collect()
    hist = sorted((r for r in rows if r["role"] == "history"), key=lambda r: r["ts"])
    tensor = np.stack([codecs.decode(bytes(r["bytes"]), r["h"], r["w"], r["fmt"])
                       for r in hist])
    inputs = sorted((r for r in rows if r["role"] == "input"), key=lambda r: r["ts"])
    i1, i2 = inputs
    m1 = codecs.decode(bytes(i1["bytes"]), i1["h"], i1["w"], i1["fmt"])
    f1, _ = batch.fill_image(m1, tensor, method="Knn",
                             predictor_configuration="Random",
                             hyperparameters="Custom",
                             params={"n_neighbors": 5},
                             seed=gapfill._stable_seed(i1["image_id"]))
    # chained: the filled layer sorts into the stack chronologically
    # (it is the latest timestamp, so it appends)
    tensor2 = np.concatenate([tensor, f1[None]])
    m2 = codecs.decode(bytes(i2["bytes"]), i2["h"], i2["w"], i2["fmt"])
    f2, _ = batch.fill_image(m2, tensor2, method="Knn",
                             predictor_configuration="Random",
                             hyperparameters="Custom",
                             params={"n_neighbors": 5},
                             seed=gapfill._stable_seed(i2["image_id"]))
    assert got[i1["image_id"]] == codecs.encode(f1, i1["fmt"])
    assert got[i2["image_id"]] == codecs.encode(f2, i2["fmt"])


def test_sequential_checkpointed_parity_and_resume(spark, tmp_path):
    """Snapshot-backed sequential fill is bit-identical to the
    in-memory chain, and a rerun recomputes nothing (resume via
    deterministic seq-<ts> snapshot ids)."""
    from ssgp_toolbox_spark import codecs, generator
    from ssgp_toolbox_spark.io import images as img_io
    from ssgp_toolbox_spark.operators import gapfill, stats

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = stats.with_stats(img_io.with_id_parts(
        generator.images_df(spark, sites=("stp",), n_history=4, n_inputs=2)))
    kw = dict(method="Knn", predictor_configuration="Random",
              hyperparameters="Custom", params={"n_neighbors": 5})
    base = {r["image_id"]: r for r in
            gapfill.gapfill_sequential(df, **kw).collect()}

    table = str(tmp_path / "seqtab")
    got = {r["image_id"]: r for r in
           gapfill.gapfill_sequential_checkpointed(df, table, **kw).collect()}
    assert set(got) == set(base)
    for iid, r in got.items():
        b = base[iid]
        assert r["phash"] == b["phash"]
        import numpy as np
        m = codecs.decode(bytes(r["bytes"]), r["h"], r["w"], r["fmt"])
        e = codecs.decode(bytes(b["bytes"]), b["h"], b["w"], b["fmt"])
        assert np.array_equal(m, e), iid

    n_snaps = len(img_io.snapshots(table))
    again = gapfill.gapfill_sequential_checkpointed(df, table, **kw).collect()
    assert len(img_io.snapshots(table)) == n_snaps  # nothing recomputed
    assert {r["image_id"] for r in again} == set(base)
