"""Tier-3 resumability (SURVEY.md §5.2): kill after a partial
snapshot, resume, assert no duplicate fills and complete coverage;
lineage columns present."""

import pytest
from pyspark.sql import functions as F

from ssgp_toolbox_spark import generator
from ssgp_toolbox_spark.io import images as img_io
from ssgp_toolbox_spark.operators import checkpoint, nn_fill, stats


@pytest.fixture()
def inputs(spark):
    df = generator.images_df(spark, sites=("stp",), n_history=2, n_inputs=3)
    return img_io.with_id_parts(df).filter(F.col("role") == "input").cache()


def test_resume_no_duplicates(spark, inputs, tmp_path):
    table = str(tmp_path / "out")
    compute = lambda df: nn_fill.nn_fill(df)

    # simulate a crash: first run commits only 1 row then "dies"
    first = compute(inputs.limit(1))
    img_io.append_snapshot(checkpoint.with_lineage(first, {"op": "nn"}), table)
    assert img_io.committed_ids(spark, table).count() == 1

    # restart: run_checkpointed picks up the remaining 2, then a third
    # invocation is a no-op
    sids = checkpoint.run_checkpointed(inputs, compute, spark, table, {"op": "nn"})
    assert len(sids) == 1
    again = checkpoint.run_checkpointed(inputs, compute, spark, table, {"op": "nn"})
    assert again == []

    out = img_io.load(spark, table)
    assert out.count() == 3
    assert out.select("image_id").distinct().count() == 3  # no dup fills
    assert {"partition_id", "engine_config"} <= set(out.columns)


def test_batched_checkpoints(spark, inputs, tmp_path):
    table = str(tmp_path / "out_batched")
    sids = checkpoint.run_checkpointed(
        inputs, lambda df: nn_fill.nn_fill(df), spark, table, batch_rows=1
    )
    assert len(sids) == 3  # one snapshot per row
    out = img_io.load(spark, table)
    assert out.count() == 3 and out.select("image_id").distinct().count() == 3


def test_uncommitted_data_invisible(spark, inputs, tmp_path):
    """A write without a published manifest must not be readable —
    the atomicity guarantee resume relies on."""
    import os

    table = str(tmp_path / "out_atomic")
    filled = nn_fill.nn_fill(inputs)
    img_io.append_snapshot(filled.limit(1), table)
    # fake a torn write: the data dir is written in the table's own
    # layout, then its manifest is taken back
    img_io.append_snapshot(filled.limit(2), table, snapshot_id="snap-orphan")
    os.remove(os.path.join(table, img_io.SNAPDIR, "snap-orphan.json"))
    assert os.path.isdir(os.path.join(table, "data", "snap-orphan"))
    assert img_io.load(spark, table).count() == 1


def test_gapfill_balanced_checkpointed_bounded(spark, tmp_path):
    """Bounded batches: 1 input per snapshot, bit-identical to one
    ``gapfill`` call, resume is a no-op."""
    from ssgp_toolbox_spark.operators import gapfill, stats

    df = generator.images_df(spark, sites=("stp",), n_history=4, n_inputs=2)
    imgs = stats.with_stats(img_io.with_id_parts(df)).cache()
    oneshot = {r["image_id"]: (bytes(r["bytes"]), r["filled_px"])
               for r in gapfill.gapfill(
                   imgs, method="Knn", predictor_configuration="Biome",
                   hyperparameters="Custom",
                   params={"n_neighbors": 5}).collect()}

    table = str(tmp_path / "gf_ckpt")
    sids = gapfill.gapfill_balanced_checkpointed(
        imgs, table, batch_rows=1, params={"n_neighbors": 5})
    assert len(sids) == 2  # one snapshot per viable input

    rows = img_io.load(spark, table).collect()
    assert len(rows) == 2
    for r in rows:
        exp_bytes, exp_px = oneshot[r["image_id"]]
        assert bytes(r["bytes"]) == exp_bytes
        assert r["filled_px"] == exp_px
        assert r["engine_config"]  # lineage present

    # resume after completion: nothing remaining, no new snapshots
    assert gapfill.gapfill_balanced_checkpointed(
        imgs, table, batch_rows=1, params={"n_neighbors": 5}) == []


def test_gapfill_balanced_checkpointed_ships_batch_sites_only(
        spark, tmp_path, monkeypatch):
    """Each batch's ``gapfill`` call receives the history rows of its
    own inputs' sites only, not of every site in the table; the output
    stays bit-identical to one ``gapfill`` call."""
    from ssgp_toolbox_spark.operators import gapfill, stats

    df = generator.images_df(spark, sites=("vlad", "stp"), n_history=4,
                             n_inputs=1)
    imgs = stats.with_stats(img_io.with_id_parts(df)).cache()
    oneshot = {r["image_id"]: (bytes(r["bytes"]), r["filled_px"])
               for r in gapfill.gapfill(
                   imgs, method="Knn", predictor_configuration="Biome",
                   hyperparameters="Custom",
                   params={"n_neighbors": 5}).collect()}
    assert len(oneshot) == 2

    seen = []
    real_gapfill = gapfill.gapfill

    def spy(images, *args, **kwargs):
        seen.append(sorted(r["site"] for r in images.filter(
            "role = 'history'").select("site").distinct().collect()))
        return real_gapfill(images, *args, **kwargs)

    monkeypatch.setattr(gapfill, "gapfill", spy)
    table = str(tmp_path / "gf_sites")
    sids = gapfill.gapfill_balanced_checkpointed(
        imgs, table, batch_rows=1, params={"n_neighbors": 5})
    assert len(sids) == 2
    assert sorted(seen) == [["stp"], ["vlad"]], seen

    rows = img_io.load(spark, table).collect()
    assert {r["image_id"]: (bytes(r["bytes"]), r["filled_px"])
            for r in rows} == oneshot


def test_gapfill_balanced_checkpointed_skips_inputs_without_stack(
        spark, mixed_stack_images, tmp_path, monkeypatch):
    """An input that ``gapfill`` leaves out (its site has no history
    rows, or no extra layer under Biome) is not a target: the batch
    loop ends after the fillable inputs instead of committing empty
    snapshots for it forever."""
    from ssgp_toolbox_spark.operators import gapfill

    imgs = mixed_stack_images
    oneshot = {r["image_id"]: (bytes(r["bytes"]), r["filled_px"])
               for r in gapfill.gapfill(
                   imgs, method="Knn", predictor_configuration="Biome",
                   hyperparameters="Custom",
                   params={"n_neighbors": 5}).collect()}
    assert sorted(i.split("/")[0] for i in oneshot) == ["stp", "stp"]

    commits = []
    real_append = img_io.append_snapshot

    def bounded_append(df, table_path, snapshot_id=None):
        commits.append(snapshot_id)
        assert len(commits) <= len(oneshot), "the batch loop did not end"
        return real_append(df, table_path, snapshot_id)

    monkeypatch.setattr(img_io, "append_snapshot", bounded_append)
    table = str(tmp_path / "gf_nostack")
    sids = gapfill.gapfill_balanced_checkpointed(
        imgs, table, batch_rows=1, params={"n_neighbors": 5})
    assert len(sids) == 2
    assert {r["image_id"]: (bytes(r["bytes"]), r["filled_px"])
            for r in img_io.load(spark, table).collect()} == oneshot


def test_batch_that_commits_nothing_raises(spark, inputs, tmp_path,
                                           monkeypatch):
    """A ``compute`` that emits none of its batch's targets would get
    the same batch back forever; the loop raises after that batch's
    commit, naming its ids."""
    commits = []
    real_append = img_io.append_snapshot

    def bounded_append(df, table_path, snapshot_id=None):
        commits.append(snapshot_id)
        assert len(commits) <= 3, "the batch loop did not end"
        return real_append(df, table_path, snapshot_id)

    monkeypatch.setattr(img_io, "append_snapshot", bounded_append)
    ids = sorted(r["image_id"] for r in inputs.collect())
    table = str(tmp_path / "stuck")
    with pytest.raises(RuntimeError) as err:
        checkpoint.run_checkpointed(
            inputs, lambda df: nn_fill.nn_fill(df).limit(0), spark, table,
            batch_rows=1)
    assert len(commits) == 1
    assert sum(i in str(err.value) for i in ids) == 1, err.value
    # the empty snapshot leaves the table readable
    assert img_io.committed_ids(spark, table).count() == 0


_KILLED_RUN = r'''
import os
import signal
import sys

from ssgp_toolbox_spark import generator
from ssgp_toolbox_spark.io import images as img_io
from ssgp_toolbox_spark.operators import gapfill, stats
from ssgp_toolbox_spark.session import get_spark

table = sys.argv[1]
real_rename = os.rename
published = []


def rename(src, dst):
    # the manifest rename is the commit point of append_snapshot: die
    # just before the second one, with its data dir already written
    if os.path.dirname(dst) == os.path.join(table, img_io.SNAPDIR):
        if len(published) == 1:
            sid = os.path.basename(dst)[:-len(".json")]
            assert os.path.isdir(os.path.join(table, "data", sid))
            os.kill(os.getpid(), signal.SIGKILL)
        published.append(dst)
    real_rename(src, dst)


os.rename = rename
spark = get_spark("ssgp-killed-run", master="local[2]",
                  extra_confs={"spark.sql.shuffle.partitions": "4",
                               "spark.driver.memory": "1g"})
imgs = stats.with_stats(img_io.with_id_parts(generator.images_df(
    spark, sites=("stp",), n_history=4, n_inputs=3)))
gapfill.gapfill_balanced_checkpointed(imgs, table, batch_rows=1,
                                      params={"n_neighbors": 5})
'''


def test_gapfill_balanced_checkpointed_resumes_after_kill(spark, tmp_path):
    """A run SIGKILLed inside its second commit (data dir written,
    manifest not yet published) resumes to exactly a one-shot
    ``gapfill``: every input once, bit-identical, and the torn
    snapshot stays invisible."""
    import os
    import signal
    import subprocess
    import sys

    from ssgp_toolbox_spark.operators import gapfill

    table = str(tmp_path / "gf_killed")
    script = tmp_path / "killed_run.py"
    script.write_text(_KILLED_RUN)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "PYTHONPATH": os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)}
    proc = subprocess.run([sys.executable, str(script), table], env=env,
                          capture_output=True, text=True, timeout=600)
    assert proc.returncode == -signal.SIGKILL, proc.stderr[-2000:]
    assert len(img_io.snapshots(table)) == 1
    assert len(os.listdir(os.path.join(table, "data"))) == 2
    assert img_io.load(spark, table).count() == 1

    df = generator.images_df(spark, sites=("stp",), n_history=4, n_inputs=3)
    imgs = stats.with_stats(img_io.with_id_parts(df)).cache()
    oneshot = {r["image_id"]: (bytes(r["bytes"]), r["filled_px"],
                               r["mean_cv_mae"])
               for r in gapfill.gapfill(
                   imgs, method="Knn", predictor_configuration="Biome",
                   hyperparameters="Custom",
                   params={"n_neighbors": 5}).collect()}
    assert len(oneshot) == 3

    sids = gapfill.gapfill_balanced_checkpointed(
        imgs, table, batch_rows=1, params={"n_neighbors": 5})
    assert len(sids) == 2
    rows = img_io.load(spark, table).collect()
    assert sorted(r["image_id"] for r in rows) == sorted(oneshot)
    assert {r["image_id"]: (bytes(r["bytes"]), r["filled_px"],
                            r["mean_cv_mae"]) for r in rows} == oneshot
    imgs.unpersist()
