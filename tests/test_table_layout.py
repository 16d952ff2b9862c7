"""On-disk layout of the image table (io/images.py): ``role`` is the one
directory-level partition column, ``site`` a data column clustered
within each file, and snapshots of the older ``(site, role)`` layout
stay readable next to new ones."""

import json
import os

from pyspark.sql import functions as F

from ssgp_toolbox_spark import generator
from ssgp_toolbox_spark.io import images as img_io


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _images(spark, sites=("stp", "vlad")):
    return img_io.with_id_parts(generator.images_df(
        spark, sites=sites, n_history=2, n_inputs=1, shape=(30, 24)))


def _parquet_files(table):
    return [os.path.join(d, f)
            for d, _, fs in os.walk(os.path.join(table, "data"))
            for f in fs if f.endswith(".parquet")]


def _publish_old_layout(df, table):
    """Commit ``df`` by hand as one snapshot in the older ``(site,
    role)`` directory layout."""
    sid = "snap-0-old"
    data_dir = os.path.join(table, "data", sid)
    df.write.partitionBy("site", "role").parquet(data_dir)
    os.makedirs(os.path.join(table, img_io.SNAPDIR))
    with open(os.path.join(table, img_io.SNAPDIR, f"{sid}.json"), "w") as f:
        json.dump({"snapshot_id": sid, "data_dir": data_dir, "ts": 0.0}, f)


def test_site_predicate_reaches_parquet_scan(spark, tmp_path):
    """``site`` is pushed to the parquet reader (min/max stats prune
    it); ``role`` prunes directories; the filter returns exactly the
    site's rows."""
    table = str(tmp_path / "t")
    df = _images(spark)
    img_io.append_snapshot(df, table)
    loaded = img_io.load(spark, table)

    plan = _plan(loaded.filter((F.col("site") == "stp")
                               & (F.col("role") == "input")))
    pushed = plan.split("PushedFilters: [")[1].split("]")[0]
    partition = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "site" in pushed and "site" not in partition
    assert "role" in partition

    want = {r["image_id"] for r in df.filter(F.col("site") == "stp")
            .select("image_id").collect()}
    got = [r["image_id"] for r in loaded.filter(F.col("site") == "stp")
           .select("image_id").collect()]
    assert len(got) == len(want) > 0 and set(got) == want


def test_commit_writes_one_file_per_task_and_role(spark, tmp_path):
    """A commit over N partitions writes at most N x roles parquet
    files and no ``site=`` directory."""
    table = str(tmp_path / "t")
    n = 3
    df = _images(spark).repartition(n)
    roles = {r["role"] for r in df.select("role").distinct().collect()}
    assert len(roles) == 3
    img_io.append_snapshot(df, table)

    files = _parquet_files(table)
    assert 0 < len(files) <= n * len(roles)
    dirs = {d for d, _, _ in os.walk(os.path.join(table, "data"))}
    assert not any(os.path.basename(d).startswith("site=") for d in dirs)
    assert {os.path.basename(os.path.dirname(f)) for f in files} \
        == {f"role={r}" for r in roles}
    assert img_io.load(spark, table).count() == df.count()


def test_old_site_role_snapshot_loads_with_new_one(spark, tmp_path):
    """A table holding one snapshot in the older ``(site, role)``
    directory layout and one in the current layout loads both, with
    each row's ``site`` intact."""
    table = str(tmp_path / "t")
    old = _images(spark, sites=("stp",))
    new = _images(spark, sites=("vlad",))
    _publish_old_layout(old, table)
    img_io.append_snapshot(new, table)

    rows = img_io.load(spark, table).select("image_id", "site", "role") \
        .collect()
    want = {r["image_id"] for r in old.union(new).select("image_id")
            .collect()}
    assert len(rows) == len(want) and {r["image_id"] for r in rows} == want
    for r in rows:
        site, role, _ = r["image_id"].split("/")
        assert (r["site"], r["role"]) == (site, role)
    assert {r["site"] for r in rows} == {"stp", "vlad"}


def test_site_of_digits_keeps_its_text(spark, tmp_path):
    """``site`` is stored, not inferred from a directory name, so a
    site made of digits reads back as the same string (as a partition
    directory ``site=0042`` it read back as the integer 42)."""
    table = str(tmp_path / "t")
    df = spark.createDataFrame([("0042/input/20190907T000000", b"x")],
                               "image_id string, bytes binary")
    img_io.append_snapshot(df, table)
    rows = img_io.load(spark, table).select("site").collect()
    assert [r["site"] for r in rows] == ["0042"]


def test_old_layout_site_of_digits_keeps_its_text(spark, tmp_path):
    """An older-layout snapshot whose ``site`` directory is made of
    digits (``site=0042``) infers that column as a number; next to a
    current-layout snapshot, both snapshots' ``site`` still read back as
    the text ``"0042"``, not the integer 42."""
    table = str(tmp_path / "t")
    _publish_old_layout(img_io.with_id_parts(spark.createDataFrame(
        [("0042/input/20190901T000000", b"x")],
        "image_id string, bytes binary")), table)
    img_io.append_snapshot(spark.createDataFrame(
        [("0042/input/20190907T000000", b"y")],
        "image_id string, bytes binary"), table)

    loaded = img_io.load(spark, table)
    assert dict(loaded.dtypes)["site"] == "string"
    rows = loaded.select("image_id", "site", "role").collect()
    assert sorted((r["image_id"], r["site"], r["role"]) for r in rows) == [
        ("0042/input/20190901T000000", "0042", "input"),
        ("0042/input/20190907T000000", "0042", "input")]
