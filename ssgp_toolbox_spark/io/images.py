"""Image-table storage: partitioned parquet with an Iceberg-style
snapshot manifest.

No Iceberg runtime jar ships in this sandbox, so the table format is
the documented fallback (SURVEY.md §7 design stance): partitioned
parquet plus a tiny JSON manifest per committed snapshot. The
manifest gives the two Iceberg properties the engine relies on:

- **atomic, append-only snapshots** — a write lands in a uniquely
  named subdirectory and only becomes visible when its manifest JSON
  is atomically renamed into ``_snapshots/``; readers union the
  manifests. This is the resumable-checkpoint primitive (north_rule):
  restart = read manifest list, anti-join already-committed image_ids.
- **pruning** — ``role`` is the one directory-level partition column,
  so Catalyst prunes directories for predicates on it. ``site`` is a
  data column: each write task sorts its rows by ``(role, site)``, so
  a file's row groups hold narrow ``site`` ranges and parquet's min/max
  statistics skip the row groups a ``site`` predicate excludes
  (clustering instead of high-cardinality directories, as in Raptor,
  VLDB 2019). A commit writes at most one file per (write task, role),
  not one per (task, site, role): on ``nn_snapshot``'s 30 sites over 4
  tasks, 4 files instead of 32. Tables committed in the older
  ``(site, role)`` directory layout stay readable, because ``load``
  unions snapshots by column name.

On a real cluster with Iceberg available, ``writeTo(...).append()``
replaces this module 1:1 — the operator layer only uses
``load`` / ``append_snapshot`` / ``committed_ids``.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

SNAPDIR = "_snapshots"

# image_id = "{site}/{role}/{ts}" (generator.py; reference keys layers
# by filename timestamp, timeseries.py:48)
def with_id_parts(df: DataFrame) -> DataFrame:
    parts = F.split(F.col("image_id"), "/")
    return (
        df.withColumn("site", parts.getItem(0))
        .withColumn("role", parts.getItem(1))
        .withColumn("ts", F.to_timestamp(parts.getItem(2), "yyyyMMdd'T'HHmmss"))
    )


def append_snapshot(df: DataFrame, table_path: str, snapshot_id: str | None = None) -> str:
    """Atomic append: write parquet into a snapshot-unique subdir, then
    publish a manifest. Returns the snapshot id."""
    sid = snapshot_id or f"snap-{int(time.time() * 1000)}-{uuid.uuid4().hex[:8]}"
    data_dir = os.path.join(table_path, "data", sid)
    # the (role, site) sort satisfies the writer's own sort by the
    # partition column, so it adds no second sort
    (with_id_parts(df) if "site" not in df.columns else df) \
        .sortWithinPartitions("role", "site") \
        .write.mode("errorifexists").partitionBy("role").parquet(data_dir)
    os.makedirs(os.path.join(table_path, SNAPDIR), exist_ok=True)
    manifest = {"snapshot_id": sid, "data_dir": data_dir, "ts": time.time()}
    tmp = os.path.join(table_path, SNAPDIR, f".{sid}.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.rename(tmp, os.path.join(table_path, SNAPDIR, f"{sid}.json"))
    return sid


def snapshots(table_path: str) -> list[dict]:
    d = os.path.join(table_path, SNAPDIR)
    if not os.path.isdir(d):
        return []
    out = []
    for name in sorted(os.listdir(d)):
        if name.endswith(".json"):
            with open(os.path.join(d, name)) as f:
                out.append(json.load(f))
    return out


def load(spark: SparkSession, table_path: str,
         as_of: str | None = None) -> DataFrame:
    """Union of all committed snapshots (uncommitted data dirs are
    invisible — that is the resume guarantee). ``as_of`` reads the
    table as of a snapshot id — Iceberg-style time travel over the
    manifest list (snapshot ids are time-ordered by construction)."""
    snaps = snapshots(table_path)
    if as_of is not None:
        keep = [s for s in snaps if s["snapshot_id"] <= as_of]
        if not any(s["snapshot_id"] == as_of for s in snaps):
            raise ValueError(f"unknown snapshot {as_of!r}")
        snaps = keep
    # a snapshot that committed no rows has no parquet file to take a
    # schema from; it adds nothing to the union
    snaps = [s for s in snaps if _has_data(s["data_dir"])]
    if not snaps:
        raise FileNotFoundError(f"no committed rows under {table_path}")
    # each snapshot dir is partition-discovered independently, then
    # unioned by name: Catalyst prunes role directories per subtree and
    # pushes site predicates to the parquet scan (min/max stats); an
    # older snapshot whose site is a directory column unions alike
    out = None
    for s in snaps:
        df = _read_snapshot(spark, s["data_dir"])
        out = df if out is None else out.unionByName(df)
    return out


def _read_snapshot(spark: SparkSession, data_dir: str) -> DataFrame:
    """One snapshot dir, partition-discovered. Discovery infers a
    directory value made of digits (``site=0042`` in the older layout)
    as a number, and the union would then coerce every snapshot's
    ``site`` to it; such a snapshot is read again with ``site`` and
    ``role`` typed as text, which keeps each value as written. A
    snapshot in the current layout reads once."""
    df = spark.read.parquet(data_dir)
    text = T.StructType([
        T.StructField(f.name, T.StringType(), f.nullable)
        if f.name in ("site", "role") else f for f in df.schema.fields])
    if text == df.schema:
        return df
    return spark.read.schema(text).parquet(data_dir)


def _has_data(data_dir: str) -> bool:
    """Whether a snapshot dir holds a data file (Spark skips names
    starting with '_' or '.', like ``_SUCCESS``)."""
    return any(not f.startswith(("_", ".")) for _, _, files in os.walk(data_dir)
               for f in files)


def committed_ids(spark: SparkSession, table_path: str) -> DataFrame:
    """image_ids already present — the anti-join side of checkpoint
    resume (SURVEY.md §2.10)."""
    try:
        return load(spark, table_path).select("image_id").distinct()
    except FileNotFoundError:
        return spark.createDataFrame(
            [], T.StructType([T.StructField("image_id", T.StringType())])
        )
