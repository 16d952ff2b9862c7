"""Resumable checkpointing + per-partition lineage (north_rule M5).

The reference has no resume story: a crash mid-run of
``fill_gaps`` loses everything not yet written as .npy (S4,
gapfiller.py:783-790). This engine checkpoints at snapshot
granularity (io/images.py: atomic manifest publish) and resumes by
**anti-joining committed image_ids** against the target set
(SURVEY.md §2.10) — no duplicate fills, complete coverage, any number
of restarts.

Lineage: every committed row carries which Spark partition produced
it, the snapshot id, and the engine config fingerprint — queryable
per-partition audit alongside the fill metrics table (S5 analog).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ssgp_toolbox_spark.io import images as img_io


def remaining(targets: DataFrame, spark: SparkSession, table_path: str) -> DataFrame:
    """Targets not yet committed — the resume anti-join."""
    done = img_io.committed_ids(spark, table_path)
    return targets.join(done, "image_id", "left_anti")


def with_lineage(df: DataFrame, config: dict | None = None) -> DataFrame:
    return df.withColumn("partition_id", F.spark_partition_id()) \
             .withColumn("engine_config", F.lit(json.dumps(config or {}, sort_keys=True)))


def run_checkpointed(targets: DataFrame, compute, spark: SparkSession,
                     table_path: str, config: dict | None = None,
                     batch_rows: int | None = None) -> list[str]:
    """Fill-and-commit loop: compute(remaining) → snapshot append,
    optionally in bounded batches (one snapshot per batch = one
    checkpoint). Returns committed snapshot ids. Safe to re-run after
    a crash: completed snapshots are skipped via the anti-join.

    Each batch must commit at least one target: a batch whose
    ``compute`` emits none of its ids would come back as the next
    batch unchanged, so the loop raises RuntimeError naming them
    instead of committing an empty snapshot per iteration forever."""
    sids = []
    left = remaining(targets, spark, table_path).count()
    while left:
        todo = remaining(targets, spark, table_path)
        if batch_rows is not None:
            todo = todo.limit(batch_rows)
        out = with_lineage(compute(todo), config)
        sids.append(img_io.append_snapshot(out, table_path))
        if batch_rows is None:
            break
        before, left = left, remaining(targets, spark, table_path).count()
        if left == before:
            stuck = sorted(r["image_id"] for r in
                           todo.select("image_id").collect())
            raise RuntimeError(
                f"checkpointed batch committed none of its targets {stuck}: "
                "compute emitted no row for them")
    return sids
