"""SparkSession factory with the engine's tuned defaults.

Settings chosen for the 100 TB target (SURVEY.md §4): AQE on (runtime
skew-join + partition coalescing), Arrow transfer on for the pandas
UDF kernels with a batch size bounded so one batch of decoded rasters
fits executor memory, shuffle partitions sized for the local[32]
sandbox (override on a real cluster via spark-submit --conf).

Python workers fork from ``worker_daemon`` (``spark.python.daemon.module``)
instead of ``pyspark.daemon``. PySpark calls ``importlib.invalidate_caches()``
at the start of every task, and under CPython 3.11 that makes each
``zipimport.zipimporter`` in ``sys.path_importer_cache`` re-read its
archive's whole directory (``Lib/zipimport.py``,
``zipimporter.invalidate_caches``). A worker caches 16 of them (12 on
``pyspark.zip``, 2 on the Spark core jar, 2 on py4j), which cost every
task 0.17-0.24 s (median, 4-core VM) before it did any work. The daemon
drops them before it forks and after each task, so the call is ~free
(an identity ``mapInPandas`` over 12 tasks at local[4]: median
1.00-1.06 s before, 0.43-0.46 s after). The daemon starts before any
``--py-files`` or ``addPyFile`` path is set up, so the workers also get
this package's root on their ``PYTHONPATH``.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DEFAULT_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # one 109×62 f64 raster ≈ 54 KB; 256 rows/batch ≈ 14 MB Arrow batches
    "spark.sql.execution.arrow.maxRecordsPerBatch": "256",
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
    # PySpark's daemon, minus the cached zip finders that make the
    # importlib.invalidate_caches() at the start of every Python task
    # re-read pyspark.zip, the Spark jar and py4j (0.17-0.24 s a task
    # under CPython 3.11; module docstring)
    "spark.python.daemon.module": "ssgp_toolbox_spark.worker_daemon",
}


@contextmanager
def stream_partitions(spark: SparkSession, n: int | None = None):
    """Scale the SHUFFLE partitioning of a bounded streaming run to
    its key cardinality instead of the session's scan parallelism.

    A stateful streaming operator allocates one state-store instance
    per shuffle partition per micro-batch (open + commit + checkpoint
    file each); the session default (sized for relational scans) is
    pure overhead when the stream has a handful of keys. The value is
    a deployment knob, not a local constant: default
    ``$SPARK_GRAFT_STREAM_PARTITIONS`` (8 — comfortably above the
    contract streams' ≤2 sites); production streams keyed on many
    sites raise it (the count is pinned into the checkpoint at the
    first batch, so pick it for the stream's lifetime). Restores the
    session conf afterwards — run the whole bounded stream (start +
    awaitTermination) inside the ``with`` block, because stateful
    planning reads the conf at the FIRST micro-batch, not at
    ``writeStream`` definition time."""
    if n is None:
        n = int(os.environ.get("SPARK_GRAFT_STREAM_PARTITIONS", "8"))
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def get_spark(app_name: str = "ssgp-toolbox-spark", master: str | None = None,
              extra_confs: dict | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # one BLAS thread per task: Spark supplies the parallelism; an
    # unpinned OpenBLAS would oversubscribe every core from every
    # Python worker (and silently use the whole box at local[N<cores],
    # wrecking both throughput and any scaling measurement)
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{cpus}]"
    )
    confs = {**DEFAULT_CONFS, **(extra_confs or {})}
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        confs.setdefault(f"spark.executorEnv.{var}", "1")
    # the worker daemon is imported before any --py-files/addPyFile
    # path is set up, so workers find this package where the driver did
    key = "spark.executorEnv.PYTHONPATH"
    confs[key] = os.pathsep.join(p for p in (_PACKAGE_ROOT, confs.get(key)) if p)
    for k, v in confs.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
