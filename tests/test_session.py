"""The session's Python worker daemon (``ssgp_toolbox_spark.worker_daemon``):
tasks start with no cached zip finders, so PySpark's per-task
``importlib.invalidate_caches()`` re-reads no archive, and zips shipped
later with ``addPyFile`` still import."""

import zipfile


def test_tasks_start_with_no_zip_finders(spark):
    """A warm-up task imports a pyspark subpackage out of pyspark.zip,
    which caches zip finders; the daemon drops them after the task, so
    every task of the next job starts with none."""
    def finders_after_import(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        importlib.import_module("pyspark.ml.linalg")
        n = sum(isinstance(f, zipimport.zipimporter)
                for f in sys.path_importer_cache.values())
        for _ in batches:
            pass
        yield pd.DataFrame({"zip_finders": [n]})

    def finders_at_start(batches):
        import sys
        import zipimport

        import pandas as pd

        n = sum(isinstance(f, zipimport.zipimporter)
                for f in sys.path_importer_cache.values())
        for _ in batches:
            pass
        yield pd.DataFrame({"zip_finders": [n]})

    n_tasks = spark.sparkContext.defaultParallelism
    df = spark.range(n_tasks, numPartitions=n_tasks)
    warm = [r.zip_finders for r in
            df.mapInPandas(finders_after_import, "zip_finders long").collect()]
    assert len(warm) == n_tasks and min(warm) > 0, warm
    after = [r.zip_finders for r in
             df.mapInPandas(finders_at_start, "zip_finders long").collect()]
    assert after == [0] * n_tasks


def test_zip_added_after_workers_start_imports(spark, tmp_path):
    """The case ``invalidate_caches()`` exists for: a zip shipped with
    ``addPyFile`` once the workers are running imports inside a task."""
    sc = spark.sparkContext
    sc.parallelize(range(8), 4).map(lambda x: x).collect()  # workers up
    archive = tmp_path / "late_dep.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("ssgp_late_dep.py", "ANSWER = 42\n")
    sc.addPyFile(str(archive))

    def use_late_dep(batches):
        import pandas as pd
        import ssgp_late_dep

        for _ in batches:
            pass
        yield pd.DataFrame({"answer": [ssgp_late_dep.ANSWER]})

    got = spark.range(4, numPartitions=4) \
        .mapInPandas(use_late_dep, "answer long").collect()
    assert [r.answer for r in got] == [42] * 4
