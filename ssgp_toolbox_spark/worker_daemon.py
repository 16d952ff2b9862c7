"""PySpark worker daemon that keeps no zip finders between tasks.

Started through ``spark.python.daemon.module`` (``session.DEFAULT_CONFS``).
Every Python task calls ``importlib.invalidate_caches()``, and under
CPython 3.11 each cached ``zipimport.zipimporter`` then re-reads its
whole archive directory (``Lib/zipimport.py``,
``zipimporter.invalidate_caches``): ``pyspark.zip``, the Spark jar and
py4j cost 0.17-0.24 s per task on a 4-core VM. Dropping the finders
before the fork and after each task makes that call ~free; Python
rebuilds a finder on demand from zipimport's directory cache, and a zip
added later with ``addPyFile`` is a new path, read when first imported
from.
"""

import sys
import zipimport

from pyspark import daemon


def _drop_zip_finders() -> None:
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del sys.path_importer_cache[path]


def _run_task(infile, outfile, _main=daemon.worker_main):
    try:
        return _main(infile, outfile)
    finally:
        _drop_zip_finders()


if __name__ == "__main__":
    daemon.worker_main = _run_task
    _drop_zip_finders()
    daemon.manager()
