"""PySpark's worker daemon (`pyspark.daemon`) without archives on the
workers' import path; conftest.py selects it through
`spark.python.daemon.module`.

Spark puts `pyspark.zip`, the py4j zip and the spark-core jar at the head of
the Python workers' PYTHONPATH. At the start of every task PySpark's worker
calls `importlib.invalidate_caches()` (`worker_util.setup_spark_files`), and
on Python < 3.13 that makes each zipimporter re-read its archive's whole
directory, ~0.25 s per task on a 4-core host. Most tasks in this suite do a
few milliseconds of work, so that read was most of the suite's Python time.

When the same pyspark and py4j are importable without the archives (they are
whenever pyspark is pip-installed), the daemon drops the archive entries
from `sys.path` and from the importer cache before it imports pyspark; the
workers it forks inherit that. Otherwise it runs `pyspark.daemon` unchanged.
"""

import sys
from importlib.machinery import PathFinder


def _is_archive(entry: str) -> bool:
    return any(ext in entry for ext in (".zip", ".jar"))


def _drop_archives() -> None:
    path = [p for p in sys.path if not _is_archive(p)]
    if any(PathFinder.find_spec(m, path) is None for m in ("pyspark", "py4j")):
        return
    sys.path[:] = path
    for entry in [e for e in sys.path_importer_cache if _is_archive(e)]:
        del sys.path_importer_cache[entry]


if __name__ == "__main__":
    _drop_archives()
    from pyspark import daemon

    daemon.manager()
