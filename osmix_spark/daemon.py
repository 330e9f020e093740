"""PySpark worker daemon that reads each zip archive on the worker path once.

`session.get_spark` sets this module as `spark.python.daemon.module`, so
every Python task of the engine (mapInPandas, applyInPandas, pandas_udf)
runs in a worker forked from it. Run as `python -m osmix_spark.daemon`;
importing it changes nothing.

Before each task, PySpark's `worker_util.setup_spark_files` calls
`importlib.invalidate_caches()`. On CPython before 3.13 that makes every
`zipimport.zipimporter` in `sys.path_importer_cache` re-read its archive's
whole central directory: the spark-core jar (~47 ms, cached twice: the jar
and `jar/org`) and `pyspark.zip` (~11 ms, once per cached sub-package),
0.2-0.4 s per task even when the task gets no rows. The daemon installs,
before it forks any worker, a zipimporter whose `invalidate_caches` keeps
the directory it read.

It also imports pandas and pyarrow before forking. Every Arrow-batched
task (all of the engine's Python stages) needs both, and a worker that
imports them itself spends 0.25-0.4 s on its first such task; forked
children share the daemon's copy instead.
"""

from __future__ import annotations

import sys
import zipimport


class ZipImporter(zipimport.zipimporter):
    """zipimporter that does not re-read its archive on invalidate_caches."""

    def invalidate_caches(self):
        # Archives on the worker path are not rewritten during a job, and a
        # file shipped later with addPyFile arrives as a new path entry,
        # which gets a new finder; so the directory read at first import
        # stays valid for the life of the worker.
        pass


def prepare() -> None:
    """The daemon's set-up before it forks any worker."""
    sys.path_hooks[:] = [
        ZipImporter if hook is zipimport.zipimporter else hook
        for hook in sys.path_hooks
    ]
    # finders made while this module was imported are plain zipimporters;
    # dropping them makes the next lookup go through the hook above (the
    # archive's directory stays in zipimport's own cache, so this re-reads
    # nothing)
    sys.path_importer_cache.clear()
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401


def main() -> None:
    prepare()
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
