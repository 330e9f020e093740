"""Session set-up tests: the Python worker daemon that
`osmix_spark.session.get_spark` installs."""

from __future__ import annotations

import os
import subprocess
import sys


def test_worker_zip_finders_keep_their_directory(spark):
    """Inside a task, every zip finder on the worker path comes from the
    daemon's path hook, whose invalidate_caches does not re-read the
    archive before each task."""

    def finder_kinds(_):
        import sys
        import zipimport

        yield [
            (path, type(f) is zipimport.zipimporter)
            for path, f in sys.path_importer_cache.items()
            if isinstance(f, zipimport.zipimporter)
        ]

    kinds = spark.sparkContext.parallelize([0], 1).mapPartitions(finder_kinds).collect()[0]
    assert kinds, "no zip archive on the worker path"
    assert not [path for path, plain in kinds if plain]


def test_daemon_imports_pandas_and_pyarrow_before_forking():
    """The daemon's pre-fork set-up imports pandas and pyarrow, so forked
    workers share them instead of each importing them on its first Arrow
    task."""
    code = (
        "import sys\n"
        "from osmix_spark import daemon\n"
        "mods = ('pandas', 'pyarrow')\n"
        "assert not [m for m in mods if m in sys.modules]\n"
        "daemon.prepare()\n"
        "print(sorted(m for m in mods if m in sys.modules))\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run([sys.executable, "-c", code], cwd=root,
                         capture_output=True, text=True, check=True)
    assert out.stdout.splitlines()[-1] == "['pandas', 'pyarrow']"
