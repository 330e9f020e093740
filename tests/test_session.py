"""Session set-up tests: the Python worker daemon that
`osmix_spark.session.get_spark` installs."""

from __future__ import annotations


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

