"""The engine's parquet table reader (`sources.layout.read_parquet`): it
infers a table's schema once and re-infers when any file changes."""

from __future__ import annotations

import os
from collections import OrderedDict

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from osmix_spark.sources import layout


def _write(path: str, **cols) -> str:
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table(cols), os.path.join(path, "part-00000.parquet"))
    return path


def test_second_read_launches_no_job(spark, spark_jobs, tmp_path):
    path = _write(str(tmp_path / "t.parquet"), a=[1, 2, 3], b=["x", "y", "z"])
    first, first_jobs = spark_jobs(lambda: layout.read_parquet(spark, path))
    second, second_jobs = spark_jobs(lambda: layout.read_parquet(spark, path))
    assert len(first_jobs) >= 1  # schema inference is a job of its own
    assert len(second_jobs) == 0
    assert second.schema == first.schema == spark.read.parquet(path).schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_rewritten_table_shows_new_columns(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    _write(path, a=[1, 2], b=[0.5, 1.5])
    assert layout.read_parquet(spark, path).columns == ["a", "b"]
    _write(path, a=[7, 8, 9], c=["p", "q", "r"])
    df = layout.read_parquet(spark, path)
    assert df.columns == ["a", "c"]
    assert sorted(tuple(r) for r in df.collect()) == [(7, "p"), (8, "q"), (9, "r")]


def test_schema_cache_stays_within_its_cap(spark, spark_jobs, tmp_path, monkeypatch):
    monkeypatch.setattr(layout, "_SCHEMA_CACHE_CAP", 2)
    monkeypatch.setattr(layout, "_SCHEMA_CACHE", OrderedDict())
    paths = [_write(str(tmp_path / f"t{i}.parquet"), **{f"c{i}": [i]}) for i in range(4)]
    for i, path in enumerate(paths):
        assert layout.read_parquet(spark, path).columns == [f"c{i}"]
        assert len(layout._SCHEMA_CACHE) <= 2
    # the least recently read table was evicted and is inferred again
    _, jobs = spark_jobs(lambda: layout.read_parquet(spark, paths[0]))
    assert len(jobs) >= 1
    _, jobs = spark_jobs(lambda: layout.read_parquet(spark, paths[3]))
    assert len(jobs) == 0
    assert len(layout._SCHEMA_CACHE) == 2


def test_missing_path_raises_like_spark(spark, tmp_path):
    missing = str(tmp_path / "nope.parquet")
    with pytest.raises(AnalysisException) as want:
        spark.read.parquet(missing)
    with pytest.raises(AnalysisException) as got:
        layout.read_parquet(spark, missing)
    assert got.value.getCondition() == want.value.getCondition() == "PATH_NOT_FOUND"
    assert str(got.value) == str(want.value)
