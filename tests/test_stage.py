"""plans.stage: the pinned task count of `spread`/`per_key`, the exact
framing of `per_row`, and the rule that no other module pins a task count
by hand."""

from __future__ import annotations

import ast
import os

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from osmix_spark.plans import stage

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "osmix_spark")


def test_per_key_runs_one_task_per_core_under_aqe(spark):
    """AQE coalesces the groupBy's own exchange by bytes; the explicit count
    of `spread` is exempt, so a tiny one-partition input still runs
    defaultParallelism Python tasks."""
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true"
    par = spark.sparkContext.defaultParallelism

    def partition_of_group(key, pdf: pd.DataFrame) -> pd.DataFrame:
        from pyspark import TaskContext

        return pd.DataFrame({"k": [int(key[0])], "part": [TaskContext.get().partitionId()]})

    df = spark.range(0, 256, 1, 1).select((F.col("id") % 64).alias("k"))
    schema = "k long, part int"

    out = stage.per_key(df, ["k"], partition_of_group, schema).collect()
    assert sorted(r["k"] for r in out) == list(range(64))
    assert {r["part"] for r in out} == set(range(par))

    plain = df.groupBy("k").applyInPandas(partition_of_group, schema).collect()
    assert len({r["part"] for r in plain}) < par


def test_per_row_frames_nullable_longs_exactly(spark):
    """A long column holding both an id above 2^53 and None comes back
    exact: pandas would infer float64 and round the id."""
    big = 2**53 + 1
    schema = T.StructType([T.StructField("id", T.LongType(), False),
                           T.StructField("v", T.LongType(), True)])

    def fn(r):
        if r.id % 3 == 0:
            return
        yield {"id": int(r.id), "v": big}
        yield {"id": int(r.id), "v": None}

    out = stage.per_row(spark.range(0, 6, 1, 1), fn, schema).collect()
    got = sorted(((r["id"], r["v"]) for r in out), key=lambda t: (t[0], t[1] is None))
    assert got == [(i, v) for i in (1, 2, 4, 5) for v in (big, None)]
    assert stage.per_row(spark.range(3), lambda r: iter(()), schema).collect() == []


def test_no_repartition_pinned_by_hand_outside_stage():
    """Every explicit-count repartition to the core count goes through
    `plans.stage.spread`."""
    offenders = []
    for root, _dirs, files in os.walk(PKG):
        for name in sorted(files):
            path = os.path.join(root, name)
            rel = os.path.relpath(path, PKG)
            if not name.endswith(".py") or rel == os.path.join("plans", "stage.py"):
                continue
            with open(path) as f:
                tree = ast.parse(f.read(), rel)
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "repartition"
                    and any("defaultParallelism" in ast.unparse(a)
                            for a in [*node.args, *node.keywords])
                ):
                    offenders.append(f"{rel}:{node.lineno}")
    assert offenders == []
