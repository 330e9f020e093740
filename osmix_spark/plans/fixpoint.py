"""The checkpoint of a convergence loop's round, with the round's stop test
read off that checkpoint's own job.

Every fixpoint of the engine (router relaxation, replacement flattening,
relation closure, duplicate clustering) re-checkpoints its frame each
round to cut lineage. The numbers the loop stops on (rows left, rows
changed, a minimum label) are aggregates over that same frame, so they
are observed while the eager checkpoint runs instead of by a probe job
(`isEmpty()`, `collect()`, `first()`) of their own.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame, Observation


def checkpoint(df: DataFrame, **metrics: Column) -> tuple[DataFrame, dict[str, Any]]:
    """`df.localCheckpoint()` and the named aggregates over `df`, observed
    during the checkpoint's own job: (checkpointed frame, {name: value}).

    `metrics` maps names to aggregate Columns, e.g. `n=F.count(F.lit(1))`.
    The values are read after the eager checkpoint has run, so no further
    Spark job starts; an empty frame yields count 0 and null for min/max.
    """
    obs = Observation()
    out = df.observe(obs, *(c.alias(k) for k, c in metrics.items())).localCheckpoint()
    return out, obs.get
