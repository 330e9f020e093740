"""The Python stage: how a frame crosses into pandas and back.

Three shapes cover the engine's row- and group-wise Python work:

- `spread(df, *keys)` pins a stage's task count to the cores;
- `per_key(df, keys, fn, schema)` runs `fn(key, pdf)` once per group, on
  a spread frame;
- `per_row(df, fn, schema)` runs `fn(row)` once per input row and frames
  what it yields.

Whole-batch NumPy kernels (the tile vertex encoder, the point-in-polygon
refine) keep their own `mapInPandas`: they vectorize over the batch, so a
per-row call would only add overhead.
"""

from __future__ import annotations

from typing import Any, Callable, Iterable, Iterator, Sequence

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import types as T


def spread(df: DataFrame, *keys: str | Column) -> DataFrame:
    """Explicit-count repartition on the grouping keys before a
    groupBy().applyInPandas: the hash exchange it introduces satisfies the
    groupBy's distribution requirement (no second shuffle), but — unlike
    the groupBy's own exchange — an explicit partition count is exempt
    from AQE byte-based coalescing, which would otherwise pack a
    small-by-bytes, CPU-heavy Python stage into 1-2 tasks (SCALE.md
    global posture; measured round 4)."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism, *keys)


def per_key(df: DataFrame, keys: Sequence[str],
            fn: Callable[[tuple, pd.DataFrame], pd.DataFrame],
            schema: T.StructType | str) -> DataFrame:
    """`fn(key, pdf)` once per group of `keys`, in `spread` tasks."""
    return spread(df, *keys).groupBy(*keys).applyInPandas(fn, schema=schema)


def per_row(df: DataFrame, fn: Callable[[Any], Iterable[dict]],
            schema: T.StructType) -> DataFrame:
    """`fn(row)` for each `itertuples(index=False)` row of every Arrow
    batch; each dict it yields is one output row, keyed by `schema`'s
    field names. A batch that yields no row emits no frame.

    Columns are built as object Series, one per schema field: pandas
    would infer a nullable integer column as float64, and a long above
    2^53 would come back rounded."""
    names = [f.name for f in schema.fields]

    def go(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [out for r in pdf.itertuples(index=False) for out in fn(r)]
            if rows:
                yield pd.DataFrame(
                    {c: pd.Series([o[c] for o in rows], dtype=object) for c in names}
                )

    return df.mapInPandas(go, schema=schema)
