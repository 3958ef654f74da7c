"""The two plan steps that differ between one query and a query batch.

A ranker scores a *query frame*: one query, or a batch whose rows
carry the query id ``qid``. The key set is read from the frame's
columns, so a single scoring body serves both, as ``graph._bfs_levels``
does for traversal. These two helpers hold the only branch on it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def key_cols(df: DataFrame) -> list[str]:
    """The query-key columns ``df`` carries: ``["qid"]`` or ``[]``."""
    return ["qid"] if "qid" in df.columns else []


def attach(df: DataFrame, per_key: DataFrame) -> DataFrame:
    """Attach a small per-key frame (one row per query) to ``df``:
    a broadcast join on the keys, or a broadcast cross join of its
    single row when there are none."""
    keys = key_cols(per_key)
    if keys:
        return df.join(F.broadcast(per_key), keys)
    return df.crossJoin(F.broadcast(per_key))


def topk(df: DataFrame, k: int, *order: Column) -> DataFrame:
    """The first ``k`` rows by ``order``, per key: ``orderBy().limit()``
    (TakeOrderedAndProject) for one query, a ``row_number`` window
    partitioned by the keys (bounded map-side by WindowGroupLimit) for
    a batch."""
    keys = key_cols(df)
    if not keys:
        return df.orderBy(*order).limit(k)
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )
