"""Window operators (reference W1/A2/O1-O3, SURVEY.md §2.5-2.6)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def top_k_per_group(
    df: DataFrame,
    partition_by: list[str],
    order_by: list[Column],
    k: int = 1,
    rank_col: str | None = None,
) -> DataFrame:
    """row_number() <= k per group. One shuffle on the partition keys; no
    global sort. Pass deterministic `order_by` (include a tiebreaker)."""
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    out = df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") <= k)
    if rank_col:
        return out.withColumnRenamed("__rn", rank_col)
    return out.drop("__rn")


def latest_wins(
    df: DataFrame,
    version_col: str,
    key_cols: list[str] | None = None,
    tiebreakers: list[Column] | None = None,
) -> DataFrame:
    """A2/W1 — per group of `key_cols` (default: every column except
    `version_col`) keep the row with the greatest `version_col`.

    The reference realizes this as a GLOBAL sort + drop_duplicates
    (reference etl/pipeline.py:56); at 100 TB a total sort is the wrong
    plan. When the keys are every other column (the domanda pipeline's
    ~93-column case) the rows of a group differ only in `version_col`, so
    a hash aggregate of its max is exact and map-side combinable; other
    key sets take a partitioned window (single hash shuffle).
    """
    keys = key_cols if key_cols is not None else [c for c in df.columns if c != version_col]
    if set(keys) == set(df.columns) - {version_col}:
        return df.groupBy(*keys).agg(F.max(version_col).alias(version_col)).select(*df.columns)
    order = [F.col(version_col).desc()] + (tiebreakers or [])
    w = Window.partitionBy(*keys).orderBy(*order)
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")
