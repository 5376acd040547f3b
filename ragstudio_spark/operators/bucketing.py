"""Bucketed table layout: shuffle-free joins on conversation identity.

The north rule calls for explicit conv_id-bucketed partitioning (on Iceberg:
``PARTITIONED BY (bucket(B, conv_id))``). This module provides the Spark
session-catalog equivalent — ``bucketBy(conv_id) + sortBy(turn_idx)`` parquet
tables — and the payoff it exists for: chunks ⋈ metrics / chunks ⋈
transcripts on conv_id with **zero Exchange** in the physical plan, because
both sides share the bucket layout. At 10^12-turn scale that is the
difference between a metadata-only join and reshuffling 100 TB.

Verified by test: the joined plan contains no Exchange operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(df: DataFrame, table: str, n_buckets: int = 16,
                   mode: str = "overwrite") -> None:
    """Write ``df`` as a parquet table bucketed by ``conv_id`` and
    sorted by (``conv_id``, ``turn_idx``) within each bucket."""
    (
        df.write.mode(mode)
        .format("parquet")
        .bucketBy(n_buckets, "conv_id")
        .sortBy("conv_id", "turn_idx")
        .saveAsTable(table)
    )


def colocated_join(
    spark: SparkSession, left_table: str, right_table: str,
    on: tuple[str, ...] = ("conv_id",), how: str = "inner",
) -> DataFrame:
    """Join two same-bucketed tables; Spark reuses the bucket layout on
    both sides (SortMergeJoin with no Exchange)."""
    return spark.table(left_table).join(spark.table(right_table), on=list(on), how=how)


def plan_shuffle_exchanges(df: DataFrame) -> int:
    """Number of *shuffle* Exchange operators in the physical plan (0 = no
    shuffle). BroadcastExchange doesn't count — replicating a small dim is
    not a repartition of the fact side."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("Exchange") - plan.count("BroadcastExchange")
