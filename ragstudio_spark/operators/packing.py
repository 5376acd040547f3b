"""Token-stream sequence packing — the concat-and-slice step of an LLM
training-data pipeline.

Chunks are concatenated in a deterministic order and the token stream is
cut into fixed-budget training sequences: every chunk gets the sequence
it starts in (``seq_index``) and its token offset inside that sequence.
This is the standard "document packing" shape (concatenate, then slice at
sequence-length boundaries) — not bin packing: a chunk that straddles a
boundary belongs to the sequence where it starts, so sequences can
overflow by at most one chunk, and the assignment is a pure function of
the cumulative sum (no iterative state).

Scale shape: ONE window per shard (``partition_col``) — cumulative sums
partition cleanly, so no global single-partition window ever exists. Pack
a whole corpus by sharding on any stable column (conversations, buckets,
files); each shard's stream is independent, which is exactly how training
shards are built. Determinism: the order inside a shard is a total order
on ``order_cols``, never task/arrival order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def pack_chunks(df: DataFrame, budget: int, partition_col: str = "conv_id",
                order_cols=("turn_idx", "chunk_index")) -> DataFrame:
    """Assign each chunk a (``partition_col``, ``seq_index``) training
    sequence and its ``seq_token_offset``: cum_before = tokens preceding
    the chunk in its shard's stream; seq_index = cum_before // budget;
    offset = cum_before - seq_index * budget.
    ``df`` carries ``token_count``."""
    if budget <= 0:
        raise ValueError(f"budget must be positive: {budget}")
    w = (Window.partitionBy(partition_col)
         .orderBy(*[F.asc(c) for c in order_cols])
         .rowsBetween(Window.unboundedPreceding, -1))
    cum_before = F.coalesce(F.sum(F.col("token_count")).over(w), F.lit(0)) \
        .cast("bigint")
    return (df.withColumn("_cum_before", cum_before)
            # integral `div`, never floor(double-/): bigint/int in Spark is
            # a DOUBLE division and floor(double) can disagree with the
            # DuckDB twin's exact `//` past 2^53 tokens per shard
            .withColumn("seq_index",
                        F.expr(f"_cum_before div {int(budget)}").cast("bigint"))
            .withColumn("seq_token_offset",
                        (F.col("_cum_before") - F.col("seq_index") * budget)
                        .cast("bigint"))
            .drop("_cum_before"))


def sequence_stats(packed: DataFrame) -> DataFrame:
    """Per-sequence accounting: (shard, seq_index, n_chunks, n_tokens) —
    the shard manifest a trainer reads. One partial-aggregated groupBy on
    the (shard, seq) key.
    ``packed`` carries ``conv_id``, ``seq_index`` and ``token_count``."""
    return (packed.groupBy(F.col("conv_id"), F.col("seq_index"))
            .agg(F.count("*").cast("bigint").alias("n_chunks"),
                 F.sum(F.col("token_count")).cast("bigint").alias("n_tokens")))
