"""Skew handling: salting + size-aware rebalancing for skewed conversations.

The transcript workload's skew axes (SURVEY.md §4):

* a few conversations are 100-2000× longer than the median (Zipf tail) — any
  *per-conversation* wide op (groupBy conv_id) pins one task;
* per-row text sizes vary 100×, so equal-row partitions are unequal work for
  the pandas-UDF stages.

Remedies, all deterministic:

* ``with_salt``              — ``salt = pmod(xxhash64(conv_id, turn_idx), n)``;
  pre-aggregate per (conv_id, salt) then merge per conv_id (two-phase agg).
* ``salted_conv_agg``        — that two-phase count/sum aggregation.
* ``rebalance_by_size``      — repartitionByRange on (length bucket, hash)
  spreads giant turns across tasks before UDF-heavy stages.

The extract+chunk hot path itself needs none of this (it is per-turn
embarrassingly parallel); these utilities protect the aggregation/export
tiers (per-conversation stats, per-conv exports) at the 10^12-turn design
point.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def with_salt(df: DataFrame, n_salts: int = 32) -> DataFrame:
    """Attach ``salt``: a hash of (``conv_id``, ``turn_idx``) modulo
    ``n_salts``."""
    return df.withColumn(
        "salt", F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(n_salts)).cast("int")
    )


def salted_conv_agg(df: DataFrame, value_col: Column, n_salts: int = 32) -> DataFrame:
    """Two-phase skew-safe per-conversation aggregation:
    (conv_id, salt) partial → conv_id final. Returns conv_id, n_rows, total."""
    salted = with_salt(df, n_salts)
    partial = salted.groupBy("conv_id", "salt").agg(
        F.count("*").alias("pn"), F.sum(value_col).alias("pt")
    )
    return partial.groupBy("conv_id").agg(
        F.sum("pn").alias("n_rows"), F.sum("pt").alias("total")
    )


def assemble_conversations(df: DataFrame, sep: str = "\n\n",
                           bucket_size: int = 64) -> DataFrame:
    """Turn-ordered conversation assembly (turns → one document per
    conversation), skew-safe via two-phase ordered concatenation:

      phase 1: partial concat per (conv_id, turn_idx // bucket_size) —
               a 2000-turn outlier becomes ~32 bucket rows processed by
               different tasks instead of one giant collect_list;
      phase 2: concat the (few) bucket rows per conversation in bucket
               order.

    Ordering comes from (bucket, turn_idx) sort keys inside array_sort —
    deterministic under any shuffle. Returns (conv_id, n_turns, doc_text).
    ``df`` carries ``conv_id``, ``turn_idx`` and ``text``.
    """
    bucket = (F.col("turn_idx") / bucket_size).cast("int")
    partial = (
        df.withColumn("bucket", bucket)
        .groupBy("conv_id", "bucket")
        .agg(
            F.count("*").alias("pn"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(F.col("turn_idx"), F.coalesce(F.col("text"), F.lit("")).alias("t"))
                        )
                    ),
                    lambda s: s["t"],
                ),
                sep,
            ).alias("ptext"),
        )
    )
    return (
        partial.groupBy("conv_id")
        .agg(
            F.sum("pn").alias("n_turns"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("bucket"), F.col("ptext").alias("t")))
                    ),
                    lambda s: s["t"],
                ),
                sep,
            ).alias("doc_text"),
        )
    )


def rebalance_by_size(df: DataFrame,
                      num_partitions: int | None = None) -> DataFrame:
    """Range-partition on (log-size bucket, row hash): giant turns spread
    uniformly, small turns pack densely — equalizes pandas-UDF batch cost.
    ``df`` carries ``conv_id``, ``turn_idx`` and ``text``."""
    bucket = F.floor(F.log2(F.greatest(F.length(F.col("text")), F.lit(1))))
    spread = F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(1 << 20))
    if num_partitions:
        return df.repartitionByRange(num_partitions, bucket, spread)
    return df.repartitionByRange(bucket, spread)


def skew_report(df: DataFrame) -> DataFrame:
    """One-row skew diagnostic for a prospective groupBy/join key — the
    measurement that decides whether ``with_salt`` is needed BEFORE a
    10^12-row shuffle pins a reducer.

    Columns, all exact integers: ``n_rows``, ``n_keys``, ``max_count``
    (the hottest key), ``p50_count``/``p99_count`` (discrete percentiles
    of the per-key counts, the metrics.exact_quantiles rank math),
    ``skew_factor_ppm`` = (1e6·max) DIV mean and ``recommended_salts``
    = ceil(max / mean) with mean = greatest(1, n_rows DIV n_keys) —
    one salt per mean-sized slice of the hottest key, the
    two-phase-agg fan-out that levels it. The mean is taken DIV-floored
    first (identically in both engines) so no intermediate exceeds
    1e6·max_count: the naive 1e6·max·n_keys product wraps bigint at
    10^12-row scale.

    Scale: one partial-aggregated groupBy over the key (counts), then a
    key-count-sized aggregate — the report costs one shuffle over keys,
    never over rows. The key is ``conv_id``.
    """
    from pyspark.sql import Window

    counts = df.groupBy("conv_id").agg(F.count("*").alias("_c"))
    w = Window.orderBy(F.asc("_c"))
    ranked = (counts
              .withColumn("_r", F.row_number().over(w))
              .withColumn("_n", F.count("*").over(
                  Window.partitionBy())))
    return (ranked.agg(
        F.sum("_c").cast("bigint").alias("n_rows"),
        F.max("_n").cast("bigint").alias("n_keys"),
        F.max("_c").cast("bigint").alias("max_count"),
        F.max(F.when(F.col("_r") == F.expr("(_n * 50 + 99) DIV 100"),
                     F.col("_c"))).cast("bigint").alias("p50_count"),
        F.max(F.when(F.col("_r") == F.expr("(_n * 99 + 99) DIV 100"),
                     F.col("_c"))).cast("bigint").alias("p99_count"))
        .withColumn("_mean", F.expr("greatest(1L, n_rows DIV n_keys)"))
        .withColumn("skew_factor_ppm",
                    F.expr("(1000000 * max_count) DIV _mean")
                    .cast("bigint"))
        .withColumn("recommended_salts",
                    F.expr("(max_count + _mean - 1) DIV _mean")
                    .cast("bigint"))
        .drop("_mean"))


def heavy_keys(df: DataFrame, multiplier: int = 2) -> DataFrame:
    """Keys whose row count exceeds ``multiplier``× the mean — the
    explicit hot-key list for targeted salting or AQE skew-join hints.
    Exact integer predicate against the DIV-floored mean (the
    skew_report overflow rationale), ordered by count desc with key
    tiebreaks. The key is ``conv_id``."""
    # key-sized counts feed TWO consumers (the stats aggregate and the
    # output join) within ONE plan: exchange reuse computes the input
    # groupBy once (ReusedExchange), so a checkpoint would only add a job.
    counts = df.groupBy("conv_id").agg(F.count("*").cast("bigint")
                                       .alias("key_count"))
    stats = (counts.agg(F.sum("key_count").cast("bigint").alias("_total"),
                        F.count("*").cast("bigint").alias("_nk"))
             .withColumn("_mean", F.expr("greatest(1L, _total DIV _nk)")))
    return (counts.crossJoin(stats)
            .filter(F.col("key_count") > F.lit(multiplier) * F.col("_mean"))
            .withColumn("mean_x_ppm",
                        F.expr("(1000000 * key_count) DIV _mean")
                        .cast("bigint"))
            .drop("_total", "_nk", "_mean")
            .orderBy(F.desc("key_count"), F.asc("conv_id")))
