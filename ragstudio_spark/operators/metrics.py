"""Chunk-table evaluation metrics + quality report aggregations.

DataFrame ports of the reference's evaluation tier:

* ``eval_metrics``        — src/core/cli/commands/eval.py:144-181: count,
  mean/min/max/variance/σ of chunk sizes, ``consistency = 1 − min(σ/mean,
  1)``, histogram buckets (<100 / 100–500 / ≥500 / empty).
* ``validate_chunks_report`` — langchain_chunker.py:289-321 as table-scale
  aggregations: short-chunk counts, mid-word endings, exact duplicates.
* ``strategy_usage``      — chunking_logger.py:79-121: counts per strategy.
* ``run_counters``        — batch.py:554-588 / status.py:47-112: status
  pivot with success rate.

All plain groupBy/agg — shuffles on low-cardinality keys only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def eval_metrics(chunks: DataFrame) -> DataFrame:
    """One-row chunk-size statistics frame. ``chunks`` carries ``text``."""
    size = F.length(F.col("text"))
    agg = chunks.agg(
        F.count("*").alias("n_chunks"),
        F.avg(size).alias("mean_size"),
        F.min(size).alias("min_size"),
        F.max(size).alias("max_size"),
        F.var_samp(size).alias("var_size"),
        F.stddev_samp(size).alias("std_size"),
        F.sum(F.when(size == 0, 1).otherwise(0)).alias("empty"),
        F.sum(F.when((size > 0) & (size < 100), 1).otherwise(0)).alias("lt_100"),
        F.sum(F.when((size >= 100) & (size < 500), 1).otherwise(0)).alias("b_100_500"),
        F.sum(F.when(size >= 500, 1).otherwise(0)).alias("ge_500"),
    )
    return agg.withColumn(
        "consistency",
        F.when(
            F.col("mean_size") > 0,
            F.lit(1.0) - F.least(F.col("std_size") / F.col("mean_size"), F.lit(1.0)),
        ).otherwise(F.lit(0.0)),
    )


def validate_chunks_report(chunks: DataFrame) -> DataFrame:
    """Per-turn quality report: short chunks (<50 chars), mid-word endings,
    duplicate chunk texts within the turn. ``chunks`` carries ``text``."""
    text = F.col("text")
    per_turn = chunks.groupBy("conv_id", "turn_idx").agg(
        F.count("*").alias("n_chunks"),
        F.sum(F.when(F.length(text) < 50, 1).otherwise(0)).alias("short_chunks"),
        F.sum(
            F.when(F.substring(text, -1, 1).rlike("[A-Za-zÀ-ÿ]"), 1).otherwise(0)
        ).alias("midword_endings"),
        (F.count("*") - F.countDistinct(F.md5(text))).alias("duplicate_chunks"),
    )
    return per_turn.withColumn(
        "has_issues",
        (F.col("short_chunks") > 0)
        | (F.col("duplicate_chunks") > 0),
    )


def strategy_usage(chunks: DataFrame) -> DataFrame:
    """Counts per executed/requested strategy (chunking-decision log stats)."""
    return chunks.groupBy("chunking_strategy", "requested_strategy").agg(
        F.count("*").alias("n_chunks"),
        F.countDistinct("conv_id", "turn_idx").alias("n_turns"),
    )


#: The reference's error categorization ladder, ORDER SIGNIFICANT
#: (/root/reference/tests/volume_testing.py:547-560: an "ocr pdf" message
#: is OCR_ERROR because the ocr branch tests first). Data, not code —
#: the Spark classifier and the DuckDB oracle twin both derive from it.
ERROR_TAXONOMY: tuple[tuple[str, tuple[str, ...]], ...] = (
    ("OCR_ERROR", ("ocr", "tesseract")),
    ("PARSING_ERROR", ("pdf", "parsing")),
    ("RESOURCE_ERROR", ("memory", "timeout")),
    ("LANGUAGE_ERROR", ("language", "encoding")),
)
ERROR_OTHER = "OTHER_ERROR"


def classify_error(error: F.Column) -> F.Column:
    """Category column for an error-message column (volume_testing.py
    _categorize_error as a when() ladder — whole-stage codegen, literal
    substring tests, no regex). NULL input (a successful row) classifies
    to NULL, never OTHER_ERROR — the bare ladder's otherwise() would
    swallow NULLs, silently counting every success as a failure for any
    caller that doesn't pre-filter."""
    low = F.lower(error)
    expr = F.lit(ERROR_OTHER)
    for category, needles in reversed(ERROR_TAXONOMY):
        cond = F.lit(False)
        for needle in needles:
            cond = cond | F.contains(low, F.lit(needle))
        expr = F.when(cond, F.lit(category)).otherwise(expr)
    return F.when(error.isNotNull(), expr)


def error_taxonomy(metrics: DataFrame) -> DataFrame:
    """(category, n_errors) rollup over failed rows — the classified
    errors_by_type aggregate the reference builds in its volume-test
    summary (volume_testing.py:543-560). NULL errors (successful rows)
    are excluded; one low-cardinality groupBy. ``metrics`` carries
    ``error``."""
    return (
        metrics.filter(F.col("error").isNotNull())
        .select(classify_error(F.col("error")).alias("category"))
        .groupBy("category")
        .agg(F.count("*").cast("bigint").alias("n_errors"))
    )


#: turn status → (its run counter, re-run by a retry): the one taxonomy
#: behind run_counters, the lineage table, run.json and history's retry keys
TURN_STATUSES = {"success": ("success", False),
                 "failed_quality": ("failed", True), "failed_error": ("failed", True),
                 "empty": ("skipped", False), "skipped": ("skipped", True)}
STATUS_COUNTERS = ("success", "failed", "skipped")
RETRYABLE_STATUSES = [s for s, (_c, retry) in TURN_STATUSES.items() if retry]


def status_counts() -> list:
    """The success / failed / skipped turn counts of the status column."""
    return [F.sum(F.when(F.col("status").isin(
                [s for s, (c, _r) in TURN_STATUSES.items() if c == counter]), 1)
                  .otherwise(0)).alias(counter)
            for counter in STATUS_COUNTERS]


def run_counters(metrics: DataFrame) -> DataFrame:
    """One-row status pivot with success rate (PipelineStats analogue)."""
    agg = metrics.agg(F.count("*").alias("total"), *status_counts())
    return agg.withColumn(
        "success_rate",
        F.when(F.col("total") > 0, F.col("success") / F.col("total")).otherwise(0.0),
    )


def exact_quantiles(df: DataFrame, value_col: str,
                    group_cols=("lang",),
                    percents=(50, 90, 99)) -> DataFrame:
    """Exact discrete percentiles per group, in pure integer rank math.

    Contract: ``value_col`` must be integer-valued — it is cast to bigint
    before ranking, so fractional values would be silently truncated
    (r6 ADVICE; every in-repo caller ranks lengths/counts).

    The distribution report a curation pipeline reads daily (how long
    are documents per language, where is the p99 the packer must plan
    for) — computed EXACTLY: the p-th percentile is the value at rank
    ceil(n·p/100) of the group's sorted values (quantile_disc
    semantics), with the rank position derived as ``(n·p + 99) DIV 100``
    so no float touches the pipeline and the DuckDB twin matches
    hash-exactly. Builtin approx_percentile is the 100-TB default;
    this is the exact-grouped form whose cost is one per-group sort.

    Scale: one window shuffle partitioned by the group columns — skew
    equals the largest group (fine for per-language/per-source reports;
    for a single global quantile over 10^12 rows use approx_percentile
    or a two-pass histogram refinement instead).

    Output: group cols, n, p{p} for each requested percent.
    """
    if not percents or any(not 0 < p <= 100 for p in percents):
        raise ValueError("percents must be in (0, 100]")
    gcols = list(group_cols)
    w = Window.partitionBy(*gcols).orderBy(F.asc("_v"))
    ranked = (df
              .select(*gcols, F.col(value_col).cast("bigint").alias("_v"))
              .withColumn("_r", F.row_number().over(w))
              .withColumn("_n", F.count("*").over(Window.partitionBy(*gcols))))
    aggs = [F.max("_n").alias("n")]
    for p in percents:
        pos = F.expr(f"(_n * {p} + 99) DIV 100")
        aggs.append(F.max(F.when(F.col("_r") == pos, F.col("_v")))
                    .alias(f"p{p}"))
    return ranked.groupBy(*gcols).agg(*aggs).orderBy(*gcols)
