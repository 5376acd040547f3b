"""Feedback-loop analytics — ratings / CTR / corrections over a feedback
events table.

DataFrame port of the reference's FeedbackCollector analytics tier
(/root/reference/src/core/rag/feedback_loop.py): the reference accumulates
RAGFeedback dataclasses in memory and computes statistics with Python
loops (get_statistics, feedback_loop.py:414-471; get_problematic_queries,
feedback_loop.py:473-519); here the same aggregations run as one-shuffle
groupBys over a feedback table, so the tier scales to the full interaction
log instead of one process's memory.

Feedback table columns (the relational form of RAGFeedback,
feedback_loop.py:67-120 — list fields become array columns):

    feedback_id string, query_id string, feedback_type string,
    score string, numeric_rating double|decimal, flag_reason string,
    source_document_ids array<string>, clicked_documents array<string>,
    user_id string, ts timestamp

feedback_type ∈ {explicit_rating, click_through, dwell_time, correction,
flag} and score ∈ {positive, negative, neutral} mirror the reference
enums (feedback_loop.py:39-64).

Exactness discipline (these feed DuckDB-oracle-gated queries): every rate
is a single int/int division (deterministic across engines) and the
average rating sums DECIMAL(18,2), never raw doubles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

FEEDBACK_TYPES = ("explicit_rating", "click_through", "dwell_time",
                  "correction", "flag")


def _n(score: str) -> Column:
    return F.sum(F.when(F.col("score") == score, 1).otherwise(0)).cast("bigint")


def feedback_statistics(df: DataFrame, feedback_type: str | None = None,
                        time_window_hours: int | None = None,
                        now: Column | None = None) -> DataFrame:
    """One-row statistics frame — reference get_statistics
    (feedback_loop.py:414-471): total, positive/negative/neutral counts and
    rates, average numeric rating, flag count and rate.

    ``time_window_hours`` keeps only feedback newer than ``now`` minus the
    window; ``now`` defaults to ``current_timestamp()`` (pass a literal for
    reproducible tests/oracles — never rely on wall clock in a gated query).

    Scale shape: optional scan-level filters, then ONE partial-aggregated
    global agg — no shuffle wider than a single row."""
    if feedback_type is not None:
        if feedback_type not in FEEDBACK_TYPES:
            raise ValueError(f"feedback_type: {feedback_type}")
        df = df.filter(F.col("feedback_type") == feedback_type)
    if time_window_hours is not None:
        anchor = now if now is not None else F.current_timestamp()
        df = df.filter(
            F.col("ts") >= anchor - F.expr(f"INTERVAL {int(time_window_hours)} HOURS"))
    total = F.count("*").cast("bigint")
    flags = F.sum(F.when(F.col("feedback_type") == "flag", 1)
                  .otherwise(0)).cast("bigint")
    rating_sum = F.sum(F.col("numeric_rating").cast("decimal(18,2)"))
    rating_n = F.count("numeric_rating")
    return df.agg(
        total.alias("total"),
        _n("positive").alias("positive"),
        _n("negative").alias("negative"),
        _n("neutral").alias("neutral"),
        (_n("positive").cast("double") / total).alias("positive_rate"),
        (_n("negative").cast("double") / total).alias("negative_rate"),
        # one division of an exact decimal total by an int count — decimal/
        # bigint division scale rules differ across engines, double(sum)/n
        # does not
        F.when(rating_n > 0, rating_sum.cast("double") / rating_n)
        .alias("avg_numeric_rating"),
        flags.alias("flags"),
        (flags.cast("double") / total).alias("flag_rate"),
    )


def problematic_queries(df: DataFrame, min_negative_rate: float = 0.5,
                        min_samples: int = 3) -> DataFrame:
    """Queries with poor feedback — reference get_problematic_queries
    (feedback_loop.py:473-519): group by query, keep groups with at least
    ``min_samples`` entries whose negative rate reaches the threshold,
    sorted worst-first. The reference sorts by negative_rate only; the id
    tie-break makes the order total (engine-portable).

    Returns (query_id, total_feedback, negative_count, negative_rate).
    ``df`` carries ``query_id`` and ``score``."""
    grouped = df.groupBy("query_id").agg(
        F.count("*").cast("bigint").alias("total_feedback"),
        F.sum(F.when(F.col("score") == "negative", 1).otherwise(0))
        .cast("bigint").alias("negative_count"),
    )
    rated = grouped.withColumn(
        "negative_rate",
        F.col("negative_count").cast("double") / F.col("total_feedback"))
    return (
        rated.filter((F.col("total_feedback") >= min_samples)
                     & (F.col("negative_rate") >= min_negative_rate))
        .orderBy(F.desc("negative_rate"), F.asc("query_id"))
    )


def document_ctr(df: DataFrame, min_impressions: int = 1) -> DataFrame:
    """Per-document click-through rate from the click_through feedback rows
    (reference records shown vs clicked document ids per interaction,
    record_click_through, feedback_loop.py:233-269 — the aggregation the
    reference leaves implicit is what guides retrieval improvement).

    Impressions = memberships of source_document_ids; clicks = memberships
    of clicked_documents. Two explode→count aggregations joined on doc_id —
    both partial-aggregated, shuffle keyed on doc_id only.

    Returns (doc_id, impressions, clicks, ctr) — ctr a single int/int
    division."""
    ct = df.filter(F.col("feedback_type") == "click_through")
    shown = (
        ct.select(F.explode("source_document_ids").alias("doc_id"))
        .groupBy("doc_id").agg(F.count("*").cast("bigint").alias("impressions"))
    )
    clicked = (
        ct.select(F.explode("clicked_documents").alias("doc_id"))
        .groupBy("doc_id").agg(F.count("*").cast("bigint").alias("clicks"))
    )
    joined = shown.join(clicked, on="doc_id", how="left").select(
        "doc_id", "impressions",
        F.coalesce(F.col("clicks"), F.lit(0)).cast("bigint").alias("clicks"),
    )
    return (
        joined.filter(F.col("impressions") >= min_impressions)
        .withColumn("ctr", F.col("clicks").cast("double") / F.col("impressions"))
    )


def corrections(df: DataFrame) -> DataFrame:
    """The correction log — reference CORRECTION feedback entries
    (feedback_loop.py:305-341) as a filtered projection, the input for
    active-learning export (export_feedback, feedback_loop.py:521-556)."""
    return df.filter(F.col("feedback_type") == "correction").select(
        "feedback_id", "query_id", "user_id", "ts")
