"""Readability quality gate — JVM-side column expressions, no Python.

The reference gates each document on the ratio of readable chunks
(check_chunks_quality with min_readable_ratio=0.9, per-chunk valid-word
threshold 0.3 — src/core/cli/commands/batch.py:408-428); failed documents
are dropped from the chunk output and recorded as FAILED. Here the whole
predicate runs as Spark SQL expressions generated from ``sqlspec`` (shared
with the DuckDB oracle), evaluated *on the chunk array before exploding* —
so the gate costs zero shuffles and failed turns divert to a quarantine
DataFrame, mirroring the reference's error-table semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ragstudio_spark import sqlspec


def with_text_quality(df: DataFrame, text_col: str = "extracted_text",
                      min_ratio: float = 0.4) -> DataFrame:
    """Add (valid_word_ratio, is_readable) for a SQL text expression."""
    spec = sqlspec.readability_exprs(text_col, "spark", min_ratio=min_ratio)
    return (df.withColumn("valid_word_ratio", F.expr(spec["valid_word_ratio"]))
            .withColumn("is_readable", F.expr(spec["is_readable"])))


def with_chunks_gate(
    df: DataFrame,
    chunks_col: str = "chunks",
    min_readable_ratio: float = 0.9,
    chunk_min_ratio: float = 0.3,
    chunk_text: str = "c.text",
) -> DataFrame:
    """Per-turn gate over a chunk array column (array<struct> with a text
    field): readable_chunks / total_chunks ≥ min_readable_ratio. Adds
    readable_chunks, total_chunks_gate, readable_ratio, gate_passed.

    Expression shape matters here (measured ~1.6× on the pipeline's gate
    stage at sf0.1): the naive form — ``filter(chunks, c -> is_readable)``
    with ``is_readable`` built from the ratio spec — embeds the word
    extraction + per-word validity regexes several times, and Catalyst
    inlines each reference (the known reused-expression trap, CLAUDE.md
    dialect note 5). The single-pass fold comes from
    ``sqlspec.readable_fold_expr`` so the formulas stay single-sourced
    with the staged operator and the DuckDB oracle (pinned by the
    kernel↔JVM parity tests and the differential suite).

    ``chunk_text`` is the SQL expression for a chunk's text inside the
    lambda (element variable ``c``) — the pipeline's spans-only wire form
    passes a byte-span slice expression here (operators/fused.py). The
    text expression is bound ONCE per chunk by an inner transform and the
    fold references only the bound variable ``t``: the fold body mentions
    its text three times (word extraction, null check, no-space length),
    and inlining the slice there would copy every chunk's bytes 3× per
    evaluation (Catalyst duplicates reused expressions — the known trap)."""
    fold = sqlspec.readable_fold_expr("t", chunk_min_ratio)
    readable_flags = (f"transform(transform({chunks_col}, c -> {chunk_text}),"
                      f" t -> {fold})")
    total = F.size(F.col(chunks_col))
    readable = F.expr(f"size(filter({readable_flags}, b -> b))")
    # downstream columns reference the MATERIALIZED readable_chunks column,
    # never the `readable` expression object — embedding it again would
    # re-evaluate the whole fold per reference (verified on the physical
    # plan: expression-embedding doubled the aggregate() count)
    df = df.withColumn("total_chunks_gate", total).withColumn(
        "readable_chunks", readable)
    ratio = F.when(
        F.col("total_chunks_gate") > 0,
        F.col("readable_chunks").cast("double") / F.col("total_chunks_gate"),
    ).otherwise(F.lit(0.0))
    return df.withColumn("readable_ratio", ratio).withColumn(
        "gate_passed",
        (F.col("total_chunks_gate") > 0)
        & (F.col("readable_ratio") >= min_readable_ratio),
    )
