"""Adaptive chunking-strategy selection — a ``when()`` ladder.

Column-expression port of ``select_chunking_strategy`` (reference:
src/core/chunk/strategy_selector.py:18-92). Branch order is part of the
contract: short < structured < technical-type < tables < structure-score <
long < default.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def with_strategy(df: DataFrame) -> DataFrame:
    """Attach the ``strategy*`` columns, read from with_profile's
    ``profile_*`` columns."""
    tokens = F.col("profile_length_tokens")
    headings = F.col("profile_has_headings")
    depth = F.col("profile_hierarchy_depth")
    dtype = F.col("profile_type")
    tables = F.col("profile_has_tables")
    score = F.col("profile_structure_score")

    def ladder(short, structured, technical, tabular, high_structure, long_, default):
        return (
            F.when(tokens < 1000, short)
            .when(headings & (depth >= 2), structured)
            .when(dtype.isin("fiche_technique", "rapport"), technical)
            .when(tables, tabular)
            .when(score > 0.6, high_structure)
            .when(tokens > 5000, long_)
            .otherwise(default)
        )

    lit = F.lit
    return (
        df.withColumn(
            "strategy",
            ladder(lit("recursive"), lit("parent_child"), lit("semantic"),
                   lit("late"), lit("parent_child"), lit("semantic"), lit("recursive")),
        )
        .withColumn(
            "strategy_max_tokens",
            ladder(lit(300), lit(400), lit(500), lit(300), lit(400), lit(600), lit(400)),
        )
        .withColumn(
            "strategy_overlap",
            ladder(lit(30), lit(50), lit(60), lit(50), lit(50), lit(80), lit(50)),
        )
        .withColumn(
            "strategy_reason",
            ladder(
                lit("short_document"), lit("structured_document"),
                lit("technical_document"), lit("tabular_content"),
                lit("high_structure_score"), lit("long_document"),
                lit("default_fallback"),
            ),
        )
    )
