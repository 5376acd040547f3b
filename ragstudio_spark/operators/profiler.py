"""Document profiler — pure column expressions (no UDF, fully codegen'd).

Column-expression port of ``analyze_document`` (reference: src/workflows/
analyzer/profiler.py:20-223): document type from content keywords + length
defaults, token estimate (len//4), heading/table/list detection, hierarchy
depth, average sentence length, and the weighted structure score. The Python
kernel (``kernel.profile``) is the tested ground truth for these formulas.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

_HEADING_RE = r"(?m)^\s*#{1,6}\s+|^\s*\d+\.\s+|^\s*[A-Z][A-Z\s]+$|^\s*[IVX]+\.\s+"
_LIST_RE = r"(?m)^\s*[-*•]\s+|^\s*\d+\.\s+|^\s*[a-z]\.\s+"
_MD_HEADER_RE = r"(?m)^(#{1,6})\s+"
_NUM_SECTION_RE = r"(?m)^(\d+(?:\.\d+)*)\.\s+"


def _count_occurrences(text: Column, token: str) -> Column:
    return (F.length(text) - F.length(F.replace(text, F.lit(token)))) / len(token)


def doc_type(text: Column) -> Column:
    lower = F.lower(text)
    return (
        F.when(
            lower.contains("table des matières")
            | lower.contains("sommaire")
            | lower.contains("chapitre"),
            F.lit("rapport"),
        )
        .when(
            lower.contains("caractéristiques")
            | lower.contains("spécifications")
            | lower.contains("paramètres"),
            F.lit("fiche_technique"),
        )
        .when(
            lower.contains("introduction")
            | lower.contains("conclusion")
            | lower.contains("résumé"),
            F.lit("article"),
        )
        .when(F.length(text) > 5000, F.lit("rapport"))
        .when(F.length(text) > 1000, F.lit("article"))
        .otherwise(F.lit("document_court"))
    )


def has_headings(text: Column) -> Column:
    return text.rlike(_HEADING_RE)


def has_tables(text: Column) -> Column:
    score = (
        _count_occurrences(text, "|")
        + _count_occurrences(text, "\t")
        + _count_occurrences(text, "colonne")
        + _count_occurrences(text, "ligne")
    )
    return score > 5


def has_lists(text: Column) -> Column:
    return text.rlike(_LIST_RE)


def hierarchy_depth(text: Column) -> Column:
    md_levels = F.transform(
        F.regexp_extract_all(text, F.lit(_MD_HEADER_RE), F.lit(1)),
        lambda h: F.length(h),
    )
    num_levels = F.transform(
        F.regexp_extract_all(text, F.lit(_NUM_SECTION_RE), F.lit(1)),
        lambda s: F.size(F.split(s, r"\.")),
    )
    all_levels = F.concat(md_levels, num_levels)
    return F.when(F.size(all_levels) > 0, F.array_max(all_levels)).otherwise(F.lit(1))


def avg_sentence_length(text: Column) -> Column:
    # NB: Spark's trim() strips ASCII spaces only; Python str.strip() strips
    # all whitespace — use a regex strip to match the kernel exactly.
    sentences = F.filter(
        F.transform(
            F.split(text, r"[.!?]+"),
            lambda s: F.regexp_replace(
                F.regexp_replace(s, F.lit(r"^\s+"), F.lit("")),
                F.lit(r"\s+$"), F.lit(""),
            ),
        ),
        lambda s: s != "",
    )
    total = F.aggregate(
        sentences, F.lit(0).cast("long"), lambda acc, s: acc + F.length(s)
    )
    return F.when(
        F.size(sentences) > 0, total.cast("double") / F.size(sentences)
    ).otherwise(F.lit(0.0))


def structure_score(
    depth: Column, headings: Column, tables: Column, lists: Column, tokens: Column
) -> Column:
    score = (
        F.when(depth >= 3, F.lit(0.4)).when(depth >= 2, F.lit(0.2)).otherwise(F.lit(0.0))
        + F.when(headings, F.lit(0.3)).otherwise(F.lit(0.0))
        + F.when(tables, F.lit(0.2)).otherwise(F.lit(0.0))
        + F.when(lists, F.lit(0.1)).otherwise(F.lit(0.0))
        + F.when(tokens < 500, F.lit(-0.2)).otherwise(F.lit(0.0))
        + F.when(tokens > 2000, F.lit(0.1)).otherwise(F.lit(0.0))
    )
    return F.least(F.lit(1.0), F.greatest(F.lit(0.0), score))


def with_profile(df: DataFrame, text_col: str = "extracted_text") -> DataFrame:
    """Attach all ``profile_*`` columns."""
    text = F.col(text_col)
    tokens = F.floor(F.length(text) / 4).cast("int")
    df = (
        df.withColumn("profile_type", doc_type(text))
        .withColumn("profile_length_chars", F.length(text).cast("int"))
        .withColumn("profile_length_tokens", tokens)
        .withColumn("profile_has_headings", has_headings(text))
        .withColumn("profile_has_tables", has_tables(text))
        .withColumn("profile_has_lists", has_lists(text))
        .withColumn("profile_hierarchy_depth", hierarchy_depth(text).cast("int"))
        .withColumn("profile_avg_sentence_length", avg_sentence_length(text))
    )
    return df.withColumn(
        "profile_structure_score",
        structure_score(
            F.col("profile_hierarchy_depth"),
            F.col("profile_has_headings"),
            F.col("profile_has_tables"),
            F.col("profile_has_lists"),
            F.col("profile_length_tokens"),
        ),
    )
