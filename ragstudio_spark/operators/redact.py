"""PII redaction — training-data scrubbing as JVM column expressions.

Not in the reference (its sanitize tier only strips metadata keys —
src/core/cli/utils/security.py:539-607, covered by operators/sanitize.py);
this is the text-side scrub every large-scale training pipeline runs
before anything ships. Pure ``regexp_replace`` chains — whole-stage
codegen, no Python — with per-category match counts so curation can audit
what was removed without keeping the originals.

Patterns are deliberately conservative, well-known shapes (email, E.164ish
phone numbers, IPv4, 13-19 digit card-like runs). Order matters and is
fixed, most-specific first: emails (contain digit runs later rules would
mangle), card numbers (a 16-digit run parses as a phone otherwise), IPv4
(dot-separated digits parse as a phone otherwise), then phones. The
category list is data, not code — extend REDACTIONS for new categories
and both the operator and the DuckDB oracle twin pick them up.

The phone rule requires phone *intent*, not just digit density: either a
literal international ``+`` prefix, or the NANP 3-3-4 grouping with word
boundaries. Date strings (``2024-08-16``), page ranges (``pages 10-25``),
spaced thousands (``1 234 567``) and ISBNs do NOT match (regression-tested
in tests/test_redact.py). Residual false-positive surface, documented:
a ``+``-prefixed digit run of >=6 digits redacts even when it is not a
phone, and a bare 10-digit 3-3-4 run redacts (indistinguishable from a
US number without context). Patterns must stay RE2-compatible (no
lookaround) — the DuckDB oracle twin compiles the same strings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

#: (category, regex, replacement) — applied in order, most-specific first.
REDACTIONS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("card", r"\b\d{13,19}\b", "<CARD>"),
    ("ipv4", r"\b(\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    ("phone",
     r"\+\d{1,3}[ .-]?\(?\d{1,4}\)?([ .-]?\d{2,4}){2,4}\b"
     r"|\(?\b\d{3}\)?[ .-]?\d{3}[ .-]?\d{4}\b",
     "<PHONE>"),
)


def with_redaction(df: DataFrame) -> DataFrame:
    """Adds ``redacted_text`` (from ``text``) plus integer
    ``n_<category>`` audit counts.

    Counts are measured on the text state each rule actually sees (after
    the earlier rules ran), matching what got replaced — not on the raw
    input, where an email's digits would double-count as a phone."""
    staged = F.col("text")
    cols = []
    for cat, pattern, repl in REDACTIONS:
        cols.append(F.size(F.regexp_extract_all(staged, F.lit(pattern),
                                                F.lit(0)))
                    .alias(f"n_{cat}"))
        staged = F.regexp_replace(staged, pattern, repl)
    return df.select("*", *cols, staged.alias("redacted_text"))


def redaction_report(df: DataFrame) -> DataFrame:
    """Corpus rollup: one row per category with total matches and the
    count of affected documents — the audit table a curation run keeps.
    ONE aggregation pass (all categories as columns of a single agg, then
    an explode to rows) — a per-category agg would rescan the corpus and
    re-run the whole regex chain once per category. ``df`` carries ``text``."""
    redacted = with_redaction(df)
    aggs = []
    for cat, _p, _r in REDACTIONS:
        aggs.append(F.sum(f"n_{cat}").cast("bigint").alias(f"m_{cat}"))
        aggs.append(F.sum(F.when(F.col(f"n_{cat}") > 0, 1).otherwise(0))
                    .cast("bigint").alias(f"d_{cat}"))
    row = redacted.agg(*aggs)
    structs = F.array(*[
        F.struct(
            F.lit(cat).alias("category"),
            F.coalesce(F.col(f"m_{cat}"), F.lit(0)).cast("bigint")
            .alias("n_matches"),
            F.coalesce(F.col(f"d_{cat}"), F.lit(0)).cast("bigint")
            .alias("n_docs"),
        )
        for cat, _p, _r in REDACTIONS
    ])
    return row.select(F.explode(structs).alias("r")).select("r.*")
