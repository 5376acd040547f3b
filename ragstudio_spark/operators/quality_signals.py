"""Repetition quality signals — the Gopher-style (Rae et al. 2021,
public) document filters a web-scale curation run applies before
training: heavily self-repeating documents (boilerplate, scraped
navigation, degenerate generations) are detected by the fraction of
content locked up in duplicate lines and in the single most frequent
word 2-gram.

Definitions (ours, stated exactly — the published paper gives the
signal family, not a reference implementation):

* lines        = non-empty segments of ``split(text, '\\n')``
* a DUP line   = a line whose exact text occurs ≥ 2 times in the doc;
  ``n_dup_lines`` counts ALL its occurrences, ``dup_line_chars`` sums
  their character lengths
* top 2-gram   = the most frequent lower-cased word 2-gram (ties →
  lexicographically smallest); ``top2_count`` its occurrence count
  (duplicates counted), ``top2_chars = top2_count × len(gram)``

Outputs are INTEGER numerators/denominators, never floats — the
engine's oracle discipline: callers derive fractions
(``dup_line_chars / total_chars``) themselves; the DuckDB twin matches
hash-exactly on the integers.

Scale shape: two explode→groupBy families (lines, 2-grams), each one
shuffle keyed by (doc_id, item) then a partial-aggregated per-doc
rollup, joined back on doc_id. No windows over the corpus, no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ragstudio_spark.operators.dedupe import shingles_col, words_col


def _lines(text):
    return F.filter(F.split(text, "\n"), lambda ln: ln != F.lit(""))


def repetition_signals(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Per-doc repetition accounting: (id, total_chars, n_lines,
    n_dup_lines, dup_line_chars, top2_count, top2_chars). Documents with
    no lines / fewer than 2 words get zero counts, not NULLs."""
    base = df.select(F.col(id_col),
                     F.coalesce(F.length(F.col(text_col)), F.lit(0))
                     .cast("bigint").alias("total_chars"),
                     F.col(text_col).alias("_t"))

    line_groups = (
        base.select(id_col, F.explode(_lines(F.col("_t"))).alias("line"))
        .groupBy(id_col, "line").agg(F.count("*").alias("c"))
    )
    line_stats = line_groups.groupBy(id_col).agg(
        F.sum("c").cast("bigint").alias("n_lines"),
        F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(0))
        .cast("bigint").alias("n_dup_lines"),
        F.sum(F.when(F.col("c") >= 2, F.col("c") * F.length("line"))
              .otherwise(0)).cast("bigint").alias("dup_line_chars"),
    )

    gram_groups = (
        # words bound to an attribute before shingling — shingles_col
        # references its input k times per position and an inline
        # words_col would re-split per reference (dedupe._bound_words)
        base.select(id_col, words_col(F.col("_t")).alias("_w"))
        .select(id_col,
                F.explode(shingles_col(F.col("_w"), 2)).alias("gram"))
        .groupBy(id_col, "gram").agg(F.count("*").alias("c"))
    )
    # argmax by (count desc, gram asc), portably: max count per doc,
    # re-join, min(gram) among the tied winners — arg_max/max_by struct
    # orderings differ across engines, plain max+min do not
    top_c = gram_groups.groupBy(id_col).agg(F.max("c").alias("top_c"))
    top = (gram_groups.join(top_c, on=id_col)
           .filter(F.col("c") == F.col("top_c"))
           .groupBy(id_col).agg(
               F.max("c").cast("bigint").alias("top2_count"),
               F.min("gram").alias("_g"))
           .select(id_col, "top2_count",
                   (F.col("top2_count") * F.length("_g")).cast("bigint")
                   .alias("top2_chars")))

    out = (base.select(id_col, "total_chars")
           .join(line_stats, on=id_col, how="left")
           .join(top, on=id_col, how="left"))
    zero = F.lit(0).cast("bigint")
    return out.select(
        id_col, "total_chars",
        *[F.coalesce(F.col(c), zero).alias(c)
          for c in ("n_lines", "n_dup_lines", "dup_line_chars",
                    "top2_count", "top2_chars")])


def repetition_keep_cond(max_dup_line_frac: float = 0.3,
                         max_top2_frac: float = 0.2):
    """The Gopher keep predicate as a Column over a repetition_signals
    row — the SINGLE definition shared by the batch filter and the
    streaming curation flag (two hand-synced copies is how a flag and a
    filter silently diverge). Comparisons are cross-multiplied integers —
    no float division anywhere near a filter boundary, so the kept set is
    exactly reproducible.

    dup_line_chars / total_chars <= max  ⇔  dup_line_chars * DENOM <=
    max * DENOM * total_chars with integer scaling (6 decimal places;
    round(), never int() — truncation would shift the documented <=
    boundary down by an ulp of the scale for thresholds like 0.00397)."""
    scale = 1_000_000
    return (
        (F.col("dup_line_chars") * scale
         <= F.lit(round(max_dup_line_frac * scale)) * F.col("total_chars"))
        & (F.col("top2_chars") * scale
           <= F.lit(round(max_top2_frac * scale)) * F.col("total_chars")))


def repetition_filter(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id",
                      max_dup_line_frac: float = 0.3,
                      max_top2_frac: float = 0.2) -> DataFrame:
    """Rows of ``df`` whose repetition fractions clear the thresholds
    (Gopher's filter step: drop documents with > max_dup_line_frac of
    characters in duplicated lines, or > max_top2_frac of characters in
    the single most frequent 2-gram). One broadcast-able semi-join of
    the signal table back onto the corpus."""
    sig = repetition_signals(df, text_col, id_col)
    keep = sig.filter(
        repetition_keep_cond(max_dup_line_frac, max_top2_frac)).select(id_col)
    return df.join(keep, on=id_col, how="left_semi")


#: C4 (Raffel et al. 2020, public) cleaning constants
C4_MIN_LINE_WORDS = 3
C4_MIN_SENTENCES = 5
C4_TERMINALS = (".", "!", "?", '"')


def c4_clean(df: DataFrame) -> DataFrame:
    """C4-style cleaning — the published line/page rules as one codegen'd
    projection (no shuffle, no Python):

    * line kept iff it ends in terminal punctuation (. ! ? \"), has >=
      C4_MIN_LINE_WORDS whitespace words, and does not mention
      'javascript' (case-insensitive);
    * page kept (``c4_keep``) iff the RAW text contains neither
      'lorem ipsum' (case-insensitive) nor '{', and the CLEANED text has
      >= C4_MIN_SENTENCES sentences.

    Delta vs the reference pipeline, stated: C4 counts sentences with a
    sentence splitter; here ``n_sentences`` counts terminal-punctuation
    marks in the cleaned text — same signal, no tokenizer dependency.
    Returns (id, clean_text, n_kept, n_dropped, n_sentences, c4_keep);
    the caller filters on ``c4_keep`` (rows are annotated, not removed —
    curation keeps the audit trail). NULL text is treated as empty —
    zero counts and c4_keep = false, mirroring repetition_signals' NULL
    zero-fill (NULL would otherwise propagate through split/filter and
    surface as n_kept = -1 via F.size(NULL)).
    ``df`` carries ``doc_id`` and ``text``."""
    t = F.coalesce(F.col("text"), F.lit(""))

    def line_ok(ln):
        trimmed = F.trim(ln)
        last = F.substring(trimmed, -1, 1)
        n_words = F.size(F.filter(F.split(trimmed, r"\s+"),
                                  lambda w: w != F.lit("")))
        return (last.isin(*C4_TERMINALS)
                & (n_words >= C4_MIN_LINE_WORDS)
                & ~F.contains(F.lower(ln), F.lit("javascript")))

    # materialize the line array ONCE: it feeds both the kept filter and
    # n_dropped, and a re-referenced split+filter expression re-executes
    # per reference (the quality-gate lesson, CLAUDE.md perf facts)
    df = df.withColumn("_lines", _lines(t))
    df = df.withColumn("_kept", F.filter(F.col("_lines"), line_ok))
    clean = F.array_join(F.col("_kept"), "\n")
    df = (df.withColumn("clean_text", clean)
          .withColumn("n_kept",
                      F.size(F.col("_kept")).cast("bigint"))
          .withColumn("n_dropped",
                      (F.size(F.col("_lines")) - F.size(F.col("_kept")))
                      .cast("bigint"))
          .withColumn("n_sentences",
                      F.size(F.regexp_extract_all(
                          F.col("clean_text"), F.lit(r"[.!?]"),
                          F.lit(0))).cast("bigint")))
    keep = (~F.contains(F.lower(t), F.lit("lorem ipsum"))
            & ~F.contains(t, F.lit("{"))
            & (F.col("n_sentences") >= C4_MIN_SENTENCES))
    return (df.withColumn("c4_keep", keep)
            .select("doc_id", "clean_text", "n_kept", "n_dropped",
                    "n_sentences", "c4_keep"))
