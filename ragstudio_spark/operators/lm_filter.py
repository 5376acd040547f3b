"""Reference-corpus familiarity filtering — the CCNet-style "language
model" quality step (Wenzek et al. 2020, public technique) re-expressed
under the engine's integer-only oracle discipline: instead of a KenLM
perplexity (float log-probs, engine-unportable), a document is scored by
how much of its word-bigram mass appears in a REFERENCE corpus's bigram
table — the same signal direction (text that looks like the trusted
corpus scores high; OOV garbage scores low) with exact integer
arithmetic end to end.

    reference corpus ──(one explode + groupBy)──▶ (bigram, cnt) table
    documents ──(one explode, duplicates kept)──▶ join on bigram
             ──▶ per-doc (n_bigrams, n_known, known_hits)

* ``n_bigrams``  — the doc's total bigram occurrences (duplicates count:
  familiarity is about mass, not vocabulary);
* ``n_known``    — occurrences whose bigram exists in the reference;
* ``known_hits`` — Σ reference-count of matched occurrences, each term
  capped at ``hit_cap`` so one stop-bigram cannot dominate the score.

The filter rule is cross-multiplied integers (``n_known / n_bigrams >=
min_known_frac`` with 6-decimal scaling), the repetition_filter
convention — no float near a keep boundary.

Scale shape: the reference table is model-like side data (CCNet ships a
trained LM the same way); Spark's planner broadcasts it when small and
shuffle-joins it otherwise. The corpus streams through ONE explode. Documents
with fewer than 2 words have no bigrams and zero-fill (never NULL, never
dropped from the report).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ragstudio_spark.operators.dedupe import _bound_words, shingles_col
from ragstudio_spark.operators.ranking import top_k


def _bigrams(df: DataFrame) -> DataFrame:
    """(id, bigram) with duplicate occurrences KEPT."""
    return (_bound_words(df, "doc_id")
            .select(F.col("doc_id"),
                    shingles_col(F.col("_w"), 2).alias("sh"))
            .select("doc_id", F.explode("sh").alias("bigram")))


def bigram_counts(reference: DataFrame) -> DataFrame:
    """(bigram, cnt): the reference corpus's bigram table — train once,
    reuse everywhere (localCheckpoint/persist it before repeated use).
    ``reference`` carries ``doc_id`` and ``text``."""
    return (_bigrams(reference)
            .groupBy("bigram")
            .agg(F.count("*").cast("bigint").alias("cnt")))


def _familiarity_scores(df: DataFrame, ref_bigrams: DataFrame,
                        hit_cap: int) -> DataFrame:
    """The grouped accounting WITHOUT the zero-fill join — docs with no
    bigrams are simply absent. The filter consumes this directly (it
    drops zero-bigram docs anyway, so paying a corpus-wide distinct +
    left join to materialize rows it would immediately discard is pure
    waste on the hot path); the reporting entry wraps it with zero-fill."""
    ref = ref_bigrams.select("bigram", F.col("cnt").alias("_ref_cnt"))
    return (_bigrams(df)
            .join(ref, on="bigram", how="left")
            .groupBy("doc_id")
            .agg(F.count("*").cast("bigint").alias("n_bigrams"),
                 F.sum(F.when(F.col("_ref_cnt").isNotNull(), 1)
                       .otherwise(0)).cast("bigint").alias("n_known"),
                 # guard the NULL branch EXPLICITLY: least() skips NULL
                 # arguments in both engines, so coalesce(least(NULL,
                 # cap), 0) is cap, not 0 — every UNmatched bigram would
                 # credit the full cap (property-test-found; the DuckDB
                 # twin shared the identical bug, so the oracle gate
                 # could not see it)
                 F.sum(F.when(F.col("_ref_cnt").isNotNull(),
                              F.least(F.col("_ref_cnt"), F.lit(hit_cap)))
                       .otherwise(0)).cast("bigint")
                 .alias("known_hits")))


def lm_familiarity(df: DataFrame, ref_bigrams: DataFrame,
                   hit_cap: int = 1000) -> DataFrame:
    """Per-doc familiarity accounting vs the reference table:
    (id, n_bigrams, n_known, known_hits) — all bigint, zero-filled (the
    REPORT keeps every document, including bigram-less ones).
    ``df`` carries ``doc_id`` and ``text``."""
    scored = _familiarity_scores(df, ref_bigrams, hit_cap)
    zero = F.lit(0).cast("bigint")
    return (df.select("doc_id").distinct()
            .join(scored, on="doc_id", how="left")
            .select("doc_id",
                    *[F.coalesce(F.col(c), zero).alias(c)
                      for c in ("n_bigrams", "n_known", "known_hits")]))


def familiarity_filter(df: DataFrame, ref_bigrams: DataFrame,
                       min_known_frac: float = 0.5,
                       hit_cap: int = 1000) -> DataFrame:
    """Rows of ``df`` whose known-bigram fraction reaches the threshold
    (docs with zero bigrams are DROPPED — no evidence of familiarity;
    the CCNet convention sends unknown-language/too-short text to the
    lowest bucket). Cross-multiplied integer comparison; one semi-join
    back onto the corpus. Consumes the pre-zero-fill scores directly —
    absent (bigram-less) docs are exactly the ones the filter drops, so
    the report's distinct + left-join zero-fill is skipped.
    ``df`` carries ``doc_id`` and ``text``."""
    scale = 1_000_000
    sig = _familiarity_scores(df, ref_bigrams, hit_cap)
    keep = sig.filter(
        F.col("n_known") * scale
        >= F.lit(round(min_known_frac * scale)) * F.col("n_bigrams")
    ).select("doc_id")
    return df.join(keep, on="doc_id", how="left_semi")


def pmi_collocations(df: DataFrame, min_count: int = 5,
                     top_n: int = 50) -> DataFrame:
    """Top-N PMI collocations (pointwise mutual information, public
    Church–Hanks measure): bigrams whose observed frequency most exceeds
    the unigram-independence expectation — the corpus-analytics view of
    the same bigram machinery the familiarity filter uses.

    score = c_xy * N_bigrams / (c_x * c_y) over unigram counts c_x, c_y,
    emitted as ``pmi_ratio_ppm`` = floor(score * 1e6). Float discipline:
    every count casts to DOUBLE BEFORE multiplying (a bigint product
    wraps past 2^63 at trillion-bigram scale in ANSI-off Spark while
    DuckDB raises — review-found; doubles lose only trailing ranking
    bits past 2^53, exact below it), so the ppm value is four
    correctly-rounded IEEE ops in a pinned order + floor — bit-
    identical across engines, no float accumulation. ``min_count``
    suppresses hapax noise. Scale shape: the bigram table is counted
    ONCE and localCheckpointed (it feeds the filter branch AND the
    total — the multi-consumer rule), one more scan for unigrams, two
    key joins, one 1-row-broadcast total; the top-N is a
    TakeOrderedAndProject, never a full sort.
    ``df`` carries ``doc_id`` and ``text``."""
    if min_count < 1 or top_n < 1:
        raise ValueError("min_count and top_n must be positive")
    uni = (_bound_words(df, "doc_id")
           .select(F.explode("_w").alias("w"))
           .groupBy("w").agg(F.count("*").cast("bigint").alias("c")))
    bc_all = bigram_counts(df).localCheckpoint()
    big = (bc_all
           .filter(F.col("cnt") >= int(min_count))
           .withColumn("w1", F.expr("split(bigram, ' ')[0]"))
           .withColumn("w2", F.expr("split(bigram, ' ')[1]")))
    total = bc_all.agg(F.sum("cnt").cast("bigint").alias("n_total"))
    scored = (big
              .join(uni.withColumnRenamed("w", "w1")
                    .withColumnRenamed("c", "c1"), on="w1")
              .join(uni.withColumnRenamed("w", "w2")
                    .withColumnRenamed("c", "c2"), on="w2")
              .crossJoin(total)
              .withColumn(
                  "pmi_ratio_ppm",
                  F.expr("CAST(floor(CAST(cnt AS DOUBLE) "
                         "* CAST(n_total AS DOUBLE) "
                         "/ (CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE)) "
                         "* 1000000.0) AS BIGINT)")))
    return (top_k(scored, int(top_n),
                  [F.desc("pmi_ratio_ppm"), F.asc("bigram")], rank="rank")
            .select(F.col("rank").cast("bigint"), "bigram",
                    F.col("cnt").alias("c_xy"), "c1", "c2", "pmi_ratio_ppm"))
