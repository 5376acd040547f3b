"""Turn grounding — assistant-turn n-gram support from earlier user turns.

A transcript-curation pipeline wants to know, per assistant turn, how much
of its content is *grounded* in what the user already said (echo rate /
copy rate): high grounding flags parroting turns a training-data filter
should down-weight, zero grounding on long answers flags hallucination-
shaped turns for review. The reference scores documents in isolation
(quality_check, /root/reference/src/core/cli/utils/quality_check.py); this is
the conversational analogue its transcript payload calls for, expressed as
two co-partitioned aggregations.

Definition (exact integers end-to-end):
* grams(turn) = DISTINCT k-word shingles of the turn's text (k=2);
* a gram of assistant turn t is grounded iff some USER turn with
  turn_idx < t in the SAME conversation contains it;
* grounded_ppm = floor(1e6 * n_grounded / n_bigrams), NULL when the turn
  has no bigrams.

Scale shape: user grams collapse to (conv, gram) -> min(turn_idx) with a
map-side partial agg BEFORE the shuffle (per-conv-vocabulary sized, not
per-occurrence); the assistant-side join shares the (conv, gram) key so
it reuses the same partitioning; nothing is quadratic in turns. The final
per-turn rollup is a grouped agg, not a window — no per-conversation
single-partition stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ragstudio_spark.operators.dedupe import shingles_col, words_col


def _turn_grams(conv: DataFrame, k: int) -> DataFrame:
    """(conv_id, turn_idx, role, gram) — DISTINCT grams per turn.

    Only user and assistant turns are shingled: they are the only roles
    either consumer reads, and tool-output turns are typically the
    bulkiest text in a real transcript — shingling them would grow the
    operator's dominant shuffle for nothing (review-found). The
    tokenizer is the shared words_col so one place defines the token
    contract (the index.py rationale)."""
    bound = (conv
             .filter(F.col("role").isin("user", "assistant"))
             .select("conv_id", "turn_idx", "role",
                     words_col(F.coalesce(F.col("text"), F.lit("")))
                     .alias("_w")))
    # shingles_col references its words input k times per position —
    # the array is already bound to the attribute _w (the r5 lesson).
    return (bound
            .select("conv_id", "turn_idx", "role",
                    shingles_col(F.col("_w"), k).alias("_g"))
            .select("conv_id", "turn_idx", "role",
                    F.explode("_g").alias("gram"))
            .distinct())


def turn_grounding(conv: DataFrame, k: int = 2) -> DataFrame:
    """Per assistant turn: (conv_id, turn_idx, n_bigrams, n_grounded,
    grounded_ppm), every assistant turn present (zero-gram turns carry
    NULL ppm), ordered by (conv_id, turn_idx).

    ``conv`` is transcript-shaped: (conv_id, turn_idx, role, text).
    """
    grams = _turn_grams(conv, k)
    user_first = (grams.filter(F.col("role") == "user")
                  .groupBy("conv_id", "gram")
                  .agg(F.min("turn_idx").alias("first_user_idx")))
    asst = grams.filter(F.col("role") == "assistant")
    matched = (asst.join(user_first, ["conv_id", "gram"], "left")
               .select("conv_id", "turn_idx",
                       (F.col("first_user_idx") < F.col("turn_idx"))
                       .cast("int").alias("is_grounded")))
    per_turn = (matched.groupBy("conv_id", "turn_idx")
                .agg(F.count("*").alias("n_bigrams"),
                     F.coalesce(F.sum("is_grounded"), F.lit(0))
                     .alias("n_grounded")))
    all_asst = (conv.filter(F.col("role") == "assistant")
                .select("conv_id", "turn_idx").distinct())
    return (all_asst.join(per_turn, ["conv_id", "turn_idx"], "left")
            .select("conv_id", F.col("turn_idx").cast("int").alias("turn_idx"),
                    F.coalesce("n_bigrams", F.lit(0)).cast("bigint")
                    .alias("n_bigrams"),
                    F.coalesce("n_grounded", F.lit(0)).cast("bigint")
                    .alias("n_grounded"),
                    F.when(F.coalesce("n_bigrams", F.lit(0)) > 0,
                           F.floor(F.lit(1_000_000)
                                   * F.col("n_grounded")
                                   / F.col("n_bigrams")))
                    .cast("bigint").alias("grounded_ppm"))
            .orderBy("conv_id", "turn_idx"))
