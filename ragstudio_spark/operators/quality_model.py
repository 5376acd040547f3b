"""Learned quality filter — model-based document quality scoring, the
curation stage the big public pipelines run AFTER rule-based cleaning
(GPT-3's LM-filtered CommonCrawl, LLaMA's Wikipedia-reference
classifier; public technique, our own from-scratch shape): a linear
classifier over cheap structural text features decides keep/drop, and a
DataFrame trainer fits it in-engine.

Design rules (the engine's oracle discipline, same as ml_strategy /
ml_trainer):

* INTEGER features, INTEGER weights, INTEGER score — the keep decision
  is ``score > 0`` with no float anywhere, so the DuckDB twin matches
  hash-exactly and training is drift-free.
* batch perceptron (summed per-epoch update) — deterministic across row
  order and partitioning; each epoch is one scan + one tiny aggregate;
  the driver holds only the 8-integer weight vector.
* the PUBLISHED_WEIGHTS table is the shipped model (hand-fit on the
  documented signal directions, validated by tests); the trainer exists
  to re-fit it from labeled data, and the training contract is
  label-reproduction on the training set (ml_trainer.py's contract).

Scale shape: scoring is ONE codegen'd projection (no shuffle, no
Python); training is epochs × (scan + Σ over 1 key).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ragstudio_spark.kernel import langid

#: feature order is part of the model contract
QM_FEATURES = ("bias", "n_words", "n_stop", "n_terminal", "n_punct",
               "n_digit", "n_upper", "n_long")

#: high-frequency English function words — IMPORTED from the langid 'en'
#: profile (genuinely shared data: editing the language table cannot
#: silently desynchronize the quality model's n_stop feature from the
#: language-id signal; the DuckDB twin derives from this name too)
QM_STOPWORDS = langid.STOPWORDS["en"]

#: the shipped model: prose signals (function words, sentence terminals,
#: plain words) vote keep; OCR/boilerplate signals (punctuation runs,
#: digits, upper-case noise, >15-char tokens) vote drop; the negative
#: bias demands positive evidence. Validated directionally by the unit
#: suite; re-fit with ``train_quality_model`` when labels exist.
PUBLISHED_WEIGHTS: dict[str, int] = {
    "bias": -8, "n_words": 1, "n_stop": 4, "n_terminal": 6,
    "n_punct": -2, "n_digit": -2, "n_upper": -1, "n_long": -10,
}


def _count_re(text: Column, pattern: str) -> Column:
    return F.size(F.regexp_extract_all(text, F.lit(pattern), F.lit(0)))


def qm_features(text: Column) -> dict[str, Column]:
    """The integer feature map — every entry one JVM regexp/array
    expression over the (NULL-coalesced) text."""
    t = F.coalesce(text, F.lit(""))
    words = F.filter(F.split(t, r"\s+"), lambda w: w != F.lit(""))
    stop_body = "|".join(QM_STOPWORDS)
    return {
        "bias": F.lit(1).cast("bigint"),
        "n_words": F.size(words).cast("bigint"),
        "n_stop": _count_re(F.lower(t),
                            f"\\b(?:{stop_body})\\b").cast("bigint"),
        "n_terminal": _count_re(t, "[.!?]").cast("bigint"),
        "n_punct": _count_re(t, "[^A-Za-z0-9\\s]").cast("bigint"),
        "n_digit": _count_re(t, "[0-9]").cast("bigint"),
        "n_upper": _count_re(t, "[A-Z]").cast("bigint"),
        "n_long": F.size(F.filter(words, lambda w: F.length(w) > 15))
        .cast("bigint"),
    }


def score_col(text: Column,
              weights: dict[str, int] | None = None) -> Column:
    """Integer quality score: Σ w_f · f(text). One projection."""
    w = weights or PUBLISHED_WEIGHTS
    feats = qm_features(text)
    expr = F.lit(0).cast("bigint")
    for name in QM_FEATURES:
        wv = int(w[name])
        if wv:
            expr = expr + F.lit(wv) * feats[name]
    return expr


def with_quality_score(df: DataFrame,
                       weights: dict[str, int] | None = None) -> DataFrame:
    """Attach ``qm_score`` (bigint) and ``qm_keep`` (score > 0).
    ``df`` carries ``text``."""
    s = score_col(F.col("text"), weights)
    return df.withColumn("qm_score", s).withColumn(
        "qm_keep", F.col("qm_score") > 0)


def with_features(df: DataFrame) -> DataFrame:
    """Attach the integer quality features of ``text`` as ``f_<name>``
    columns."""
    feats = qm_features(F.col("text"))
    return df.select("*",
                     *[feats[n].alias(f"f_{n}") for n in QM_FEATURES])


def train_quality_model(
    df: DataFrame,
    epochs: int = 20,
    init: dict[str, int] | None = None,
) -> tuple[dict[str, int], int]:
    """Binary batch perceptron from (``text``, ``keep``∈boolean) rows;
    returns ``(weights, epochs_run)``. Per epoch: score with current weights,
    one aggregate sums (±features) over the misclassified rows
    (y = +1 for keep, −1 for drop), weights update by the sums — row
    order and partitioning never matter. Input features are extracted
    once and localCheckpoint'ed (upstream lineage may hold a Python hop;
    it must not re-execute per epoch)."""
    feats = with_features(df.select("text", "keep"))
    feats = feats.drop("text").localCheckpoint()
    if feats.filter(F.col("keep").isNull()).limit(1).collect():
        raise ValueError("NULL label in training data")
    weights = {n: (init.get(n, 0) if init else 0) for n in QM_FEATURES}
    f_cols = [f"f_{n}" for n in QM_FEATURES]
    for epoch in range(epochs):
        expr = F.lit(0).cast("bigint")
        for name in QM_FEATURES:
            if weights[name]:
                expr = expr + F.lit(weights[name]) * F.col(f"f_{name}")
        pred_keep = expr > 0
        mis = feats.filter(pred_keep != F.col("keep"))
        y = F.when(F.col("keep"), F.lit(1)).otherwise(F.lit(-1))
        delta = mis.select(
            *[F.sum(y * F.col(c)).alias(c) for c in f_cols]).collect()[0]
        if delta[f_cols[0]] is None:        # no misclassifications
            return weights, epoch
        for n in QM_FEATURES:
            weights[n] += int(delta[f"f_{n}"])
    return weights, epochs


def evaluate(df: DataFrame, weights: dict[str, int]) -> DataFrame:
    """(label, n, correct) counts — integer-only accuracy report.
    ``df`` carries ``text`` and ``keep``."""
    pred = score_col(F.col("text"), weights) > 0
    return (df.select(F.col("keep").alias("label"),
                      (pred == F.col("keep")).alias("ok"))
            .groupBy("label")
            .agg(F.count("*").cast("bigint").alias("n"),
                 F.sum(F.when(F.col("ok"), 1).otherwise(0)).cast("bigint")
                 .alias("correct")))
