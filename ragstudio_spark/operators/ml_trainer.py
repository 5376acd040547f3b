"""ML strategy-classifier TRAINER — deterministic, DataFrame-side.

Makes the inference operator (operators/ml_strategy.py) honest end-to-end:
the reference ships feature engineering + training for its strategy scorer
(/root/reference/src/workflows/ml/feature_engineering.py:1-245 — structural
feature extraction; /root/reference/src/workflows/ml/training.py:1-333 —
epoch loop, train/eval split, accuracy report); here the same lifecycle
runs without torch as a **batch multiclass perceptron** over the engine's
integer profile features:

    per epoch:  score every row with the current weights (one codegen'd
                projection), find misclassifications, and apply the SUMMED
                update  w[label] += Σ x_i,  w[pred] -= Σ x_i.

Why this shape:

* deterministic — the batch update is a per-epoch aggregate, so it is
  independent of row order and partitioning (an SGD-style per-row update
  would depend on both). Integer features × integer updates → integer
  weights, no float drift.
* scalable — each epoch is one scan + one tiny groupBy (3 classes × 8
  features); the driver holds only the 24-integer weight table, broadcast
  back as literals. Epochs are bounded (`epochs`), convergence exits early.
* comparable — features and weight keys are exactly ml_strategy.ML_FEATURES,
  so a trained table drops into `scores_from_weights` / the kernel twin.

The perceptron recovers *a* separator, not the literal published weights
(argmax labels fix weights only up to monotone transforms); the training
contract — mirrored from the reference's Trainer + accuracy report — is
that the trained table reproduces the labeling on the training set, which
`evaluate` checks (tests assert 100% agreement with the published model's
own predictions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ragstudio_spark.operators.ml_strategy import (
    ML_CLASSES, ML_FEATURES, ml_features, scores_from_weights,
)


def with_features(df: DataFrame) -> DataFrame:
    """Attach the integer feature columns (feature_engineering's
    extract_structural_features analog).
    Reads ``text``; the features land in ``f_<name>``."""
    feats = ml_features(F.col("text"))
    return df.select("*", *[feats[n].alias(f"f_{n}") for n in ML_FEATURES])


def _argmax(s: dict[str, "F.Column"]):
    """argmax column with ML_CLASSES tie order (same rule as inference)."""
    return (
        F.when((s["semantic"] >= s["sentence"]) & (s["semantic"] >= s["token"]),
               F.lit("semantic"))
        .when(s["sentence"] >= s["token"], F.lit("sentence"))
        .otherwise(F.lit("token"))
    )


def _predict_from_features(weights: dict[str, dict[str, int]],
                           prefix: str = "f_"):
    """argmax over PRECOMPUTED feature columns — per-epoch scoring must
    never re-run the profiler regexes over raw text (they were extracted
    once by with_features and checkpointed)."""
    s = {}
    for cls in ML_CLASSES:
        expr = F.lit(0).cast("bigint")
        for name, wv in weights[cls].items():
            if wv:
                expr = expr + wv * F.col(f"{prefix}{name}")
        s[cls] = expr
    return _argmax(s)


def _predict(weights: dict[str, dict[str, int]]):
    """argmax from raw text (evaluation entry point — one pass)."""
    return _argmax(scores_from_weights(F.col("text"), weights))


def train_strategy_classifier(
    df: DataFrame,
    epochs: int = 20,
    init: dict[str, dict[str, int]] | None = None,
) -> tuple[dict[str, dict[str, int]], int]:
    """Train integer weights from (``text``, ``label``) rows; returns
    ``(weights, epochs_run)``. Labels must be in ML_CLASSES.

    Each epoch triggers one Spark job (the misclassification aggregate);
    the input is localCheckpoint'ed once so upstream lineage — which may
    include a Python hop — never re-executes per epoch (label validation
    reads the checkpointed frame for the same reason), and per-epoch
    scoring runs over the precomputed feature columns, never re-profiling
    the raw text."""
    feats = with_features(df.select("text", "label"))
    feats = feats.drop("text").localCheckpoint()
    # NULL must be rejected explicitly: ~isin(NULL) evaluates to NULL (not
    # true), so a bare negated isin would let NULL labels slip through and
    # silently shrink every epoch's update set
    bad = feats.filter(F.col("label").isNull()
                       | ~F.col("label").isin(*ML_CLASSES)).limit(1).collect()
    if bad:
        raise ValueError(f"unknown label: {bad[0]['label']!r}")
    weights = {c: {n: init[c].get(n, 0) if init else 0 for n in ML_FEATURES}
               for c in ML_CLASSES}
    f_cols = [f"f_{n}" for n in ML_FEATURES]
    for epoch in range(epochs):
        pred = _predict_from_features(weights)
        mis = feats.withColumn("_pred", pred).filter(
            F.col("_pred") != F.col("label"))
        # each misclassified row contributes (+features) to its true class
        # and (-features) to the predicted class; one explode → one groupBy
        # on ≤3 keys — the summed update is row-order independent
        signed = mis.select(
            F.explode(F.array(
                F.struct(F.col("label").alias("cls"), F.lit(1).alias("sgn")),
                F.struct(F.col("_pred").alias("cls"), F.lit(-1).alias("sgn")),
            )).alias("u"),
            *f_cols,
        )
        deltas = signed.groupBy("u.cls").agg(*[
            F.sum(F.col("u.sgn") * F.col(c)).alias(c) for c in f_cols
        ]).collect()
        if not deltas:
            return weights, epoch
        for row in deltas:
            w = weights[row["cls"]]
            for n in ML_FEATURES:
                w[n] += int(row[f"f_{n}"])
    return weights, epochs


def evaluate(df: DataFrame, weights: dict[str, dict[str, int]]) -> DataFrame:
    """Accuracy + per-class counts (the reference's classification_report
    analog, training.py:1-333 — integer counts only, oracle-friendly).
    Returns one row per class: (label, n, correct).
    ``df`` carries ``text`` and ``label``."""
    pred = _predict(weights)
    return (
        df.select("label", (pred == F.col("label")).alias("ok"))
        .groupBy("label")
        .agg(F.count("*").cast("bigint").alias("n"),
             F.sum(F.when(F.col("ok"), 1).otherwise(0)).cast("bigint")
             .alias("correct"))
    )
