"""ML chunking-strategy classifier — pure column expressions.

JVM twin of ``kernel.profile.predict_best_strategy`` (reference auto mode,
src/core/cli/commands/chunk.py:677-717; the reference's actual predictor
module is missing from its repo, so its auto mode always hits the
'semantic' fallback — this implements the advertised contract instead).

The model is a multinomial logit with INTEGER-scaled weights over
integer/boolean profile features. Integer logits keep the argmax and the
confidence ratio bit-identical across the Python kernel, Spark, and the
DuckDB oracle. At scale the whole thing is one codegen'd projection: no
UDF, no shuffle, no broadcast state beyond literal weights.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ragstudio_spark.operators import profiler

# must stay in sync with kernel.profile.ml_strategy_scores — the parity
# test (tests/test_operator_kernel_parity.py) pins them to each other
ML_CLASSES = ("semantic", "sentence", "token")

#: feature order of the classifier (bias first; the trainer's weight
#: vectors use the same keys — operators/ml_trainer.py)
ML_FEATURES = ("bias", "b_short", "b_mid", "b_long",
               "has_headings", "has_tables", "has_lists", "depth")

#: the published integer weights (reference auto-mode contract — see
#: module docstring); ml_scores is generated from this table so the
#: trainer's output is directly comparable
ML_WEIGHTS: dict[str, dict[str, int]] = {
    "semantic": {"b_long": 4, "has_headings": 3, "has_tables": 2,
                 "has_lists": 1, "depth": 2},
    "sentence": {"bias": 2, "b_mid": 3, "b_long": 1},
    "token": {"bias": 1, "b_short": 4},
}


def ml_features(text: Column) -> dict[str, Column]:
    """Integer feature columns (the structural-feature subset of the
    reference's extract_structural_features,
    /root/reference/src/workflows/ml/feature_engineering.py:51-109 —
    token-length buckets, heading/table/list flags, hierarchy depth; the
    embedding block needs a sentence-transformers model and is excluded
    per SURVEY §7.2)."""
    t = F.floor(F.length(text) / 4).cast("bigint")
    return {
        "bias": F.lit(1).cast("bigint"),
        "b_short": F.when(t < 500, 1).otherwise(0).cast("bigint"),
        "b_mid": F.when((t >= 500) & (t < 2000), 1).otherwise(0).cast("bigint"),
        "b_long": F.when(t >= 2000, 1).otherwise(0).cast("bigint"),
        "has_headings": F.when(profiler.has_headings(text), 1)
        .otherwise(0).cast("bigint"),
        "has_tables": F.when(profiler.has_tables(text), 1)
        .otherwise(0).cast("bigint"),
        "has_lists": F.when(profiler.has_lists(text), 1)
        .otherwise(0).cast("bigint"),
        "depth": profiler.hierarchy_depth(text).cast("bigint"),
    }


def scores_from_weights(text: Column,
                        weights: dict[str, dict[str, int]]) -> dict[str, Column]:
    """Integer logits w·x for an arbitrary weight table (skips zero terms
    so the published-weight plan is identical to the hand-written one)."""
    feats = ml_features(text)
    out: dict[str, Column] = {}
    for cls, w in weights.items():
        expr = None
        for name, wv in w.items():
            if not wv:
                continue
            term = feats[name] if wv == 1 else wv * feats[name]
            expr = term if expr is None else expr + term
        out[cls] = (expr if expr is not None else F.lit(0)).cast("bigint")
    return out


def ml_scores(text: Column) -> dict[str, Column]:
    """Integer logit columns per class (same formulas as the kernel)."""
    return scores_from_weights(text, ML_WEIGHTS)


def with_ml_strategy(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach ``ml_strategy`` / ``ml_confidence`` (+ the integer logits
    ``ml_score_<class>``). Ties break in ML_CLASSES order."""
    scores = ml_scores(F.col(text_col))
    for cls in ML_CLASSES:
        df = df.withColumn(f"ml_score_{cls}", scores[cls])
    s = {cls: F.col(f"ml_score_{cls}") for cls in ML_CLASSES}
    pred = (
        F.when((s["semantic"] >= s["sentence"]) & (s["semantic"] >= s["token"]),
               F.lit("semantic"))
        .when(s["sentence"] >= s["token"], F.lit("sentence"))
        .otherwise(F.lit("token"))
    )
    best = F.greatest(*s.values())
    total = sum(list(s.values())[1:], list(s.values())[0])
    conf = F.when(total > 0, best.cast("double") / total).otherwise(F.lit(0.0))
    return (
        df.withColumn("ml_strategy", pred)
        .withColumn("ml_confidence", conf)
    )


# ---------------------------------------------------------------------------
# Reference feature-engineering parity (round 6)
# ---------------------------------------------------------------------------

#: one-hot vocabularies, reference feature_engineering.py:79-105 — each
#: list carries an implicit trailing 'other' slot
LANG_ONEHOT = ("fr", "en", "es")
TYPE_ONEHOT = ("fiche_technique", "rapport", "article", "document_court")

#: dimension of the structural block: 5 numeric + 3 boolean + (3+1) lang
#: + (4+1) type
STRUCTURAL_DIM = 5 + 3 + len(LANG_ONEHOT) + 1 + len(TYPE_ONEHOT) + 1


def structural_features() -> Column:
    """The reference's FULL structural vector
    (extract_structural_features, feature_engineering.py:51-109) as one
    array<float> column over with_profile's output: numeric block
    [length_tokens, length_chars, hierarchy_depth, structure_score,
    avg_sentence_length], boolean block [has_headings, has_tables,
    has_lists] as 0/1, then the fr/en/es(+other) and
    fiche_technique/rapport/article/document_court(+other) one-hots —
    17 dims, float32 like the reference's np.float32 array. The 8-int
    classifier features (ml_features) are the decision-rule SUBSET; this
    is the trainer-facing vector. Missing lang → 'other' (the
    reference's .get(..., 'unknown') path).
    Reads ``language`` and the ``profile_*`` columns."""
    def one_hot(value: Column, vocab: tuple[str, ...]) -> list[Column]:
        v = F.lower(F.coalesce(value, F.lit("unknown")))
        hots = [F.when(v == w, F.lit(1.0)).otherwise(F.lit(0.0))
                for w in vocab]
        in_vocab = None
        for w in vocab:
            hit = v == w
            in_vocab = hit if in_vocab is None else (in_vocab | hit)
        hots.append(F.when(in_vocab, F.lit(0.0)).otherwise(F.lit(1.0)))
        return hots

    lang = F.col("language")
    cols = [
        F.col("profile_length_tokens"),
        F.col("profile_length_chars"),
        F.col("profile_hierarchy_depth"),
        F.col("profile_structure_score"),
        F.col("profile_avg_sentence_length"),
        F.col("profile_has_headings").cast("int"),
        F.col("profile_has_tables").cast("int"),
        F.col("profile_has_lists").cast("int"),
        *one_hot(lang, LANG_ONEHOT),
        *one_hot(F.col("profile_type"), TYPE_ONEHOT),
    ]
    return F.array(*[c.cast("float") for c in cols])


def combine_features(embedding: Column, structural: Column) -> Column:
    """combine_features (feature_engineering.py:10-48): embedding block
    ++ structural block. The real sentence-transformers embedding is
    container-blocked (SURVEY §7.2); compose with
    vectorstore.fake_embedding_col for a deterministic stand-in — the
    concat semantics are what this ports."""
    return F.concat(embedding, structural)


def fit_standardizer(df: DataFrame,
                     features_col: str) -> tuple[list[float], list[float]]:
    """StandardScaler.fit over an array<float> column
    (normalize_features, feature_engineering.py:112-140): per-dimension
    population mean and std (ddof=0); zero-variance dimensions scale by
    1.0 (sklearn's _handle_zeros_in_scale), so constant features pass
    through centered. One posexplode + per-position aggregate — the
    collect is DIM rows, never data-sized."""
    agg = (df.select(F.posexplode(features_col).alias("pos", "x"))
           .groupBy("pos")
           .agg(F.count("*").alias("n"),
                F.sum(F.col("x").cast("double")).alias("s"),
                F.sum((F.col("x") * F.col("x")).cast("double"))
                .alias("ss"))
           .orderBy("pos").collect())
    means, scales = [], []
    for r in agg:
        mean = r["s"] / r["n"]
        var = max(r["ss"] / r["n"] - mean * mean, 0.0)
        std = var ** 0.5
        means.append(mean)
        scales.append(std if std > 0.0 else 1.0)
    return means, scales


def standardize(features: Column, means: list[float],
                scales: list[float]) -> Column:
    """Apply a fitted standardizer: (x - mean) / scale per dimension.
    Two zip_withs over literal model arrays — no UDF, nothing broadcast
    (the model rides the plan)."""
    m = F.array(*[F.lit(float(v)) for v in means])
    s = F.array(*[F.lit(float(v)) for v in scales])
    centered = F.zip_with(features.cast("array<double>"), m,
                          lambda x, mu: x - mu)
    return F.zip_with(centered, s, lambda x, sc: x / sc)
