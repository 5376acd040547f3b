"""JVM column-expression operators vs the Python kernel — parity tests.

The pipeline's fused UDF uses the kernel. Of the column-expression
operators, the quality gate runs in the pipeline, the profiler's feature
columns feed the ML strategy classifier (operators/ml_strategy.py), and
the strategy_distribution entry runs the profiler then the strategy
ladder, checked against its DuckDB oracle. These tests pin each operator
to the kernel on the synthetic corpus, so neither can drift.
"""

import pandas as pd
from pyspark.sql import functions as F

from ragstudio_spark.kernel import profile as kprofile
from ragstudio_spark.kernel import quality as kquality
from ragstudio_spark.operators import profiler, quality_gate
from ragstudio_spark.operators import strategy as strategy_op
from ragstudio_spark.sources import transcripts as tsrc


def _texts(spark, n=250, seed=51):
    return tsrc.transcripts_df(spark, n, seed=seed, partitions=4).select(
        "conv_id", "turn_idx", F.col("text").alias("extracted_text")
    )


class TestProfilerParity:
    def test_profile_columns_match_kernel(self, spark):
        df = profiler.with_profile(_texts(spark)).toPandas()
        for _, row in df.iterrows():
            p = kprofile.analyze_text(row["extracted_text"] or "")
            assert row["profile_type"] == p["type"], row["extracted_text"][:80]
            assert row["profile_length_tokens"] == p["length_tokens"]
            assert bool(row["profile_has_headings"]) == p["has_headings"]
            assert bool(row["profile_has_tables"]) == p["has_tables"]
            assert bool(row["profile_has_lists"]) == p["has_lists"]
            assert row["profile_hierarchy_depth"] == p["hierarchy_depth"]
            assert abs(row["profile_structure_score"] - p["structure_score"]) < 1e-9
            assert abs(row["profile_avg_sentence_length"] - p["avg_sentence_length"]) < 1e-9

    def test_strategy_ladder_matches_kernel(self, spark):
        df = strategy_op.with_strategy(
            profiler.with_profile(_texts(spark))
        ).toPandas()
        for _, row in df.iterrows():
            p = kprofile.analyze_text(row["extracted_text"] or "")
            sel = kprofile.select_chunking_strategy(p)
            assert row["strategy"] == sel["strategy"]
            assert row["strategy_max_tokens"] == sel["max_tokens"]
            assert row["strategy_overlap"] == sel["overlap"]
            assert row["strategy_reason"] == sel["reason"]


class TestFoldSpecParity:
    def test_readable_fold_equals_spec_expression(self, spark):
        """sqlspec.readable_fold_expr (the hot-path single-pass form) must
        decide identically to readability_exprs' is_readable on every text
        in the corpus, including empty/garbage/HTML rows."""
        from pyspark.sql import functions as F

        from ragstudio_spark import sqlspec

        df = _texts(spark, n=300, seed=57)
        spec = sqlspec.readability_exprs("extracted_text", "spark", min_ratio=0.3)
        fold = sqlspec.readable_fold_expr("extracted_text", 0.3)
        out = df.select(
            F.expr(spec["is_readable"]).alias("spec"),
            F.expr(fold).alias("fold"),
        ).collect()
        assert all(bool(r["spec"]) == bool(r["fold"]) for r in out)
        assert any(r["spec"] for r in out) and not all(r["spec"] for r in out)


class TestMLStrategyParity:
    def test_ml_prediction_matches_kernel(self, spark):
        from ragstudio_spark.operators import ml_strategy

        df = ml_strategy.with_ml_strategy(
            _texts(spark), text_col="extracted_text"
        ).toPandas()
        for _, row in df.iterrows():
            text = row["extracted_text"] or ""
            scores = kprofile.ml_strategy_scores(text)
            strategy, confidence = kprofile.predict_best_strategy(text)
            for cls in kprofile.ML_CLASSES:
                assert row[f"ml_score_{cls}"] == scores[cls], text[:80]
            assert row["ml_strategy"] == strategy
            assert row["ml_confidence"] == confidence  # exact: integer ratio

    def test_auto_mode_fallback_is_semantic(self):
        # reference chunk.py:705-717: any predictor failure → 'semantic'
        strategy, confidence, method = kprofile.auto_strategy(None)  # type: ignore[arg-type]
        assert (strategy, method) == ("semantic", "fallback")
        ok_strategy, _conf, ok_method = kprofile.auto_strategy("some text")
        assert ok_method == "ml_prediction"
        assert ok_strategy in kprofile.ML_CLASSES


class TestQualityParity:
    def test_readability_exprs_match_kernel(self, spark):
        df = quality_gate.with_text_quality(
            _texts(spark), text_col="extracted_text", min_ratio=0.4
        ).toPandas()
        for _, row in df.iterrows():
            q = kquality.check_text_quality(row["extracted_text"] or "", 0.4)
            assert bool(row["is_readable"]) == q["is_readable"], (
                row["extracted_text"][:80]
            )
            assert abs(row["valid_word_ratio"] - q["valid_word_ratio"]) < 1e-9
