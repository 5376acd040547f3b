"""Standalone normalizer operator (the reference's normalize_document
ingest tier) — pinned to the fused hop's metrics so it can't rot — plus the
Iceberg adapter and exact quantiles."""

import pytest

from pyspark.sql import functions as F

from ragstudio_spark.operators import fused, normalizer, sniff
from ragstudio_spark.pipeline import iceberg
from ragstudio_spark.sources import transcripts as tsrc


@pytest.fixture(scope="module")
def turns(spark):
    return sniff.with_content_type(
        tsrc.transcripts_df(spark, 150, seed=101, partitions=4)
    ).cache()


@pytest.fixture(scope="module")
def extracted(spark, turns):
    """extracted_text computed on the driver by the fused hop's own
    extractor, so the normalizer is checked without a second extract UDF."""
    rows = [(r["conv_id"], r["turn_idx"],
             fused._extract_one(r["text"] or "", r["content_type"]))
            for r in turns.select("conv_id", "turn_idx", "text",
                                  "content_type").collect()]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, extracted_text string")


class TestStagedEqualsFused:
    def test_staged_normalizer_matches_fused_metrics(self, spark, turns, extracted):
        staged = normalizer.with_normalization(extracted).select(
            "conv_id", "turn_idx",
            F.col("norm.language").alias("language"),
            F.col("norm.quality_score").alias("quality_score"),
        ).toPandas().set_index(["conv_id", "turn_idx"]).sort_index()

        fd = fused.process_turns(
            turns.select("conv_id", "turn_idx", "text", "content_type")
        ).select("conv_id", "turn_idx", "language", "quality_score").toPandas(
        ).set_index(["conv_id", "turn_idx"]).sort_index()

        assert len(staged) == len(fd) == 150
        assert (staged.index == fd.index).all()
        assert (staged["quality_score"].values == fd["quality_score"].values).all()
        assert (staged["language"].fillna("∅").values == fd["language"].fillna("∅").values).all()

    def test_language_filter_operator(self, spark, extracted):
        df = normalizer.with_normalization(extracted)
        kept = normalizer.filter_languages(df, allowed=("fr", "en"))
        langs = {r["l"] for r in kept.select(
            F.lower(F.col("norm.language")).alias("l")).distinct().collect()}
        assert langs <= {"fr", "en"}


class TestIcebergAdapter:
    def test_unavailable_in_container_and_fails_loud(self, spark):
        assert not iceberg.iceberg_available(spark)
        with pytest.raises(RuntimeError, match="Iceberg runtime not on the classpath"):
            iceberg.create_tables(spark, "lake", "rag")

    def test_ddl_templates_carry_bucket_spec(self):
        ddl = iceberg.DDL_CHUNKS.format(catalog="lake", db="rag", n_buckets=64)
        assert "bucket(64, conv_id)" in ddl
        assert "USING iceberg" in ddl


class TestExactQuantiles:
    """exact_quantiles (metrics.py) — hand-computed discrete percentiles."""

    def test_hand_computed(self, spark):
        from ragstudio_spark.operators.metrics import exact_quantiles

        rows = [("a", v) for v in (10, 20, 30, 40, 50, 60, 70, 80, 90, 100)]
        rows += [("b", v) for v in (5, 6, 7)]
        df = spark.createDataFrame(rows, "lang string, n_chars bigint")
        got = {r.lang: (r.n, r.p50, r.p90, r.p99)
               for r in exact_quantiles(df, "n_chars").collect()}
        # group a: n=10 -> ranks ceil(5)=5, ceil(9)=9, ceil(9.9)=10
        assert got["a"] == (10, 50, 90, 100)
        # group b: n=3 -> ranks ceil(1.5)=2, ceil(2.7)=3, ceil(2.97)=3
        assert got["b"] == (3, 6, 7, 7)

    def test_duplicate_values_and_singleton(self, spark):
        from ragstudio_spark.operators.metrics import exact_quantiles

        rows = [("x", 7)] * 5 + [("y", 42)]
        df = spark.createDataFrame(rows, "lang string, n_chars bigint")
        got = {r.lang: (r.n, r.p50, r.p90, r.p99)
               for r in exact_quantiles(df, "n_chars").collect()}
        assert got["x"] == (5, 7, 7, 7)
        assert got["y"] == (1, 42, 42, 42)

    def test_p100_is_max_and_validation(self, spark):
        import pytest as _pytest

        from ragstudio_spark.operators.metrics import exact_quantiles

        df = spark.createDataFrame(
            [("a", v) for v in (1, 2, 3)], "lang string, n_chars bigint")
        [r] = exact_quantiles(df, "n_chars", percents=(100,)).collect()
        assert r.p100 == 3
        with _pytest.raises(ValueError):
            exact_quantiles(df, "n_chars", percents=(0,))

    def test_parallelism_invariance(self, spark):
        from ragstudio_spark.operators.metrics import exact_quantiles

        rows = [(f"g{i % 4}", (i * 37) % 101) for i in range(80)]
        df = spark.createDataFrame(rows, "lang string, n_chars bigint")
        a = [tuple(r) for r in exact_quantiles(df, "n_chars").collect()]
        b = [tuple(r) for r in
             exact_quantiles(df.repartition(9), "n_chars").collect()]
        assert a == b
