"""Operators without a home of their own: the Iceberg table adapter
(fails loud without its runtime; DDL bucket spec) and exact per-group
quantiles (hand-computed discrete percentiles)."""

import pytest

from ragstudio_spark.pipeline import iceberg


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
