"""Streaming pipeline, export sinks, multimodal plumbing, skew utilities."""

import pytest

from ragstudio_spark.operators import multimodal, sinks, skew
from ragstudio_spark.pipeline.job import PipelineConfig, run_pipeline
from ragstudio_spark.sources import transcripts as tsrc
from ragstudio_spark.streaming import jobs as stream_jobs


class TestStreaming:
    def test_file_stream_matches_batch(self, spark, tmp_path):
        """availableNow streaming run over a parquet dir produces the same
        chunks as the batch transform over the same input, and the stream
        transform publishes the same chunks as the batch pipeline: both
        run the run_pipeline core and publish by its one predicate
        (status == 'success'); an empty and a NULL turn ride along."""
        from datetime import datetime

        inp = str(tmp_path / "in")
        outp = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        edge = spark.createDataFrame(
            [("c_edge", 0, "user", "", None, datetime(2024, 3, 1)),
             ("c_edge", 1, "assistant", None, None, datetime(2024, 3, 1))],
            tsrc.TRANSCRIPT_SCHEMA)
        df = tsrc.transcripts_df(spark, 120, seed=23, partitions=4)
        df.unionByName(edge).write.parquet(inp)

        q = stream_jobs.streaming_pipeline(spark, inp, outp, ckpt)
        q.awaitTermination(120)

        got = spark.read.parquet(outp)
        batch = stream_jobs.transform_stream(spark.read.parquet(inp))
        key = ["conv_id", "turn_idx", "chunk_index"]
        g = got.toPandas().sort_values(key).reset_index(drop=True)
        b = batch.toPandas().sort_values(key).reset_index(drop=True)
        assert len(g) == len(b) > 0
        assert (g["chunk_id"].values == b["chunk_id"].values).all()
        assert (g["text"].values == b["text"].values).all()

        chunks = run_pipeline(spark.read.parquet(inp)).chunks
        shared = [c for c in batch.columns if c in chunks.columns]
        assert len(shared) == 17
        s, c = batch.select(shared), chunks.select(shared)
        assert s.exceptAll(c).count() == 0
        assert c.exceptAll(s).count() == 0

    def test_restart_with_checkpoint_is_incremental(self, spark, tmp_path):
        inp = str(tmp_path / "in")
        outp = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        tsrc.transcripts_df(spark, 60, seed=29, partitions=2).write.parquet(inp)
        stream_jobs.streaming_pipeline(spark, inp, outp, ckpt).awaitTermination(120)
        n1 = spark.read.parquet(outp).count()
        # add new files, restart with same checkpoint: only new data processed
        tsrc.transcripts_df(spark, 60, seed=31, partitions=2).write.mode(
            "append").parquet(inp)
        stream_jobs.streaming_pipeline(spark, inp, outp, ckpt).awaitTermination(120)
        n2 = spark.read.parquet(outp).count()
        assert n2 > n1
        # no duplicates: every (conv,turn,chunk) unique... seeds may collide
        # on keys, so check duplication via full-row count vs distinct
        got = spark.read.parquet(outp)
        assert got.count() == got.dropDuplicates(
            ["conv_id", "turn_idx", "chunk_index", "chunk_id"]).count()

    def test_windowed_counts_with_watermark(self, spark, tmp_path):
        inp = str(tmp_path / "in")
        tsrc.transcripts_df(spark, 120, seed=37, partitions=2).write.parquet(inp)
        from ragstudio_spark.sources.transcripts import TRANSCRIPT_SCHEMA
        stream = (spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(inp))
        agg = stream_jobs.windowed_chunk_counts(stream, "1 minute", "2 minutes")
        q = (agg.writeStream.format("memory").queryName("win_counts")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        res = spark.sql("select * from win_counts").toPandas()
        # append mode only emits windows closed by the watermark; the final
        # window stays open — just assert the plan ran and schema is right
        assert set(res.columns) == {"window_start", "window_end",
                                    "content_type", "n_chunks", "n_convs"}


class TestSinks:
    @pytest.fixture(scope="class")
    def chunks(self, spark):
        out = run_pipeline(
            tsrc.transcripts_df(spark, 80, seed=41, partitions=2), PipelineConfig()
        )
        return out.chunks.cache()

    def test_jsonl_roundtrip(self, spark, chunks, tmp_path):
        path = str(tmp_path / "chunks_jsonl")
        sinks.write_jsonl(chunks, path)
        back = sinks.read_jsonl(spark, path)
        assert back.count() == chunks.count()
        row = back.select("id", "text", "metadata.chunk_index",
                          "metadata.source").first()
        assert row["id"].startswith("chunk_")
        assert ":" in row["source"]

    def test_jsonl_partitioned(self, spark, chunks, tmp_path):
        import os
        path = str(tmp_path / "chunks_part")
        sinks.write_jsonl(chunks, path, partitioned=True, n_buckets=8)
        buckets = [d for d in os.listdir(path) if d.startswith("conv_bucket=")]
        assert len(buckets) > 1
        assert sinks.read_jsonl(spark, path).count() == chunks.count()

    def test_csv_flatten_strips_newlines(self, spark, chunks, tmp_path):
        path = str(tmp_path / "chunks_csv")
        sinks.write_csv(chunks, path)
        back = spark.read.option("header", True).csv(path)
        assert back.count() == chunks.count()
        assert "chunk_index" in back.columns  # metadata flattened
        txts = [r["text"] for r in back.select("text").limit(50).collect()]
        assert all("\n" not in (t or "") for t in txts)


class TestMultimodal:
    def test_real_decode_is_stubbed(self, spark):
        media = multimodal.synthetic_media_df(spark, 6)
        import py4j
        with pytest.raises(Exception):  # NotImplementedError inside executor
            multimodal.extract_features(media, fake_decode=False).collect()

    def test_fake_feature_extraction_deterministic(self, spark):
        media = multimodal.synthetic_media_df(spark, 32)
        a = multimodal.extract_features(media, fake_decode=True).toPandas()
        b = multimodal.extract_features(media, fake_decode=True).toPandas()
        a = a.sort_values("media_id").reset_index(drop=True)
        b = b.sort_values("media_id").reset_index(drop=True)
        assert len(a) == 32
        assert (a["sha1"] == b["sha1"]).all()
        assert all(len(f) == multimodal.FEATURE_DIM for f in a["features"])
        assert all(0.0 <= v <= 1.0 for f in a["features"] for v in f)

    def test_frame_sampling_fanout(self, spark):
        media = multimodal.synthetic_media_df(spark, 30)
        frames = multimodal.frame_sample(media, every_ms=1500,
                                         fake_decode=True).toPandas()
        assert len(frames) > 10
        g = frames.groupby("media_id")["frame_idx"]
        assert (g.min() == 0).all()
        assert (frames["frame_ts_ms"] == frames["frame_idx"] * 1500).all()


class TestSkew:
    def test_resize_images_shape_and_determinism(self, spark):
        from ragstudio_spark.operators import multimodal

        media = multimodal.synthetic_media_df(spark, 24)
        out = multimodal.resize_images(media, 64, 48, fake_decode=True)
        rows = out.collect()
        n_images = media.filter("media_type = 'image'").count()
        assert len(rows) == n_images            # image-only, 1 -> 1
        expected = (64 * 48 + 15) // 16
        assert all(len(r["resized_payload"]) == expected for r in rows)
        assert all((r["width"], r["height"]) == (64, 48) for r in rows)
        again = {r["media_id"]: bytes(r["resized_payload"])
                 for r in multimodal.resize_images(
                     media.repartition(8), 64, 48, fake_decode=True).collect()}
        assert {r["media_id"]: bytes(r["resized_payload"])
                for r in rows} == again         # partition-independent
        import pytest as _pytest
        with _pytest.raises(Exception, match="NotImplementedError|codecs"):
            multimodal.resize_images(media, 64, 48).collect()
        with _pytest.raises(ValueError):
            multimodal.resize_images(media, 0, 48, fake_decode=True)

    def test_salted_agg_matches_plain(self, spark):
        from pyspark.sql import functions as F
        df = tsrc.transcripts_df(spark, 300, seed=43, partitions=4)
        salted = skew.salted_conv_agg(df, F.length("text"), n_salts=16).toPandas()
        plain = (
            df.groupBy("conv_id")
            .agg(F.count("*").alias("n_rows"), F.sum(F.length("text")).alias("total"))
            .toPandas()
        )
        key = "conv_id"
        s = salted.sort_values(key).reset_index(drop=True)
        p = plain.sort_values(key).reset_index(drop=True)
        assert (s["n_rows"].values == p["n_rows"].values).all()
        assert (s["total"].values == p["total"].values).all()

    def test_rebalance_preserves_rows(self, spark):
        df = tsrc.transcripts_df(spark, 200, seed=47, partitions=2)
        out = skew.rebalance_by_size(df, num_partitions=8)
        assert out.count() == 200
        assert out.rdd.getNumPartitions() == 8
