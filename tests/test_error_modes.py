"""Per-row error-mode plumbing (reference interactive.py STOP/IGNORE/
CONTINUE → fail_fast / skip / quarantine) + kernel totality fuzz.

The kernel is deliberately *total* on str inputs (never raises), so the
row-level fault barrier in operators/fused.py is defense in depth for
executor-side surprises (codec bugs, pathological regex behavior on future
operators). We verify: (a) mode validation, (b) healthy rows carry a null
error, (c) the kernel really is total under adversarial fuzz — the property
that makes the barrier's untriggered path acceptable.
"""

import pytest

from ragstudio_spark.operators import fused


def _input(spark):
    rows = [("c1", 0, "ok text that is long enough to chunk properly. " * 5, "plain"),
            ("c1", 1, "", "empty"),
            ("c1", 2, "<p>" + "short html prose for the extractor to keep. " * 8 + "</p>", "html")]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string, content_type string"
    )


class TestErrorModes:
    def test_invalid_mode_rejected(self, spark):
        with pytest.raises(ValueError):
            fused.process_turns(_input(spark), on_error="explode")

    def test_unknown_python_engine_rejected(self, spark):
        with pytest.raises(ValueError, match="python_engine"):
            fused.process_turns(_input(spark), python_engine="arrow")

    def test_healthy_rows_have_null_error(self, spark):
        for mode in ("quarantine", "skip", "fail_fast"):
            out = fused.process_turns(_input(spark), on_error=mode).toPandas()
            assert out["error"].isna().all()
            assert len(out) == 3


class TestKernelTotality:
    def test_kernel_total_on_adversarial_strings(self):
        import random

        from ragstudio_spark.kernel import chunk as kchunk
        from ragstudio_spark.kernel import html_extract, langid, quality, textops

        rng = random.Random(42)
        alphabet = "ab #\n\t.|=-–—é<>/\"'\\{}[]()!?0123456789ﬁﬂæœ■"
        samples = [
            "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 400)))
            for _ in range(300)
        ]
        samples += ["", " ", "\n" * 50, "<" * 100, "#" * 100, "\x00\x01\x02",
                    "a" * 20000, ("<p>" * 500)]
        for s in samples:
            textops.clean_text(s)
            textops.preprocess_before_chunking(s, "pdf")
            html_extract.extract_main_content(s)
            langid.detect_language(s)
            quality.check_text_quality(s)
            chunks, _ = kchunk.chunk_turn(s, "f:0", max_tokens=8, overlap=2)
            for c in chunks:
                assert c["char_end"] - c["char_start"] == c["char_length"]


class TestAllOptionsOn:
    def test_every_feature_enabled_simultaneously(self, spark, tmp_path):
        """Config interaction: adaptive + language filter + near dedup +
        tool mining + stage trace all at once, through lineage, must
        produce a consistent committed run (features compose; none
        clobbers another's columns)."""
        import os

        from ragstudio_spark.pipeline import lineage
        from ragstudio_spark.pipeline.job import PipelineConfig
        from ragstudio_spark.sources import transcripts as tsrc

        cfg = PipelineConfig(adaptive=True, language_filter=("fr", "en"),
                             dedupe_chunks="near", extract_tools=True,
                             with_trace=True)
        full = tsrc.transcripts_df(spark, 150, seed=87, partitions=3)
        root = str(tmp_path / "allon")
        summary = lineage.run_with_lineage(spark, full, root, "run_1", cfg)
        assert summary["status"] == "completed"
        assert summary["success"] > 0

        chunks = lineage.read_chunks(spark, root)
        assert "chunking_reason" in chunks.columns     # adaptive metadata
        assert chunks.count() > 0
        metrics = lineage.read_table(spark, root, "metrics")
        assert "stage_trace" in metrics.columns        # trace present
        langs = {r["language"] for r in
                 metrics.filter("status = 'success'")
                 .select("language").distinct().collect()}
        assert langs <= {"fr", "en"}                   # filter applied
        assert os.path.isdir(os.path.join(root, "runs", "run_1", "tool_calls"))
        # near dedup: no surviving exact-duplicate chunk texts
        pdf = chunks.select("text").toPandas()
        assert not pdf.duplicated().any()
