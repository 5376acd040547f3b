"""End-to-end pipeline tests: differential oracle vs the Python kernel,
determinism across parallelism, quality-gate quarantine, invariants.

These realize FIXTURES.md §4 invariants 1-9 and 12 on Spark output.
"""

import pandas as pd
import pytest

from ragstudio_spark.kernel import chunk as kchunk
from ragstudio_spark.kernel import html_extract, quality, textops
from ragstudio_spark.pipeline.job import PipelineConfig, run_pipeline
from ragstudio_spark.sources import transcripts as tsrc

N_TURNS = 400
SEED = 42


@pytest.fixture(scope="module")
def input_pdf(spark):
    return tsrc.transcripts_df(spark, N_TURNS, seed=SEED, partitions=8)


@pytest.fixture(scope="module")
def pipeline_out(spark, input_pdf):
    out = run_pipeline(input_pdf, PipelineConfig())
    return {
        "chunks": out.chunks.toPandas(),
        "metrics": out.metrics.toPandas(),
        "quarantine": out.quarantine.toPandas(),
    }


def oracle_expected(n_turns=N_TURNS, seed=SEED):
    """Pure-Python recomputation of the expected chunks table."""
    pdf = tsrc.generate_pandas(n_turns, seed=seed)
    rows = []
    for _, r in pdf.iterrows():
        text = r["text"] or ""
        stripped = text.strip()
        if not stripped:
            continue
        # sniff (same priority as operators/sniff.py)
        import re
        if re.search(r"(?is)<html|<body|<head|<article|<div[\s>]|<p[\s>]", text):
            ctype = "html"
            extracted = html_extract.extract_main_content(text)
        elif re.search(r"(?m)^#{1,6}\s+\S|^\|[^\n]*\|[^\n]*\|", text):
            ctype = "markdown"
            extracted = text
        elif re.search(
            r"(?m)-\s*Page \d+\s*-|\w-\n\w|^[ \t]*[\|\-_=+][ \t\|\-_=+]*$|^\S{1,2}\n\S{1,2}\n\S{1,2}$",
            text,
        ):
            ctype = "pdf"
            extracted = textops.preprocess_before_chunking(text, "pdf")
        else:
            ctype = "plain"
            extracted = text
        chunks, stats = kchunk.chunk_turn(
            extracted, source=f"{r['conv_id']}:{r['turn_idx']}",
            requested_strategy="recursive", max_tokens=400, overlap=50,
        )
        verdict = quality.check_chunks_quality(
            [c["text"] for c in chunks], min_readable_ratio=0.9
        )
        if not verdict["is_readable"]:
            continue
        for c in chunks:
            rows.append(
                {
                    "conv_id": r["conv_id"],
                    "turn_idx": r["turn_idx"],
                    "content_type": ctype,
                    "chunk_index": c["chunk_index"],
                    "chunk_id": c["chunk_id"],
                    "text": c["text"],
                    "char_start": c["char_start"],
                    "char_end": c["char_end"],
                }
            )
    return pd.DataFrame(rows)


class TestDifferentialOracle:
    def test_per_turn_chunk_text_equality(self, pipeline_out):
        """Per-turn text + span equality vs the kernel oracle — the core
        correctness contract (BASELINE.json input_hint)."""
        got = (
            pipeline_out["chunks"]
            .sort_values(["conv_id", "turn_idx", "chunk_index"])
            .reset_index(drop=True)
        )
        exp = (
            oracle_expected()
            .sort_values(["conv_id", "turn_idx", "chunk_index"])
            .reset_index(drop=True)
        )
        assert len(got) == len(exp), f"chunk count {len(got)} != oracle {len(exp)}"
        assert len(got) > 100
        for col in ["conv_id", "turn_idx", "chunk_index", "chunk_id", "text",
                    "char_start", "char_end", "content_type"]:
            mism = (got[col].values != exp[col].values).sum()
            assert mism == 0, f"{mism} mismatches in {col}"

    def test_all_content_types_exercised(self, pipeline_out):
        types = set(pipeline_out["metrics"]["content_type"].unique())
        assert {"plain", "html", "pdf", "markdown", "empty"} <= types


class TestInvariants:
    def test_spans_ordered_and_consistent(self, pipeline_out):
        ch = pipeline_out["chunks"]
        assert (ch["char_end"] > ch["char_start"]).all()
        assert (ch["char_start"] >= 0).all()
        assert (ch["char_length"] == ch["text"].str.len()).all()
        assert (ch["token_count"] == ch["char_length"] // 4).all()
        # chunk_index contiguous from 0 per turn
        g = ch.groupby(["conv_id", "turn_idx"])["chunk_index"]
        assert (g.min() == 0).all()
        assert (g.max() + 1 == g.count()).all()

    def test_no_duplicate_chunk_ids_within_turn(self, pipeline_out):
        ch = pipeline_out["chunks"]
        assert not ch.duplicated(["conv_id", "turn_idx", "chunk_index"]).any()

    def test_empty_turns_quarantined_not_chunked(self, pipeline_out):
        q = pipeline_out["quarantine"]
        m = pipeline_out["metrics"]
        empties = m[m["status"] == "empty"]
        assert len(empties) > 0  # generator makes ~1% empty turns
        ch = pipeline_out["chunks"]
        merged = empties.merge(ch, on=["conv_id", "turn_idx"], how="inner")
        assert len(merged) == 0
        assert set(q["status"].unique()) <= {"empty", "failed_quality"}

    def test_garbage_turns_fail_gate(self, pipeline_out):
        m = pipeline_out["metrics"]
        failed = m[m["status"] == "failed_quality"]
        assert len(failed) > 0  # generator makes ~1% OCR-garbage pdf turns
        assert (failed["readable_ratio"] < 0.9).all()

    def test_metrics_cover_every_turn(self, pipeline_out):
        assert len(pipeline_out["metrics"]) == N_TURNS

    def test_language_detected(self, pipeline_out):
        m = pipeline_out["metrics"]
        langs = set(m["language"].dropna().unique())
        assert "fr" in langs and "en" in langs


class TestDeterminism:
    def test_same_output_across_parallelism(self, spark):
        """FIXTURES.md invariant 12: local[1]-style single partition vs 8
        partitions produce identical chunk tables."""
        small = 150
        a = run_pipeline(
            tsrc.transcripts_df(spark, small, seed=7, partitions=1)
        ).chunks.toPandas()
        b = run_pipeline(
            tsrc.transcripts_df(spark, small, seed=7, partitions=8)
        ).chunks.toPandas()
        key = ["conv_id", "turn_idx", "chunk_index"]
        a = a.sort_values(key).reset_index(drop=True)
        b = b.sort_values(key).reset_index(drop=True)
        pd.testing.assert_frame_equal(a, b)


class TestAdaptive:
    def test_adaptive_pipeline_runs_all_strategies(self, spark, input_pdf):
        out = run_pipeline(input_pdf, PipelineConfig(adaptive=True))
        ch = out.chunks.toPandas()
        assert len(ch) > 0
        reasons = set(ch["chunking_reason"].unique())
        assert "short_document" in reasons
        strategies = set(ch["requested_strategy"].unique())
        assert len(strategies) >= 2

    def test_language_filter(self, spark, input_pdf):
        out = run_pipeline(
            input_pdf, PipelineConfig(language_filter=("fr", "en"))
        )
        m = out.metrics.toPandas()
        assert set(m["language"].dropna().unique()) <= {"fr", "en"}


class TestSpansOnlyWire:
    """The spans-only Arrow wire form (operators/fused.py): chunk text
    crosses the Python boundary as NULL + a UTF-8 byte span into base_utf8,
    and the JVM binary-substring slice reconstructs it byte-identically —
    including fr/de non-ASCII turns and the overlap-region find quirk."""

    def test_wire_chunks_ship_null_text(self, spark, input_pdf):
        from ragstudio_spark.operators import fused, sniff

        raw = fused.process_turns(
            sniff.with_content_type(input_pdf).select(
                "conv_id", "turn_idx", "text", "content_type"),
            materialize_text=False,
        ).toPandas()
        n_null = n_lit = 0
        for _, r in raw.iterrows():
            chunks = r["chunks"] if r["chunks"] is not None else []
            for c in chunks:
                if c["text"] is None:
                    n_null += 1
                else:
                    n_lit += 1
            if len(chunks):
                assert r["base_utf8"] is not None
        assert n_null > 500
        # every splitter emits contiguous text, so literal fallback is never
        # needed on this corpus — if this starts failing, transport got
        # heavier, not wrong (correctness is pinned by the slice test below)
        assert n_lit == 0

    def test_materialized_text_matches_kernel(self, spark, input_pdf,
                                              mixed_turns):
        """Default (materialized) form: slices reconstruct the kernel's
        chunk text exactly — the differential oracle re-checked on the
        wire round trip, with explicit non-ASCII coverage. The mixed
        hand-built input also runs with ``carry_ts=True``: every turn's
        event time comes back unchanged, the NULL one included."""
        from ragstudio_spark.operators import fused, sniff

        def check(turns, src, carry_ts=False):
            cols = ["conv_id", "turn_idx", "text", "content_type"]
            out = fused.process_turns(
                sniff.with_content_type(turns).select(
                    *cols, *(["ts"] if carry_ts else [])),
                carry_ts=carry_ts,
            )
            assert "base_utf8" not in out.columns
            mat = out.collect()
            assert len(mat) == len(src)
            checked = non_ascii = 0
            for r in mat:
                key = (r["conv_id"], r["turn_idx"])
                if carry_ts:
                    assert r["ts"] == src[key]["ts"], key
                if r["chunks"] is None or r["error"]:
                    continue
                text = src[key]["text"] or ""
                if not text.strip():
                    continue
                extracted = fused._extract_one(text, r["content_type"])
                expected, _ = kchunk.chunk_turn(
                    extracted, source=f"{r['conv_id']}:{r['turn_idx']}")
                got = list(r["chunks"])
                assert len(got) == len(expected)
                for g, e in zip(got, expected):
                    assert g["text"] == e["text"]
                    if not e["text"].isascii():
                        non_ascii += 1
                    checked += 1
            return checked, non_ascii

        src = tsrc.generate_pandas(N_TURNS, seed=SEED).set_index(
            ["conv_id", "turn_idx"])
        checked, non_ascii = check(
            input_pdf, {k: {"text": t} for k, t in src["text"].items()})
        assert checked > 500
        assert non_ascii > 50

        checked, non_ascii = check(
            spark.createDataFrame(
                mixed_turns,
                "conv_id string, turn_idx int, text string, ts timestamp"),
            {(c, i): {"text": t, "ts": ts} for c, i, t, ts in mixed_turns},
            carry_ts=True)
        assert checked > 0 and non_ascii > 0


class TestIndexAndSearchLifecycle:
    def test_chunks_to_store_to_hybrid_results(self, spark, tmp_path):
        """chunk → embed → vector-store ingest → hybrid retrieval as one
        composed flow (the reference's ragctl ingest + query lifecycle,
        src/core/cli/commands/ingest.py:26-115): results must be ranked
        1..k, unique, and resolvable back to pipeline chunk ids."""
        from pyspark.sql import functions as F

        from ragstudio_spark.operators import retrieval, vectorstore

        rows = [
            ("c1", 0, "spark query engines shuffle data across the "
                      "cluster while processing partitioned tables. " * 10,
             None, None),
            ("c1", 1, "the lazy cat naps on the warm windowsill in the "
                      "afternoon sun without any hurry at all. " * 10,
             None, None),
            ("c2", 0, "distributed processing system design with data "
                      "pipelines and system monitoring at scale. " * 10,
             None, None),
        ]
        df = spark.createDataFrame(
            rows,
            "conv_id string, turn_idx int, text string, tool string,"
            " ts timestamp")
        out = run_pipeline(df, PipelineConfig())
        store_path = str(tmp_path / "store")
        info = vectorstore.ingest_chunks(out.chunks, store_path)
        assert info["count"] == out.chunks.count()

        store = vectorstore.read_store(spark, store_path)
        terms = ["data", "processing", "system"]
        query = spark.range(1).select(
            vectorstore.fake_embedding_col(
                F.lit(" ".join(terms))).alias("embedding"))
        got = retrieval.hybrid_search(
            store.select("id", "text"), store.select("id", "embedding"),
            terms, query, doc_id_col="id", vec_id_col="id",
        ).orderBy("rank").limit(5).collect()

        assert len(got) > 0
        assert [r["rank"] for r in got] == list(range(1, len(got) + 1))
        chunk_ids = {r["chunk_id"] for r in out.chunks.collect()}
        assert all(r["id"] in chunk_ids for r in got)
        # lexical leg must surface the term-bearing conversations first
        top_texts = {r["id"]: True for r in got[:2]}
        texts = {r["chunk_id"]: r["text"] for r in out.chunks.collect()}
        assert any("processing" in texts[i] for i in top_texts)
