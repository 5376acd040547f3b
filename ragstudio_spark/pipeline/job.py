"""End-to-end extract+chunk pipeline (the engine's flagship job).

Dataflow (reference lifecycle §3.2/§3.3 of SURVEY.md — batch_command and
IngestionPipelineWithMetadata.ingest_document):

    transcripts
      → sniff content_type                 (column exprs, JVM)
      → extract + normalize + chunk        (ONE fused mapInPandas hop —
                                            see operators/fused.py for why)
      → quality gate on the chunk array    (JVM exprs, zero shuffle)
      → split: chunks (exploded) / quarantine / per-turn metrics

Everything up to the turn status is ``_gated_turns`` and the chunk
explode is ``_published_chunks``; ``streaming.transform_stream`` runs the
same two on a stream, so batch and stream publish the same chunks.

Adaptive mode (profile-driven strategy selection) runs inside the same
fused hop using the kernel profiler/selector. The JVM column-expression
twins in operators/profiler.py + strategy.py are parity-tested against
the kernel; profiler.py's feature columns feed the ML strategy classifier
(operators/ml_strategy.py), and the strategy_distribution entry runs
profiler.with_profile → strategy.with_strategy, so its DuckDB oracle
checks the same ladder the parity tests pin.

The hot path is a single narrow stage: no joins, no aggregations, no
shuffles — each turn is independent, so the plan scales linearly with
executors. Ordering guarantees come from data (conv_id, turn_idx,
chunk_index), never from task scheduling.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from ragstudio_spark.operators import fused, quality_gate, sniff
from ragstudio_spark.operators.ranking import top_k


@dataclass
class PipelineConfig:
    strategy: str = "recursive"      # fixed strategy (reference default path)
    max_tokens: int = 400
    overlap: int = 50
    adaptive: bool = False           # profile-driven strategy selection
    preprocess: bool = True
    with_normalize: bool = True      # language + OCR-quality metrics columns
    apply_repair: bool = False       # rewrite text via OCR repair (ingest tier)
    language_filter: tuple | None = None  # e.g. ("fr", "en") drops other langs
    min_readable_ratio: float = 0.9
    chunk_min_ratio: float = 0.3
    on_error: str = "quarantine"     # fail_fast | skip | quarantine
    dedupe_chunks: bool | str = False  # False | True/"exact" | "near"
    extract_tools: bool = False      # mine tool-call JSON payloads table
    with_trace: bool = False         # per-turn stage duration/engine trace
    # token-strategy vocabulary: "auto" = the shipped trained merges.txt
    # (ragstudio_spark/data/, kernel/bpe.resolve_tokenizer); None = the
    # char-window fallback (the reference's own tiktoken-less degradation
    # path); any other value = a merges.txt path
    bpe_merges_path: str | None = "auto"
    # only "pandas" (process_turns rejects anything else); kept because
    # perfbench/layers.py reads it — drop it together with that read
    python_engine: str = "pandas"


@dataclass
class PipelineOutput:
    chunks: DataFrame        # one row per chunk
    metrics: DataFrame       # one row per turn (extraction metrics table)
    quarantine: DataFrame    # failed/empty turns with reason
    tool_calls: DataFrame | None = None  # parsed tool payloads (opt-in)


def run_pipeline(transcripts: DataFrame, config: PipelineConfig | None = None) -> PipelineOutput:
    cfg = config or PipelineConfig()
    return _outputs(transcripts, _gated_turns(transcripts, cfg), cfg)


def _outputs(transcripts: DataFrame, turns: DataFrame,
             cfg: PipelineConfig) -> PipelineOutput:
    """The output tables of ``turns`` (``_gated_turns`` of
    ``transcripts``); ``transcripts`` feeds only the tool-call branch."""
    tool_calls = None
    if cfg.extract_tools and "tool" in transcripts.columns:
        # independent JVM-only branch off the same scan — never rides
        # through the fused Python hop (operators/toolcalls.py rationale)
        from ragstudio_spark.operators import toolcalls

        tool_calls = toolcalls.parse_tool_calls(transcripts)

    metrics = turns.select(
        "conv_id", "turn_idx", "content_type", "extraction_engine",
        F.col("extracted_chars").alias("total_chars"),
        "extraction_fixes", "page_numbers_removed",
        F.col("total_chunks_gate").alias("total_chunks"),
        "readable_chunks", "readable_ratio", "status", "error",
        "language", "quality_score", "needs_repair", "repair_applied",
        *(["stage_trace"] if cfg.with_trace else []),
    )

    quarantine = turns.filter(F.col("status") != "success").select(
        "conv_id", "turn_idx", "content_type", "status", "readable_ratio",
        "error", "text_head",
    )

    meta = ["chunking_reason"] if cfg.adaptive else []
    chunks = _published_chunks(
        turns, "conv_id", "turn_idx", "content_type", "extraction_engine",
        "extraction_fixes", "page_numbers_removed", *meta)

    if cfg.dedupe_chunks in (True, "exact", "near"):
        # corpus-wide exact dedup (training-data hygiene): one shuffle on
        # the text hash; the surviving copy is deterministic (first by
        # (conv_id, turn_idx, chunk_index)), never shuffle-order-dependent.
        # "near" mode ALSO runs this first — MinHash shingling needs ≥3
        # words, so short exact dups would otherwise survive near mode
        # (near-dedup must be a superset of exact-dedup).
        chunks = top_k(chunks, 1, ["conv_id", "turn_idx", "chunk_index"],
                       by=[F.md5(F.col("text"))])
    elif cfg.dedupe_chunks is not False:
        raise ValueError(f"dedupe_chunks: {cfg.dedupe_chunks!r}")
    if cfg.dedupe_chunks == "near":
        # corpus-wide NEAR dedup: MinHash-LSH candidates over chunk text →
        # connected components → keep the minimum-key chunk per cluster.
        # Survivor choice is deterministic (lexicographic min of the
        # zero-padded (conv_id, turn_idx, chunk_index) key). 16 hashes /
        # 4 bands per the measured recall/cost sweep (BASELINE.md).
        # localCheckpoint materializes the (deduped) chunk table ONCE for
        # the iterative clustering and the final anti-join, which both
        # read it. Under run_with_lineage its job is the one that fills
        # the persisted turns (pipeline/lineage.py), so the fused hop
        # still runs once per run. NB this makes the "near" branch eager
        # — run_pipeline triggers the pipeline jobs here.
        from ragstudio_spark.operators import dedupe

        keyed = chunks.withColumn(
            "_k",
            F.concat_ws("|", F.col("conv_id"),
                        F.lpad(F.col("turn_idx").cast("string"), 8, "0"),
                        F.lpad(F.col("chunk_index").cast("string"), 6, "0")),
        ).localCheckpoint()
        pairs = dedupe.minhash_lsh_pairs(
            keyed, id_col="_k", n_hashes=16, n_bands=4)
        chunks = dedupe.keep_canonical(keyed, pairs, id_col="_k").drop("_k")

    return PipelineOutput(chunks=chunks, metrics=metrics, quarantine=quarantine,
                          tool_calls=tool_calls)


def _gated_turns(transcripts: DataFrame, cfg: PipelineConfig,
                 carry_ts: bool = False) -> DataFrame:
    """One row per turn: sniff → fused hop → language filter → chunk gate,
    plus the turn's ``status`` (success / empty / failed_quality /
    failed_error / skipped). ``carry_ts`` passes the input ``ts`` through
    (event-time streaming)."""
    df = sniff.with_content_type(transcripts)

    # wire form: spans-only chunks + base_utf8 (fused.py) — the gate folds
    # over the slice expression and the chunk strings are copied exactly
    # once, in the post-explode projection of _published_chunks
    turns = fused.process_turns(
        df.select("conv_id", "turn_idx", "text", "content_type",
                  *(["ts"] if carry_ts else [])),
        strategy=cfg.strategy,
        max_tokens=cfg.max_tokens,
        overlap=cfg.overlap,
        do_preprocess=cfg.preprocess,
        with_normalize=cfg.with_normalize,
        apply_repair=cfg.apply_repair,
        carry_ts=carry_ts,
        on_error=cfg.on_error,
        adaptive=cfg.adaptive,
        with_trace=cfg.with_trace,
        materialize_text=False,
        bpe_merges_path=cfg.bpe_merges_path,
        python_engine=cfg.python_engine,
    )

    if cfg.language_filter:
        allowed = [x.lower() for x in cfg.language_filter]
        turns = turns.filter(F.lower(F.col("language")).isin(allowed))

    turns = quality_gate.with_chunks_gate(
        turns,
        chunks_col="chunks",
        min_readable_ratio=cfg.min_readable_ratio,
        chunk_min_ratio=cfg.chunk_min_ratio,
        chunk_text=fused.chunk_text_expr("c"),
    )
    return turns.withColumn(
        "status",
        F.when(F.col("error").isNotNull(),
               F.lit("skipped" if cfg.on_error == "skip" else "failed_error"))
        .when(F.col("content_type") == "empty", F.lit("empty"))
        .when(F.col("gate_passed"), F.lit("success"))
        .otherwise(F.lit("failed_quality")),
    )


def _published_chunks(turns: DataFrame, *cols: str) -> DataFrame:
    """One row per chunk of every ``success`` turn: the turn columns
    ``cols``, then the public chunk fields sliced from the wire form."""
    return turns.filter(F.col("status") == "success").select(
        *cols, "base_utf8", F.explode("chunks").alias("chunk"),
    ).select(*cols, *fused.public_chunk_cols())
