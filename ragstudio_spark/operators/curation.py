"""Corpus curation — the composed clean-room step of an LLM training-data
pipeline, as ONE DataFrame flow:

    exact dedup (canonical per text hash)
      → PII redaction (+ per-category audit counts)
        → token estimate over the REDACTED text
          → fixed-budget sequence packing per shard

Each stage is an already-oracle-gated operator (dedupe / redact /
packing); this module is their composition, itself oracle-gated end to
end (`curate_corpus` query): the DuckDB twin replays the same four
stages in SQL and the result hashes must match byte-for-byte.

Order matters and is part of the contract: dedup FIRST (identical texts
redact identically, so deduping first only removes redundant work),
redaction BEFORE token counting (a training pipeline packs what it
ships — the scrubbed text), packing LAST over a per-shard window (no
global window; see operators/packing.py).

Scale shape: one hash-partitioned shuffle (dedup window), one codegen'd
projection (redaction chain), one per-shard window (packing). No Python,
no collect, no broadcast needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ragstudio_spark.operators import packing
from ragstudio_spark.operators import redact as redact_op
from ragstudio_spark.operators.ranking import top_k

#: chars-per-token heuristic shared with the pack_sequences entry
CHARS_PER_TOKEN = 4


def curate_corpus(df: DataFrame, budget: int = 2048) -> DataFrame:
    """Curated corpus rows: one per kept document, with redaction audit
    counts, the redacted text, its token estimate, and the training
    sequence assignment (``seq_index``/``seq_token_offset`` within the
    document's shard). Ties in the dedup window break on lowest id —
    deterministic across partitionings.
    ``df`` carries ``doc_id``, ``text`` and ``lang`` (the packing shard)."""
    canonical = top_k(df, 1, [F.asc("doc_id")], by=[F.md5(F.col("text"))])
    red = redact_op.with_redaction(canonical)
    toks = red.withColumn(
        "token_count",
        F.expr(f"length(redacted_text) div {CHARS_PER_TOKEN}")
        .cast("bigint"))
    return packing.pack_chunks(
        toks, budget=budget, partition_col="lang",
        order_cols=("doc_id",))


def curate_sft(transcripts: DataFrame, benchmark: DataFrame, ngram_n: int = 13,
               min_shared: int = 1, max_dup_line_frac: float = 0.3,
               max_top2_frac: float = 0.2, budget: int = 2048) -> DataFrame:
    """SFT curation — the full RLHF data-prep flow as ONE composition of
    already-oracle-gated stages:

        sft_pairs (user→assistant mining, per-conversation window)
          → exact 13-gram decontamination vs the benchmark table
            (GPT-3 convention; the example text is prompt + response)
            → Gopher repetition filter over the example text
              → fixed-budget sequence packing per shard

    The example key is ``conv_id || ':' || zero-padded turn_idx``
    (lexicographically ordered = (conv, turn) ordered — the packing
    order), the shard is the first hex char of md5(conv_id) (16-way,
    deterministic and engine-portable). Returns one row per surviving
    example: (conv_id, turn_idx, example_id, prompt, response,
    example_text, token_count, shard, seq_index, seq_token_offset).

    Scale shape, stage by stage: one per-conversation window (mining),
    one distinct-gram explode + broadcast benchmark join
    (decontamination), two explode→groupBy families + a semi-join
    (repetition filter), one per-shard window (packing). No Python, no
    collect; every join surface is either per-conversation, broadcast,
    or 16-way sharded.
    ``transcripts`` carries ``conv_id``, ``turn_idx``, ``role`` and
    ``text``; ``benchmark`` carries ``doc_id`` and ``text``."""
    from ragstudio_spark.operators import dedupe, quality_signals
    from ragstudio_spark.operators import sft as sft_op

    pairs = sft_op.sft_pairs(transcripts)
    ex = pairs.select(
        "conv_id", "turn_idx",
        F.concat(F.col("conv_id"), F.lit(":"),
                 F.lpad(F.col("turn_idx").cast("string"), 6, "0"))
        .alias("example_id"),
        "prompt", "response",
        F.concat(F.col("prompt"), F.lit("\n\n"), F.col("response"))
        .alias("example_text"))
    # Two measured scale guards (bench-found, 67 s → ~1 s at sf0.1):
    # (1) REPARTITION before the checkpoint — the mining window's output
    #     is keyed by conversation, and with few conversations AQE
    #     coalesces the tiny shuffle to ONE partition; every downstream
    #     stage (the 13-gram explode above all) would then run
    #     single-core. Spreading by example_id restores the fan-out.
    # (2) localCheckpoint — the example frame feeds BOTH decontamination
    #     legs and `clean` feeds the repetition filter, whose signal
    #     computation references its input three times; Spark does not
    #     dedupe common subplans across joins, so without
    #     materialization the mining window + gram join re-execute ~6×.
    #     This is the single-job equivalent of what a production run
    #     does anyway: persist the mined/cleaned example table between
    #     curation stages. NB curate_sft is therefore EAGER.
    sc = ex.sparkSession.sparkContext
    ex = ex.repartition(sc.defaultParallelism, "example_id").localCheckpoint()
    flagged = dedupe.ngram_decontaminate(
        ex.select(F.col("example_id").alias("doc_id"),
                  F.col("example_text").alias("text")),
        benchmark.select("doc_id", "text"),
        n=ngram_n, min_shared=min_shared)
    # same repartition-before-checkpoint rationale as ``ex``: the
    # anti-join's output partitioning is AQE-coalesced (measured 6
    # partitions at sf1.0), and the repetition filter explodes ~100
    # gram rows per example from whatever layout `clean` froze (r7)
    clean = (ex.join(
        flagged.select(F.col("corpus_id").alias("example_id")).distinct(),
        on="example_id", how="left_anti")
        .repartition(sc.defaultParallelism, "example_id")
        .localCheckpoint())
    kept = quality_signals.repetition_filter(
        clean, text_col="example_text", id_col="example_id",
        max_dup_line_frac=max_dup_line_frac, max_top2_frac=max_top2_frac)
    toks = kept.withColumn(
        "token_count",
        F.expr(f"length(example_text) div {CHARS_PER_TOKEN}")
        .cast("bigint")).withColumn(
        "shard", F.substring(F.md5(F.col("conv_id")), 1, 1))
    return packing.pack_chunks(
        toks, budget=budget, partition_col="shard",
        order_cols=("example_id",))


def _manifest_aggs(count_alias: str) -> list:
    """The aggregation columns both manifests share (one definition —
    a semantics fix must reach both). ``n_sequences`` counts
    START-ASSIGNED sequence slots (``max(seq_index) + 1``): the packing
    scheme (packing.pack_chunks) assigns each item WHOLLY to the
    sequence containing its start, so an oversized tail item overflows
    its slot and the trainer's wrap policy decides the physical split —
    a token-exact physical count would be ``ceil(Σtokens / budget)``,
    which this deliberately is not."""
    return [
        F.count("*").cast("bigint").alias(count_alias),
        F.sum("token_count").cast("bigint").alias("n_tokens"),
        (F.max("seq_index") + 1).cast("bigint").alias("n_sequences"),
    ]


def sft_curation_report(curated: DataFrame) -> DataFrame:
    """Per-shard manifest of a ``curate_sft`` run: kept examples,
    conversations covered, exact token totals, start-assigned sequence
    slots (see ``_manifest_aggs`` for the n_sequences semantics) — the
    audit table an RLHF data-prep run keeps next to its output. One
    partial-aggregated groupBy over the (small) curated table."""
    return curated.groupBy("shard").agg(
        *_manifest_aggs("n_examples"),
        F.countDistinct("conv_id").cast("bigint").alias("n_conversations"),
    )


def curation_report(curated: DataFrame) -> DataFrame:
    """Per-shard curation manifest: kept docs, total tokens,
    start-assigned sequence slots (``_manifest_aggs``), and redaction
    totals — the audit table a curation run keeps. One
    partial-aggregated groupBy. ``curated`` carries ``lang``, the shard key."""
    aggs = _manifest_aggs("n_docs")
    for cat, _p, _r in redact_op.REDACTIONS:
        aggs.append(F.sum(f"n_{cat}").cast("bigint").alias(f"n_{cat}"))
    return curated.groupBy("lang").agg(*aggs)


def curate_pretrain_stream(df: DataFrame, min_tokens: int = 20,
                           per_source_cap: int = 1000, n_buckets: int = 8,
                           budget: int = 2048) -> DataFrame:
    """Pretraining-stream curation — the batch analogue of curate_sft,
    composed entirely from already-oracle-gated stages:

        exact-dup canonical keep (md5 window, lowest id survives)
          → token-length gate (token_count >= min_tokens)
            → per-source quota (sampling.cap_per_key — no domain
              dominates the mix)
              → curriculum interleave (sampling.curriculum_order on
                token_count — every stream prefix spans the difficulty
                spectrum)
                → fixed-budget sequence packing per shard, in schedule
                  order (packing.pack_chunks)

    Returns one row per surviving document: (id, shard, source,
    token_count, bucket, schedule_pos, seq_index, seq_token_offset) —
    the manifest a trainer's data loader consumes.

    Scale shape: one md5-partitioned window (dedup), one filter, one
    per-source window (quota), the two documented GLOBAL curriculum
    windows (the operator's stated total-order boundary — run
    per-shard slices at 10^12 docs), one per-shard packing window.
    No Python, no collect, no join at all.
    ``df`` carries ``doc_id``, ``text``, ``source`` and ``lang``.
    """
    from ragstudio_spark.operators import sampling

    canonical = top_k(df, 1, [F.asc("doc_id")], by=[F.md5(F.col("text"))])
    toks = (canonical
            .withColumn("token_count",
                        F.expr(f"length(text) div {CHARS_PER_TOKEN}")
                        .cast("bigint"))
            .filter(F.col("token_count") >= min_tokens))
    quota = sampling.cap_per_key(toks, "source", per_source_cap,
                                 order_cols=("doc_id",), salt="quota")
    sched = sampling.curriculum_order(
        quota.select("doc_id", "lang", "source", "token_count"),
        "token_count", key_cols=("doc_id",), n_buckets=n_buckets)
    return packing.pack_chunks(
        sched, budget=budget, partition_col="lang",
        order_cols=("schedule_pos",))
