"""Structured Streaming variant of the extract+chunk pipeline.

The reference is strictly batch (sequential per-file loop, SURVEY.md §2.10);
this module is the engine's forward-looking streaming tier. The per-turn
pipeline is row-local, so ``transform_stream`` runs ``run_pipeline``'s own
core (sniff → fused extract+chunk → gate → status → explode) on a
streaming DataFrame. Adds:

* ``streaming_pipeline``  — readStream(parquet dir) → transform → chunks
  stream (append mode, checkpointed; resume = restart with the same
  checkpoint dir, Spark's offset log replaces the batch lineage anti-join).
* ``windowed_chunk_counts`` — event-time tumbling-window aggregation with a
  watermark for late turns: chunks/minute per content type, the streaming
  analogue of the batch run counters (status.py:47-112).

Every file-stream job here is an incremental batch: it reads a parquet
directory (``_file_stream``, 8 files per trigger) and runs with
``trigger(availableNow=True)`` (``_start``) — it processes every file not
yet in its offset log, then stops. Scheduling happens outside the job; the
checkpointed offset log makes each rerun resume where the last one stopped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ragstudio_spark.pipeline.job import (
    PipelineConfig, _gated_turns, _published_chunks,
)
from ragstudio_spark.session import literal_table
from ragstudio_spark.sources.transcripts import TRANSCRIPT_SCHEMA


def _file_stream(spark: SparkSession, schema: str,
                 input_dir: str) -> DataFrame:
    """The parquet-directory source every file-stream job reads."""
    return (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 8).parquet(input_dir))


def _start(writer, checkpoint_dir: str):
    """Start ``writer`` as an incremental batch: everything new since the
    checkpointed offsets, then stop."""
    return (writer.option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True).start())


def _append_tagged(df: DataFrame, batch_id: int, store_dir: str) -> None:
    """Append one micro-batch's partials to a log, tagged with its batch
    id (foreachBatch re-delivers the same id on retry)."""
    (df.withColumn("batch_id", F.lit(batch_id).cast("bigint"))
     .write.mode("append").parquet(store_dir))


def _sum_tagged_log(raw: DataFrame, keys: list[str],
                    count_col: str) -> DataFrame:
    """Read side of ``_append_tagged``: collapse retried (byte-identical)
    appends with a max per (batch_id, keys), then sum across batches."""
    per_batch = (raw.groupBy("batch_id", *keys)
                 .agg(F.max(count_col).alias(count_col)))
    return (per_batch.groupBy(*keys)
            .agg(F.sum(count_col).cast("bigint").alias(count_col)))


def transform_stream(stream_df: DataFrame, max_tokens: int = 400,
                     overlap: int = 50) -> DataFrame:
    """Apply the per-turn pipeline to a (possibly streaming) DataFrame;
    returns the exploded chunks frame. This is ``run_pipeline``'s core
    (pipeline/job.py) with the default config and ``ts`` carried through:
    the same turns publish (status ``success``), the same chunks come out.
    Stateless row-local ops only — no watermark needed."""
    turns = _gated_turns(
        stream_df, PipelineConfig(max_tokens=max_tokens, overlap=overlap),
        carry_ts=True)
    return _published_chunks(turns, "conv_id", "turn_idx", "ts",
                             "content_type", "extraction_engine")


def streaming_pipeline(spark: SparkSession, input_dir: str, output_dir: str,
                       checkpoint_dir: str):
    """File-source streaming job: new parquet files of transcript turns are
    picked up incrementally; exactly-once via the checkpointed offset log +
    idempotent parquet sink."""
    chunks = transform_stream(_file_stream(spark, TRANSCRIPT_SCHEMA,
                                           input_dir))
    return _start(chunks.writeStream.format("parquet")
                  .option("path", output_dir).outputMode("append"),
                  checkpoint_dir)


CONV_STATE_SCHEMA = "n_turns bigint, n_chars bigint, last_ts timestamp"
CONV_OUT_SCHEMA = (
    "conv_id string, n_turns bigint, n_chars bigint, last_ts timestamp"
)


def conversation_state_aggregator(stream_df, timeout: str = "NoTimeout"):
    """Custom stateful operator: running per-conversation totals across
    micro-batches via ``applyInPandasWithState`` — the streaming analogue of
    per-conversation accounting. State (turn/char counters, last event
    time) persists in the checkpointed state store, so a restarted query
    resumes exact totals — the stateful-tier counterpart of the batch
    lineage resume."""
    import pandas as pd

    def update(key, pdfs, state):
        n_turns, n_chars = 0, 0
        last_ts = None
        for pdf in pdfs:
            n_turns += len(pdf)
            n_chars += int(pdf["text"].fillna("").str.len().sum())
            batch_max = pdf["ts"].max()
            if last_ts is None or (batch_max is not None and batch_max > last_ts):
                last_ts = batch_max
        if state.exists:
            (prev_turns, prev_chars, prev_ts) = state.get
            n_turns += prev_turns
            n_chars += prev_chars
            if last_ts is None or (prev_ts is not None and prev_ts > last_ts):
                last_ts = prev_ts
        state.update((n_turns, n_chars, last_ts))
        yield pd.DataFrame(
            {"conv_id": [key[0]], "n_turns": [n_turns], "n_chars": [n_chars],
             "last_ts": [last_ts]}
        )

    return (
        stream_df.groupBy("conv_id")
        .applyInPandasWithState(
            update,
            outputStructType=CONV_OUT_SCHEMA,
            stateStructType=CONV_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=timeout,
        )
    )


LINT_STATE_SCHEMA = (
    "last_idx bigint, last_role string, "
    "n_turns bigint, n_dup_idx bigint, index_gaps bigint, "
    "n_null_text bigint, n_bad_role bigint, n_bad_transitions bigint, "
    "starts_valid boolean"
)
LINT_OUT_SCHEMA = (
    "conv_id string, n_turns bigint, n_dup_idx bigint, index_gaps bigint, "
    "n_null_text bigint, n_bad_role bigint, n_bad_transitions bigint, "
    "starts_valid boolean, lint_ok boolean"
)


def conversation_lint_aggregator(stream_df, timeout: str = "NoTimeout"):
    """Stateful streaming conversation lint: the batch linter
    (operators/convlint.lint_conversations) as an incremental automaton
    over ``applyInPandasWithState`` — per conversation the state store
    keeps (last index, last role, running counters), so integrity totals
    accumulate across micro-batches and survive checkpoint restarts.

    Exactness contract, stated precisely: totals equal the batch linter
    whenever each conversation's turns arrive in NON-DECREASING turn_idx
    order across batches (the transcript table's stable-ordering
    contract — the whole group's batch rows are concatenated and sorted
    by the same (idx, role, text) tiebreak the batch window uses before
    the fold, so chunked Arrow delivery cannot reorder within a batch)
    AND no duplicated index straddles a batch boundary (the tiebreak
    cannot sort rows it has already folded — a tie split across batches
    is processed in arrival order, which can shift the transition count
    by the tie's permutation). NULL turn_idx rows never crash the
    automaton: each counts toward n_dup_idx (the batch formula
    count − countDistinct does the same) and leaves last_idx unchanged.
    Under out-of-order arrival the gap/dup split between counters is
    undefined (a bounded state cannot reconstruct the full index set) —
    the automaton never crashes and never under-counts total turns.
    Emits the UPDATED lint row per conversation per batch (update mode;
    readers keep the last row per conv)."""
    import pandas as pd

    from ragstudio_spark.operators.convlint import ROLES, VALID_TRANSITIONS

    valid = {f"{a}>{b}" for a, b in VALID_TRANSITIONS}
    role_set = set(ROLES)

    def update(key, pdfs, state):
        if state.exists:
            (last_idx, last_role, n_turns, n_dup, gaps,
             n_null, n_bad_role, n_bad_trans, starts_valid) = state.get
        else:
            last_idx = None
            last_role = None
            n_turns = n_dup = gaps = n_null = n_bad_role = n_bad_trans = 0
            starts_valid = None
        # ONE concat + sort over the whole group-batch: the group arrives
        # as an iterator of Arrow-sized chunks, and per-chunk sorts would
        # let a later chunk's smaller index slip behind an earlier
        # chunk's larger one (review-found)
        chunks = [p for p in pdfs if len(p)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values(
                ["turn_idx", "role", "text"], na_position="first")
            for idx, role, text in zip(pdf["turn_idx"], pdf["role"],
                                       pdf["text"]):
                idx = None if pd.isna(idx) else int(idx)
                role = None if pd.isna(role) else role
                text = None if (not isinstance(text, str)
                                and pd.isna(text)) else text
                if n_turns == 0:
                    starts_valid = role in ("system", "user")
                else:
                    if idx is None or idx == last_idx:
                        # batch parity: count − countDistinct counts
                        # every NULL-idx row as a duplicate too
                        n_dup += 1
                    elif last_idx is not None and idx > last_idx + 1:
                        gaps += idx - last_idx - 1
                    ok = (role in role_set and last_role in role_set
                          and f"{last_role}>{role}" in valid)
                    if not ok:
                        n_bad_trans += 1
                if n_turns == 0 and idx is None:
                    n_dup += 1          # a lone NULL idx is a dup in batch
                if text is None:
                    n_null += 1
                if role not in role_set:
                    n_bad_role += 1
                n_turns += 1
                if idx is not None:
                    last_idx = idx
                last_role = role
        state.update((last_idx, last_role, n_turns, n_dup,
                      gaps, n_null, n_bad_role, n_bad_trans,
                      bool(starts_valid)))
        lint_ok = (n_dup == 0 and gaps == 0 and n_null == 0
                   and n_bad_role == 0 and n_bad_trans == 0
                   and bool(starts_valid))
        yield pd.DataFrame({
            "conv_id": [key[0]], "n_turns": [n_turns],
            "n_dup_idx": [n_dup], "index_gaps": [gaps],
            "n_null_text": [n_null], "n_bad_role": [n_bad_role],
            "n_bad_transitions": [n_bad_trans],
            "starts_valid": [bool(starts_valid)], "lint_ok": [lint_ok],
        })

    return (
        stream_df.groupBy("conv_id")
        .applyInPandasWithState(
            update,
            outputStructType=LINT_OUT_SCHEMA,
            stateStructType=LINT_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=timeout,
        )
    )


def tool_calls_stream(spark: SparkSession, input_dir: str, output_dir: str,
                      checkpoint_dir: str):
    """Streaming tool-call mining: the same all-JVM from_json branch as the
    batch toolcalls operator, lifted onto the file stream — stateless and
    row-local, so it needs no watermark and checkpoints exactly-once like
    the chunks stream."""
    from ragstudio_spark.operators import toolcalls

    calls = toolcalls.parse_tool_calls(
        _file_stream(spark, TRANSCRIPT_SCHEMA, input_dir))
    return _start(calls.writeStream.format("parquet")
                  .option("path", output_dir).outputMode("append"),
                  checkpoint_dir)


DEDUP_DOC_SCHEMA = "doc_id bigint, text string"


def incremental_near_dedup_stream(spark: SparkSession, input_dir: str,
                                  corpus_dir: str, pairs_dir: str,
                                  checkpoint_dir: str, k: int = 3):
    """Streaming incremental NEAR-dedup: each micro-batch of new documents
    is MinHash-banded against the already-committed corpus (the
    decontamination join shape, operators/dedupe.py
    cross_corpus_minhash_pairs — small side = the batch); rows with no
    near-dup in the committed corpus are APPENDED to it, so later batches
    dedup against everything accepted so far.
    Flagged (new_id, committed_id) candidate pairs append to
    ``pairs_dir`` as the audit table.

    Semantics, stated precisely: acceptance is *against the committed
    corpus at batch time* — near-dups WITHIN one micro-batch both commit
    (batch-internal dedup is the batch operators' job, run it on the
    input if arrival batches can self-collide). This is the sequential
    fold every growing-index dedup performs; the batch-equality test
    pins it against the batch operator applied fold-wise.

    Exactly-once: offsets are checkpointed, so a restarted query never
    re-reads processed files; the foreachBatch parquet appends are
    at-least-once under mid-batch crash retry (standard foreachBatch
    caveat). Crash-retry semantics, stated honestly: if a crash lands
    AFTER the corpus append but BEFORE the checkpoint commit, the re-run
    batch reads a corpus that already contains its own rows. Self-matches
    (left_id = right_id) are filtered below so a document never flags
    itself against its own committed copy, and accepted rows re-append
    (both tables are at-least-once; readers dedup on doc_id /
    (left_id, right_id)). One divergence remains and is inherent to
    non-transactional appends: a WITHIN-batch near-dup pair (both novel
    → both accepted on a clean run, the documented semantics) is demoted
    on retry if the crash landed after its partner's rows were appended —
    the retry sees the partner as committed and flags the pair. Accepted
    membership therefore converges for everything except within-batch
    near-dups caught by an unlucky crash window; eliminating that window
    requires an atomic commit of (corpus append + offset), i.e. the
    Iceberg-snapshot sink pipeline/lineage.py documents the mapping
    for."""
    from ragstudio_spark.operators import dedupe

    def process(batch_df: DataFrame, _batch_id: int) -> None:
        import os

        sess = batch_df.sparkSession
        batch = batch_df.localCheckpoint()
        if os.path.isdir(corpus_dir) and any(
            f.endswith(".parquet") for f in os.listdir(corpus_dir)
        ):
            committed = sess.read.parquet(corpus_dir)
        else:
            committed = literal_table(sess, [], DEDUP_DOC_SCHEMA)
        pairs = dedupe.cross_corpus_minhash_pairs(batch, committed, k=k).filter(
            # crash-retry guard: a re-run batch whose rows already landed
            # in the corpus must not flag itself against its own copies
            F.col("left_id") != F.col("right_id")
        ).localCheckpoint()
        accepted = batch.join(
            pairs.select(F.col("left_id").alias("doc_id")).distinct(),
            on="doc_id", how="left_anti",
        ).localCheckpoint()
        # both outputs are materialized ABOVE before any write below, so
        # the corpus append never races its own scan within the batch
        pairs.write.mode("append").parquet(pairs_dir)
        accepted.write.mode("append").parquet(corpus_dir)

    return _start(_file_stream(spark, DEDUP_DOC_SCHEMA, input_dir)
                  .writeStream.foreachBatch(process), checkpoint_dir)


def curate_stream_batch(df: DataFrame, benchmark: DataFrame | None = None,
                        ngram_n: int = 13,
                        benchmark_grams: DataFrame | None = None) -> DataFrame:
    """The row-local curation stages (the non-dedup legs of
    operators/curation.py curate_corpus) applied to ONE batch of
    documents: PII redaction with per-category audit counts, the Gopher
    repetition keep-flag, C4 page signals, and — when a ``benchmark``
    table is supplied — the 13-gram contamination flag (``contaminated``:
    the document shares a verbatim n-gram with the STATIC benchmark
    suite; the benchmark side is fixed, so this stage is also a pure
    per-document function and stays fold-exact). Every stage is a
    function of the single document row against fixed side data, so
    applying this per micro-batch is EXACT — the streamed output over
    any partitioning of the corpus into batches equals the batch
    operator over the whole corpus (fold-equality tested). Rows are
    annotated (rep_keep / c4_keep / contaminated), not dropped —
    curation keeps the audit trail; downstream filters on the flags.

    The repetition keep predicate is quality_signals.repetition_keep_cond
    — the same Column the batch repetition_filter applies, so flag and
    filter can never diverge; contamination reuses
    dedupe.ngram_decontaminate, the oracle-gated batch operator.
    ``df`` and ``benchmark`` carry ``doc_id`` and ``text``."""
    from ragstudio_spark.operators import quality_signals
    from ragstudio_spark.operators import redact as redact_op

    red = redact_op.with_redaction(df).drop("text")
    sig = quality_signals.repetition_signals(df).select(
        "doc_id", "total_chars",
        quality_signals.repetition_keep_cond().alias("rep_keep"))
    c4 = quality_signals.c4_clean(df).select(
        "doc_id", "n_kept", "n_sentences", "c4_keep")
    out = red.join(sig, on="doc_id").join(c4, on="doc_id")
    if benchmark is not None or benchmark_grams is not None:
        from ragstudio_spark.operators import dedupe

        flagged = dedupe.ngram_decontaminate(
            df.select("doc_id", "text"),
            benchmark, n=ngram_n, benchmark_grams=benchmark_grams,
        ).select(F.col("corpus_id").alias("doc_id")).distinct() \
            .withColumn("contaminated", F.lit(True))
        out = out.join(flagged, on="doc_id", how="left").withColumn(
            "contaminated", F.coalesce(F.col("contaminated"), F.lit(False)))
    return out


def curation_stream(spark: SparkSession, input_dir: str, output_dir: str,
                    checkpoint_dir: str, benchmark_dir: str | None = None):
    """Streaming curation: new document files are redacted and
    quality-flagged incrementally (``curate_stream_batch`` per
    micro-batch via foreachBatch — the signals' explode→groupBy shapes
    are per-document aggregations, legal inside a micro-batch without
    any watermark state because no group ever spans batches).
    ``benchmark_dir`` (optional, a static (doc_id, text) parquet dir)
    additionally stamps the 13-gram ``contaminated`` flag against that
    fixed benchmark suite — its DISTINCT-GRAM explode is computed and
    localCheckpointed ONCE at query start (dedupe.distinct_ngrams), so
    per batch only the join against the materialized gram
    table runs, never the benchmark's split/shingle work.
    Offsets are checkpointed: a restarted query never
    re-reads processed files; the parquet append is at-least-once under
    mid-batch crash retry (standard foreachBatch caveat — readers dedup
    on doc_id)."""
    bench_grams = None
    if benchmark_dir is not None:
        from ragstudio_spark.operators import dedupe

        bench_grams = dedupe.distinct_ngrams(
            spark.read.parquet(benchmark_dir),
            out_id="benchmark_id").localCheckpoint()

    def process(batch_df: DataFrame, _batch_id: int) -> None:
        curate_stream_batch(batch_df, benchmark_grams=bench_grams).write.mode(
            "append").parquet(output_dir)

    return _start(_file_stream(spark, DEDUP_DOC_SCHEMA, input_dir)
                  .writeStream.foreachBatch(process), checkpoint_dir)


EMBEDDING_SCHEMA = "vec_id bigint, embedding array<float>"


def ivfpq_stream_ingest(spark: SparkSession, input_dir: str, index_dir: str,
                        centroids_dir: str, codebooks_dir: str,
                        checkpoint_dir: str, m: int = 4):
    """Streaming ANN index ingestion: new embedding files are assigned to
    their coarse cell and PQ-encoded against the FROZEN model artifacts
    (centroids + codebooks read and localCheckpointed once at query
    start — the production pattern: the quantizer trains offline, the
    index grows online), then appended to the cell-partitioned on-disk
    index (write_ivfpq_index layout, so the probe path's dynamic
    partition pruning keeps holding as the index grows).

    Assignment/encoding is a pure per-vector function of the frozen
    model, so micro-batching is EXACT: the streamed index over any batch
    arrival order equals ivfpq_index over the full corpus (equality
    tested). Appends are at-least-once under mid-batch crash retry —
    readers dedup on vec_id, and a compaction pass can rewrite a cell
    partition without touching the rest."""
    from ragstudio_spark.operators import similarity

    cents = spark.read.parquet(centroids_dir).localCheckpoint()
    books = spark.read.parquet(codebooks_dir).localCheckpoint()
    def process(batch_df: DataFrame, _batch_id: int) -> None:
        idx = similarity.ivfpq_index(batch_df, cents, books, m=m)
        idx.write.partitionBy("cell").mode("append").parquet(index_dir)

    return _start(_file_stream(spark, EMBEDDING_SCHEMA, input_dir)
                  .writeStream.foreachBatch(process), checkpoint_dir)


#: streamed cache-ingest input: a keyed value with its event timestamp
CACHE_INGEST_SCHEMA = "doc_id bigint, text string, ts bigint"


def cache_stream_ingest(spark: SparkSession, input_dir: str, store_dir: str,
                        checkpoint_dir: str, prefix: str = "chunk",
                        ttl: int = 3600):
    """Streaming ingestion into the parquet cache (pipeline/cache.py):
    each micro-batch bulk-upserts its rows as 'set' events keyed by
    doc_id, stamped with the row's OWN event ts (event-time leases, not
    arrival time — replays produce identical logs).

    Exactness story, stronger than the other sinks': the store is an
    append-only EVENT LOG and resolution is max(struct) per key, so an
    at-least-once crash retry that re-appends byte-identical event rows
    changes NOTHING a reader sees — cache resolution is idempotent
    under duplicated events (tested), and vacuum later collapses the
    physical duplicates. No dedup contract is pushed onto readers."""
    from ragstudio_spark.pipeline import cache

    def process(batch_df: DataFrame, _batch_id: int) -> None:
        cache.put_df(batch_df, store_dir, prefix,
                     cache.bulk_key_col(prefix, "doc_id"),
                     F.col("text"), ttl=ttl, now=F.col("ts"))

    return _start(_file_stream(spark, CACHE_INGEST_SCHEMA, input_dir)
                  .writeStream.foreachBatch(process), checkpoint_dir)


def windowed_chunk_counts(
    stream_df: DataFrame,
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Event-time windowed aggregation with late-data watermark: chunk
    throughput per content type per window."""
    chunks = transform_stream(stream_df)
    return (
        chunks.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), F.col("content_type"))
        .agg(
            F.count("*").alias("n_chunks"),
            F.approx_count_distinct("conv_id").alias("n_convs"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "content_type", "n_chunks", "n_convs",
        )
    )


#: streamed sketch-ingest input: grouped values to sketch
SKETCH_INGEST_SCHEMA = "source string, w string"


def hll_stream_ingest(spark: SparkSession, input_dir: str, store_dir: str,
                      checkpoint_dir: str, b_hex: int = 2):
    """Streaming HLL ingestion: each micro-batch's per-group register
    PARTIALS (sketches.hll_registers over just the batch) append to a
    register log; the read path (read_hll_registers) max-merges the log.

    Exactness story, same family as the cache sink's: register merge is
    ``max``, which is idempotent AND commutative — an at-least-once
    crash retry that re-appends a batch's partial registers changes
    NOTHING a reader sees, and any arrival order yields the batch-mode
    sketch (both tested). The log grows by ≤ groups × m rows per batch;
    a compaction pass (maintenance.swap_in over the merged table) can
    collapse it without changing reads."""
    from ragstudio_spark.operators import sketches

    def process(batch_df: DataFrame, _batch_id: int) -> None:
        regs = sketches.hll_registers(batch_df, "w", ("source",), b_hex)
        regs.write.mode("append").parquet(store_dir)

    return _start(_file_stream(spark, SKETCH_INGEST_SCHEMA, input_dir)
                  .writeStream.foreachBatch(process), checkpoint_dir)


def read_hll_registers(spark: SparkSession, store_dir: str) -> DataFrame:
    """Merged register table over a streamed register log — feed to
    sketches.hll_estimate_from_registers for estimates."""
    from ragstudio_spark.operators import sketches

    return sketches.hll_merge(spark.read.parquet(store_dir))


def cms_stream_ingest(spark: SparkSession, input_dir: str, store_dir: str,
                      checkpoint_dir: str, width: int = 1024, depth: int = 3):
    """Streaming count-min ingestion: each micro-batch's counter
    PARTIALS (sketches.cms_build over just the batch) append to a log
    TAGGED WITH THE BATCH ID; read_cms_counters dedups per batch before
    summing.

    Unlike the HLL log (max-merge — duplicates free), CMS merges by
    SUM, so an at-least-once crash retry would double-count without the
    tag: the reader collapses byte-identical (batch_id, row_idx,
    bucket) rows first (foreachBatch re-delivers the same batch_id on
    retry — Spark's documented exactly-once-by-batch-id recipe), then
    sums across batches. Batch-mode equality and duplicate-append
    invisibility are both tested."""
    from ragstudio_spark.operators import sketches

    def process(batch_df: DataFrame, batch_id: int) -> None:
        _append_tagged(sketches.cms_build(batch_df.select("w"), "w",
                                          width=width, depth=depth),
                       batch_id, store_dir)

    return _start(_file_stream(spark, SKETCH_INGEST_SCHEMA, input_dir)
                  .writeStream.foreachBatch(process), checkpoint_dir)


def read_cms_counters(spark: SparkSession, store_dir: str) -> DataFrame:
    """Merged counter table over a streamed partial log: per-batch dedup
    (retried appends are byte-identical within a batch_id) then
    cross-batch sum — feed to sketches.cms_query."""
    return _sum_tagged_log(spark.read.parquet(store_dir),
                           ["row_idx", "bucket"], "cnt")


def session_stats_stream(stream_df: DataFrame, gap_minutes: int = 30,
                         watermark: str = "1 hour") -> DataFrame:
    """Streaming gap-sessionization via the built-in ``session_window``
    — the native stateful form of operators/sessions.session_stats.

    Spark merges events into a session while each arrives within
    ``gap_minutes`` of the session's current end, the exact gap rule the
    batch operator implements with lag()+cumsum; the state store carries
    open sessions, the watermark finalizes them (append mode emits a
    session only once its close is final — exactly-once per session with
    no reader-side dedup). session_window.end is last_event + gap by
    definition, so the last-event time is recovered by subtracting the
    gap — emitted as epoch micros (the representation rule).

    Batch equality (user, start, last, n_events) is pinned in
    tests/test_streaming_sessions.py. Events carry ``user_id`` and ``ts``.
    """
    gap_us = gap_minutes * 60 * 1_000_000
    return (stream_df
            .withWatermark("ts", watermark)
            .groupBy(F.session_window(F.col("ts"), f"{gap_minutes} minutes"),
                     F.col("user_id"))
            .agg(F.count("*").alias("n_events"))
            .select("user_id",
                    F.unix_micros(F.col("session_window.start"))
                    .alias("session_start_us"),
                    (F.unix_micros(F.col("session_window.end")) - gap_us)
                    .alias("session_last_us"),
                    "n_events"))


def skew_monitor_stream(spark: SparkSession, input_dir: str, store_dir: str,
                        checkpoint_dir: str, key_col: str = "conv_id"):
    """Streaming skew observability: each micro-batch appends its
    per-key COUNTS tagged with the batch id; the reader sums across
    batches and diagnoses the CUMULATIVE distribution with the batch
    operators (skew.skew_report / heavy_keys on the merged counts).

    Per-key counts merge by SUM, so this is the CMS-log shape, not the
    HLL one: the batch-id tag makes at-least-once crash retries
    collapse before the cross-batch sum (Spark's exactly-once-by-
    batch-id recipe). The log is per-KEY-per-batch sized — the raw rows
    never land in the store.
    """
    def process(batch_df: DataFrame, batch_id: int) -> None:
        _append_tagged(batch_df.groupBy(key_col).agg(
            F.count("*").cast("bigint").alias("key_count")),
            batch_id, store_dir)

    return _start(_file_stream(spark, f"{key_col} string", input_dir)
                  .writeStream.foreachBatch(process), checkpoint_dir)


def read_key_counts(spark: SparkSession, store_dir: str,
                    key_col: str = "conv_id") -> DataFrame:
    """Cumulative per-key counts over a streamed monitor log: per-batch
    dedup (retried appends are byte-identical within a batch_id) then
    cross-batch sum. Feed to skew.heavy_keys-style diagnostics or
    explode into a weights table."""
    return _sum_tagged_log(spark.read.parquet(store_dir), [key_col],
                           "key_count")
