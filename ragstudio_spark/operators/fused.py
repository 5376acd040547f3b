"""Fused per-turn processing: extract + normalize + chunk in ONE Python hop.

Why this exists (measured, not theoretical): chained pandas UDFs each run
their own Python worker *concurrently* per task — a pipeline with 4 Python
boundaries at local[32] schedules ~128 Python processes + 32 JVM threads on
32 cores, and throughput *drops* below local[8] (negative scaling, 0.7×).
Fusing extraction, normalization metrics, and chunking into a single
``mapInPandas`` gives one Python worker per task and one Arrow round trip,
which is also the right shape at cluster scale: the dominant cost of the
Python tier is serialization + process pressure, not the text algorithms.

The JVM-side stages (content-type sniff before; quality gate, status,
explode after) stay column expressions; the per-turn output is pinned to the
pure-Python kernel by the differential oracle tests. This hop is the only
per-turn Python path: the staged per-stage UDFs were deleted, and so was
the Arrow RecordBatch engine (``python_engine="arrow"``), measured at 1.01×
(the boundary cost is worker scheduling + IPC, not the pandas conversion
layer).

On batch-level pandas vectorization of the cheap stages (clean / quality
prescan / langid): measured and rejected. pandas ``.str`` regex ops call
the same Python ``re`` engine per element, so grouping rows per Arrow
batch buys only loop overhead (<5%). The actual bottleneck was the
combined-alternation prescan regexes themselves; replacing them with
literal substring scans in the kernel (textops.py) made the Python tier
1.77× faster with byte-identical outputs — per-row dispatch here is fine.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from ragstudio_spark.kernel import bpe
from ragstudio_spark.kernel import chunk as kchunk
from ragstudio_spark.kernel import html_extract, langid
from ragstudio_spark.kernel import profile as kprofile
from ragstudio_spark.kernel import textops

# public chunk struct (kernel/chunk.chunk_turn fields); the wire form in
# FUSED_SCHEMA appends the transport-only b_start/b_len byte span
CHUNK_STRUCT = StructType(
    [
        StructField("chunk_index", IntegerType()),
        StructField("chunk_id", StringType()),
        StructField("text", StringType()),
        StructField("char_start", IntegerType()),
        StructField("char_end", IntegerType()),
        StructField("char_length", IntegerType()),
        StructField("token_count", IntegerType()),
        StructField("sentence_count", IntegerType()),
        StructField("total_chunks", IntegerType()),
        StructField("chunking_strategy", StringType()),
        StructField("requested_strategy", StringType()),
        StructField("chunk_size", IntegerType()),
        StructField("chunk_overlap", IntegerType()),
    ]
)

_CHUNK_FIELDS = [f.name for f in CHUNK_STRUCT.fields]

FUSED_SCHEMA = (
    "conv_id string, turn_idx int, content_type string, "
    "extraction_engine string, text_head string, "
    "language string, quality_score double, needs_repair boolean, "
    "repair_applied boolean, extracted_chars int, "
    "extraction_fixes int, page_numbers_removed int, error string, "
    "chunking_reason string, base_utf8 binary, "
    "chunks array<struct<"
    "chunk_index:int,chunk_id:string,text:string,char_start:int,char_end:int,"
    "char_length:int,token_count:int,sentence_count:int,total_chunks:int,"
    "chunking_strategy:string,requested_strategy:string,chunk_size:int,"
    "chunk_overlap:int,b_start:int,b_len:int>>"
)

_ENGINES = {"html": "html_readability", "pdf": "pdf_cleaner",
            "markdown": "identity", "plain": "identity", "empty": "none"}


def _extract_one(text: str, ctype: str) -> str:
    if ctype == "html":
        return html_extract.extract_main_content(text)
    if ctype == "pdf":
        return textops.preprocess_before_chunking(text or "", "pdf")
    if ctype == "empty":
        return ""
    return text or ""


def process_turns(
    df: DataFrame,
    strategy: str = "recursive",
    max_tokens: int = 400,
    overlap: int = 50,
    do_preprocess: bool = True,
    with_normalize: bool = True,
    apply_repair: bool = False,
    carry_ts: bool = False,
    on_error: str = "quarantine",
    adaptive: bool = False,
    with_trace: bool = False,
    materialize_text: bool = True,
    bpe_merges_path: str | None = "auto",
    python_engine: str = "pandas",
) -> DataFrame:
    """df must carry conv_id, turn_idx, text, content_type (+ ts when
    carry_ts, for event-time streaming). Returns the fused per-turn result
    frame (FUSED_SCHEMA).

    ``on_error`` reproduces the reference's per-file error modes
    (interactive.py:19-59 — STOP / IGNORE / CONTINUE):
      * "fail_fast"  — re-raise (job aborts; Spark task retries apply first)
      * "skip"       — emit the row with error set, no chunks (IGNORE)
      * "quarantine" — same as skip; downstream routes it to the errors
                       table with the reason (CONTINUE + FileResult.error)

    ``materialize_text=False`` returns the raw wire form: chunk ``text`` is
    NULL wherever it equals its byte-span slice of the ``base_utf8`` column
    (kept in the output) — consumers slice it back themselves with
    ``chunk_text_expr``/``sliced_chunk_text``. The pipeline uses this to
    defer slicing to AFTER the quality gate and the explode, so the chunk
    strings are copied exactly once; the default form rebuilds the public
    chunk structs immediately (convenient, but Catalyst inlines the rebuild
    into every downstream reference of ``chunks``).

    ``python_engine`` accepts only ``"pandas"`` (the mapInPandas hop).
    """
    if on_error not in ("quarantine", "skip", "fail_fast"):
        raise ValueError(f"on_error: {on_error}")
    # python_engine survives only because perfbench/layers.py passes it;
    # drop the parameter together with that argument
    if python_engine != "pandas":
        raise ValueError(f"python_engine: {python_engine}")
    schema = FUSED_SCHEMA + (", ts timestamp" if carry_ts else "")
    if with_trace:
        # per-stage engine/duration records (reference ProcessingStep,
        # src/workflows/io/processing_logger.py:20-110) — opt-in: the
        # perf_counter calls and the extra array column stay entirely out
        # of the default hot path
        schema += (", stage_trace array<struct<"
                   "stage:string,engine:string,duration_ms:double>>")

    def process_one(conv_id, turn_idx, text, ctype):
        from time import perf_counter

        trace: list | None = [] if with_trace else None

        def mark(stage, engine, t0):
            if trace is not None:
                trace.append((stage, engine, (perf_counter() - t0) * 1000.0))

        raw = text or ""
        t0 = perf_counter() if with_trace else 0.0
        extracted = _extract_one(raw, ctype)
        mark("ingestion", _ENGINES.get(ctype, "identity"), t0)

        language = None
        quality_score = 1.0
        needs_repair = False
        repaired = False
        if with_normalize:
            t0 = perf_counter() if with_trace else 0.0
            cleaned = textops.clean_text(extracted)
            if cleaned:
                q = textops.detect_ocr_quality(cleaned)
                quality_score = float(q["quality_score"])
                needs_repair = bool(q["needs_repair"])
                if apply_repair and needs_repair:
                    cleaned, _m = textops.repair_text(cleaned)
                    repaired = True
                    extracted = cleaned
                language = langid.detect_language(cleaned)
            mark("ocr_detection", "rule_based", t0)

        reason = None
        turn_strategy, turn_max_tokens, turn_overlap = strategy, max_tokens, overlap
        if adaptive:
            # profile-driven strategy selection (same formulas as the JVM
            # column-expression operators — kernel.profile is the tested
            # ground truth for both; the lazy entry skips the profile
            # passes the short-document branch ignores)
            t0 = perf_counter() if with_trace else 0.0
            sel = kprofile.select_strategy_for_text(
                extracted, language=language)
            turn_strategy = sel["strategy"]
            turn_max_tokens = sel["max_tokens"]
            turn_overlap = sel["overlap"]
            reason = sel["reason"]
            mark("strategy_selection", "profile_tree", t0)

        t0 = perf_counter() if with_trace else 0.0
        # lru-cached: one merges load per worker process, not per row.
        # "auto" (the default) resolves to the SHIPPED trained vocabulary
        # in ragstudio_spark/data/ — resolution happens here, worker-side,
        # because under a zip deployment only the worker's own importlib
        # can see the packaged artifact (kernel/bpe.resolve_tokenizer).
        tokenizer = bpe.resolve_tokenizer(bpe_merges_path)
        chunks, stats, base = kchunk.chunk_turn(
            extracted,
            source=f"{conv_id}:{turn_idx}",
            requested_strategy=turn_strategy,
            max_tokens=turn_max_tokens,
            overlap=turn_overlap,
            do_preprocess=do_preprocess,
            adaptive=adaptive,
            with_base=True,
            tokenizer=tokenizer,
        )
        mark("chunking", turn_strategy, t0)
        # Spans-only Arrow transfer: every chunk ships text=NULL plus the
        # UTF-8 BYTE span of its TRUE location in base, and is sliced back
        # JVM-side as a binary substring (O(1) positioning + memcpy — a
        # code-point substring would re-scan the string per chunk, measured
        # slower than shipping the text). The contract char_start/char_end
        # keep the kernel's find-from-position values (which point past the
        # true start for ~1/3 of chunks — the overlap region makes the next
        # chunk begin BEFORE the previous one's end, kernel/chunk.py:96-101)
        # while b_start/b_len locate the verbatim bytes: chunk starts are
        # non-decreasing, so one forward find() + incremental encode pass
        # covers all chunks in O(len(base)). A chunk absent from base
        # (never observed — splitters emit contiguous text) falls back to
        # literal transfer.
        rows = []
        ascii_base = base.isascii()
        anchor_c = anchor_b = 0  # char→byte anchor for the encode walk
        search_from = 0
        n_base = len(base)
        startswith, find = base.startswith, base.find
        for c in chunks:
            s, e = c["char_start"], c["char_end"]
            t = c["text"]
            lt = len(t)
            # startswith(t, s, e) is slice equality without the slice copy
            if e - s == lt and e <= n_base and startswith(t, s, e):
                p = s
            else:
                p = find(t, search_from)
                if p == -1:
                    p = find(t)
            if p == -1:
                wire_text, bs, bl = t, 0, 0
            else:
                wire_text = None
                if ascii_base:
                    bs, bl = p, lt
                else:
                    if p >= anchor_c:
                        bs = anchor_b + len(base[anchor_c:p].encode("utf-8"))
                    else:  # backwards jump (find-from-0 fallback): rare
                        bs = len(base[:p].encode("utf-8"))
                    bl = len(base[p:p + lt].encode("utf-8"))
                    anchor_c, anchor_b = p, bs
                search_from = p
            rows.append((c["chunk_index"], c["chunk_id"], wire_text, s, e,
                         c["char_length"], c["token_count"],
                         c["sentence_count"], c["total_chunks"],
                         c["chunking_strategy"], c["requested_strategy"],
                         c["chunk_size"], c["chunk_overlap"], bs, bl))
        return (language, quality_score, needs_repair, repaired,
                len(extracted), stats, rows, base if chunks else None,
                reason, trace)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {k: [] for k in (
                "conv_id", "turn_idx", "content_type", "extraction_engine",
                "text_head", "language", "quality_score", "needs_repair",
                "repair_applied", "extracted_chars", "extraction_fixes",
                "page_numbers_removed", "error", "chunking_reason",
                "base_utf8", "chunks",
                *(["stage_trace"] if with_trace else []))}
            for conv_id, turn_idx, text, ctype in zip(
                pdf["conv_id"], pdf["turn_idx"], pdf["text"], pdf["content_type"]
            ):
                error = None
                try:
                    (language, quality_score, needs_repair, repaired,
                     n_extracted, stats, chunks, base, reason,
                     trace) = process_one(conv_id, turn_idx, text, ctype)
                except Exception as exc:  # noqa: BLE001 — row-level fault barrier
                    if on_error == "fail_fast":
                        raise
                    error = f"{type(exc).__name__}: {exc}"[:500]
                    language, quality_score = None, 0.0
                    needs_repair, repaired, n_extracted = False, False, 0
                    stats = {"extraction_fixes": 0, "page_numbers_removed": 0}
                    chunks, base, reason = [], None, None
                    trace = [] if with_trace else None
                out["conv_id"].append(conv_id)
                out["turn_idx"].append(turn_idx)
                out["content_type"].append(ctype)
                out["extraction_engine"].append(_ENGINES.get(ctype, "identity"))
                out["text_head"].append((text or "")[:200])
                out["language"].append(language)
                out["quality_score"].append(quality_score)
                out["needs_repair"].append(needs_repair)
                out["repair_applied"].append(repaired)
                out["extracted_chars"].append(n_extracted)
                out["extraction_fixes"].append(stats["extraction_fixes"])
                out["page_numbers_removed"].append(stats["page_numbers_removed"])
                out["error"].append(error)
                out["chunking_reason"].append(reason)
                out["base_utf8"].append(base.encode("utf-8") if base is not None else None)
                out["chunks"].append(chunks)
                if with_trace:
                    out["stage_trace"].append(trace)
            if carry_ts:
                out["ts"] = list(pdf["ts"])
            yield pd.DataFrame(out)

    out = df.mapInPandas(run, schema=schema)
    return _materialize_chunk_text(out) if materialize_text else out


def chunk_text_expr(chunk: str = "c", base: str = "base_utf8") -> str:
    """SQL expression (for use inside higher-order lambdas) recovering a
    chunk's text from the wire form: literal text when shipped, else the
    byte-span slice of ``base`` (a BINARY column — shipped as UTF-8 bytes
    precisely so no per-element string→binary cast runs inside lambdas)."""
    return (f"coalesce({chunk}.text, cast(substring({base}, "
            f"{chunk}.b_start + 1, {chunk}.b_len) as string))")


def _wire_text(c: Column, base: Column) -> Column:
    """Column form of :func:`chunk_text_expr` over a wire chunk struct."""
    return F.coalesce(
        c["text"],
        F.substring(base, c["b_start"] + F.lit(1), c["b_len"]).cast("string"),
    )


def sliced_chunk_text(chunk_col: str = "chunk",
                      base_col: str = "base_utf8") -> Column:
    """Column form of :func:`chunk_text_expr` for post-explode rows."""
    return _wire_text(F.col(chunk_col), F.col(base_col))


def public_chunk_cols(chunk_col: str = "chunk",
                      base_col: str = "base_utf8") -> list:
    """Post-explode projection of the PUBLIC chunk fields from the wire
    form (text sliced from base, transport-only b_* fields dropped). The
    single source for every consumer of the wire format — batch
    (pipeline/job.py) and streaming (streaming/jobs.py) must project
    identically or their outputs silently diverge."""
    return [
        sliced_chunk_text(chunk_col, base_col).alias("text")
        if f.name == "text" else F.col(f"{chunk_col}.{f.name}")
        for f in CHUNK_STRUCT.fields
    ]


def _materialize_chunk_text(df: DataFrame) -> DataFrame:
    """Slice NULL chunk texts back out of base_utf8 JVM-side, then drop the
    carrier column. One projection, no shuffle — the chunk strings never
    cross the Python/Arrow boundary (except the rare slice-back-inequality
    rows, which arrive literal)."""
    base_bytes = F.col("base_utf8")

    def rebuild(c):
        cols = []
        for name in _CHUNK_FIELDS:
            if name == "text":
                cols.append(_wire_text(c, base_bytes).alias("text"))
            else:
                cols.append(c[name].alias(name))
        return F.struct(*cols)

    return df.withColumn(
        "chunks", F.transform(F.col("chunks"), rebuild)
    ).drop("base_utf8")
