"""Per-layer measurement for the traced run, all taken from outside the
package: Spark's own event log (job groups set by the benchmark), a prefix
ladder of the pipeline plan, direct kernel calls and the public
``pipeline.lineage`` functions."""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import time
import zlib
from collections import defaultdict

import numpy as np

from perfbench import inputs
from perfbench.workloads import extract_like_pipeline, timed

_PY_SENT = "data sent to Python workers"
_PY_BACK = "data returned from Python workers"
_PY_RUN = "time to run Python workers"
_PY_INIT = ("time to start Python workers", "time to initialize Python workers")


def set_group(spark, group: str | None) -> None:
    sc = spark.sparkContext
    if group is None:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    else:
        sc.setJobGroup(group, group)


# -------------------------------------------------------------- event log

class EventLog:
    """Per-job-group totals from a plain-JSON Spark event log."""

    def __init__(self, event_dir: str):
        (path,) = glob.glob(os.path.join(event_dir, "*"))
        self.stage_group: dict[int, str] = {}
        self.jobs: dict[str, int] = defaultdict(int)
        self.stages: dict[str, set] = defaultdict(set)
        self.tasks: dict[str, list[dict]] = defaultdict(list)
        # SQL accumulators are cumulative per id: keep the last value seen
        self.accum: dict[str, dict[int, tuple[str, float]]] = defaultdict(dict)
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            self.jobs[group] += 1
            for sid in e["Stage IDs"]:
                self.stage_group[sid] = group
        elif kind == "SparkListenerTaskEnd":
            group = self.stage_group.get(e["Stage ID"])
            if group is not None and e.get("Task Metrics"):
                info = e["Task Info"]
                self.tasks[group].append(
                    dict(e["Task Metrics"], _ms=info["Finish Time"] - info["Launch Time"]))
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            group = self.stage_group.get(info["Stage ID"])
            if group is None:
                return
            self.stages[group].add(info["Stage ID"])
            for a in info.get("Accumulables", ()):
                if a.get("Name") in (_PY_SENT, _PY_BACK, _PY_RUN, *_PY_INIT):
                    self.accum[group][a["ID"]] = (a["Name"], float(a["Value"]))

    def groups(self, prefix: str) -> list[str]:
        return [g for g in self.jobs if g.startswith(prefix)]

    def python(self, prefix: str) -> dict[str, float]:
        out = defaultdict(float)
        for g in self.groups(prefix):
            for name, value in self.accum[g].values():
                out[name] += value
        return out

    def spark_metrics(self, prefix: str, reps: int) -> dict[str, float]:
        """Engine totals of the matching job groups per repetition, plus
        the max ÷ median task time over all their tasks."""
        gs = self.groups(prefix)
        tasks = [t for g in gs for t in self.tasks[g]]
        ms = sorted(t["_ms"] for t in tasks) or [0]
        med = statistics.median(ms)
        totals = {
            "spark.jobs": sum(self.jobs[g] for g in gs),
            "spark.stages": sum(len(self.stages[g]) for g in gs),
            "spark.tasks": len(tasks),
            "spark.executor_run_s": sum(t["Executor Run Time"] for t in tasks) / 1e3,
            "spark.executor_cpu_s": sum(t["Executor CPU Time"] for t in tasks) / 1e9,
            "spark.gc_s": sum(t["JVM GC Time"] for t in tasks) / 1e3,
            "spark.shuffle_read_mb": sum(
                t["Shuffle Read Metrics"]["Remote Bytes Read"]
                + t["Shuffle Read Metrics"]["Local Bytes Read"] for t in tasks) / 1e6,
            "spark.shuffle_write_mb": sum(
                t["Shuffle Write Metrics"]["Shuffle Bytes Written"] for t in tasks) / 1e6,
            "spark.spill_mb": sum(
                t["Memory Bytes Spilled"] + t["Disk Bytes Spilled"] for t in tasks) / 1e6,
        }
        out = {k: v / reps for k, v in totals.items()}
        out["spark.task_skew"] = ms[-1] / med if med else 1.0
        return out


def fused_metrics(log: EventLog, workload_prefix: str) -> dict:
    """The fused Python hop from its boundary SQL metrics. The per-pass
    costs come from the ladder's fused rung (a noop ``fused.process_turns``
    pass over the transcript table, run ``LADDER_REPS`` times);
    ``fused.passes`` is the workload's bytes to Python over one such pass,
    per workload repetition (divide by the repetition count outside)."""
    one = {k: v / LADDER_REPS
           for k, v in log.python("layer/ladder.fused_s").items()}
    work = log.python(workload_prefix)
    return {
        "fused.passes": work[_PY_SENT] / one[_PY_SENT] if one.get(_PY_SENT) else 0.0,
        "fused.mb_to_python": one.get(_PY_SENT, 0.0) / 1e6,
        "fused.mb_from_python": one.get(_PY_BACK, 0.0) / 1e6,
        "fused.python_run_s": one.get(_PY_RUN, 0.0) / 1e3,
        "fused.worker_init_s": sum(one.get(k, 0.0) for k in _PY_INIT) / 1e3,
    }


# ------------------------------------------------------------ plan ladder

LADDER = ("scan_s", "sniff_s", "fused_s", "quality_gate_s", "explode_s")
LADDER_REPS = 2  # min of two: scheduling noise only ever adds time


def _ladder_plans(transcripts):
    """Prefix plans of ``run_pipeline`` with the default config, built from
    the public operators in the order ``pipeline.job`` composes them."""
    from ragstudio_spark.operators import fused, quality_gate, sniff
    from ragstudio_spark.pipeline.job import PipelineConfig, run_pipeline

    cfg = PipelineConfig()
    sniffed = sniff.with_content_type(transcripts)
    turns = fused.process_turns(
        sniffed.select("conv_id", "turn_idx", "text", "content_type"),
        strategy=cfg.strategy, max_tokens=cfg.max_tokens, overlap=cfg.overlap,
        do_preprocess=cfg.preprocess, with_normalize=cfg.with_normalize,
        apply_repair=cfg.apply_repair, on_error=cfg.on_error,
        adaptive=cfg.adaptive, with_trace=cfg.with_trace,
        materialize_text=False, bpe_merges_path=cfg.bpe_merges_path,
        python_engine=cfg.python_engine)
    gated = quality_gate.with_chunks_gate(
        turns, chunks_col="chunks", min_readable_ratio=cfg.min_readable_ratio,
        chunk_min_ratio=cfg.chunk_min_ratio,
        chunk_text=fused.chunk_text_expr("c"))
    return (transcripts, sniffed, turns, gated,
            run_pipeline(transcripts, cfg).chunks)


def ladder(spark, input_dir: str, group_prefix: str) -> tuple[dict, float]:
    """Noop-sink wall of each prefix plan, reported as the increment over
    the previous rung; also returns the full-chunks wall."""
    plans = _ladder_plans(spark.read.parquet(input_dir))
    walls = []
    for name, df in zip(LADDER, plans):
        set_group(spark, f"{group_prefix}ladder.{name}")
        walls.append(min(
            timed(lambda d=df: d.write.format("noop").mode("overwrite").save())[0]
            for _ in range(LADDER_REPS)))
    set_group(spark, None)
    inc = {name: walls[0] if i == 0 else walls[i] - walls[i - 1]
           for i, name in enumerate(LADDER)}
    return inc, walls[-1]


# ------------------------------------------------------- direct kernel calls

KERNEL_SAMPLE_TURNS = 250
KERNEL_PASSES = 3


def kernel_probe(spark, input_dir: str, seed: int) -> dict:
    """In-process kernel calls over a seeded sample of the input turns, in
    the order the fused hop makes them; per-function median of
    ``KERNEL_PASSES`` passes."""
    from ragstudio_spark.kernel import bpe, html_extract, langid, textops
    from ragstudio_spark.kernel import chunk as kchunk
    from ragstudio_spark.operators import sniff

    # content types come from the JVM sniff, as in the pipeline
    turns = sorted(sniff.with_content_type(spark.read.parquet(input_dir))
                   .select("conv_id", "turn_idx", "text", "content_type").collect())
    pick = np.random.default_rng([seed, 11]).choice(
        len(turns), size=min(KERNEL_SAMPLE_TURNS, len(turns)), replace=False)
    rows = [(turns[i][2], turns[i][3]) for i in sorted(pick)]
    tok = bpe.resolve_tokenizer("auto")

    def one_pass() -> tuple[dict, int]:
        acc = defaultdict(float)
        chunks_out = 0
        for text, ctype in rows:
            text = text or ""
            t0 = time.perf_counter()
            if ctype == "html":
                extracted = html_extract.extract_main_content(text)
                acc["kernel.html_extract_s"] += time.perf_counter() - t0
            elif ctype == "pdf":
                extracted = textops.preprocess_before_chunking(text, "pdf")
                acc["kernel.textops_preprocess_s"] += time.perf_counter() - t0
            else:
                extracted = extract_like_pipeline(text, ctype)
            t0 = time.perf_counter()
            cleaned = textops.clean_text(extracted)
            acc["kernel.textops_clean_s"] += time.perf_counter() - t0
            if cleaned:
                t0 = time.perf_counter()
                textops.detect_ocr_quality(cleaned)
                acc["kernel.textops_ocr_quality_s"] += time.perf_counter() - t0
                t0 = time.perf_counter()
                langid.detect_language(cleaned)
                acc["kernel.langid_s"] += time.perf_counter() - t0
            if not extracted:
                continue
            t0 = time.perf_counter()
            prepared, _stats = textops.preprocess(extracted)
            acc["kernel.textops_preprocess_s"] += time.perf_counter() - t0
            t0 = time.perf_counter()
            chunks, _ = kchunk.chunk_turn(prepared, source="s", do_preprocess=False,
                                          tokenizer=tok)
            acc["kernel.chunk_s"] += time.perf_counter() - t0
            chunks_out += len(chunks)
        return acc, chunks_out

    passes = [one_pass() for _ in range(KERNEL_PASSES)]
    keys = ("kernel.html_extract_s", "kernel.textops_preprocess_s",
            "kernel.textops_clean_s", "kernel.textops_ocr_quality_s",
            "kernel.langid_s", "kernel.chunk_s")
    out = {k: statistics.median(p[0][k] for p in passes) for k in keys}
    out["kernel.total_s"] = statistics.median(sum(p[0].values()) for p in passes)
    out["kernel.chunks_out"] = passes[0][1]
    return out


# ------------------------------------------------------ pipeline.lineage

RESUME_HOLDOUT = 10  # 1 in N turns is left uncommitted for the resume tail


def resume_tail_probe(ext, group_prefix: str) -> tuple[dict, bool]:
    """The resume tail of the extract job, through the public lineage
    functions: commit a run over a deterministic ~90% key subset of the
    table, time ``run_with_lineage(resume=True)`` over the whole table, and
    check that the union of committed chunks has the full run's digest (the
    resumability check). The tail's run directory is then removed and the
    committed-key scan and resume filter are timed against the prior run."""
    from ragstudio_spark.pipeline import lineage

    from perfbench.workloads import chunk_digest, chunk_rows

    spark, turns = ext.spark, ext.turns
    held_out = [zlib.crc32(f"{c}:{t}:{ext.seed}".encode()) % RESUME_HOLDOUT == 0
                for c, t in zip(turns.conv_id, turns.turn_idx)]
    prior_dir = os.path.join(ext.work, "transcripts_prior")
    inputs.write_turns(turns[[not h for h in held_out]], prior_dir, ext.cores)
    root = os.path.join(ext.work, "resume_root")
    shutil.rmtree(root, ignore_errors=True)
    set_group(spark, f"{group_prefix}lineage.prior_run")
    prior = lineage.run_with_lineage(spark, spark.read.parquet(prior_dir), root,
                                     "prior", resume=False)
    set_group(spark, f"{group_prefix}lineage.resume_tail")
    t_tail, tail = timed(lineage.run_with_lineage, spark, ext.read_input(), root,
                         "tail", resume=True)
    committed = [os.path.join(root, "runs", r) for r in lineage.committed_runs(root)]
    ok = (tail["total_turns"] == ext.units - prior["total_turns"]
          and chunk_digest(chunk_rows(committed)) == ext.reference_digest)
    shutil.rmtree(os.path.join(root, "runs", "tail"))

    set_group(spark, f"{group_prefix}lineage.committed_keys")
    t_keys, _ = timed(lambda: lineage.committed_turn_keys(spark, root).count())
    set_group(spark, f"{group_prefix}lineage.resume_filter")
    t_filter, resumed = timed(
        lambda: lineage.resume_filter(spark, ext.read_input(), root).count())
    set_group(spark, None)
    return {"lineage.resume_tail_s": t_tail,
            "lineage.committed_keys_s": t_keys,
            "lineage.resume_filter_s": t_filter,
            "lineage.turns_resumed": resumed}, ok
