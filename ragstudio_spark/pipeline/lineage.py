"""Lineage, extraction-metrics, and checkpointed resume.

Reproduces the reference's run-history + retry semantics (src/core/pipeline/
history.py:22-106,311-328; retry.py:27-140) with table-native primitives:

* every run writes chunks / metrics / quarantine under ``<root>/runs/<run_id>/``
  and a per-partition **lineage** table (run_id, partition_id, turn counts by
  status, ts) — the FileResult/PipelineRun analogue. ``partition_id`` is
  the partition of the run's gated turns, which is one fused-hop task: the
  input's partitions, or the resume anti-join's when that join shuffles
  (a broadcast anti-join keeps the input's);
* a run directory only counts as committed when its ``_COMMITTED`` marker
  exists (written after all tables land) — the parquet emulation of an
  atomic Iceberg snapshot commit. On a real deployment these writes are
  Iceberg ``append`` snapshots and the marker is the snapshot itself;
* **resume** = LEFT ANTI JOIN of the input against the union of committed
  runs' turn keys, whatever their status — a restarted job processes only
  uncommitted ``(conv_id, turn_idx)``, and the final chunks table equals a
  single-run output (verified in tests). Re-running failed or skipped turns
  is ``history.retry_failed``'s job, not resume's.

The anti-join is the only join the resume path adds. The committed-keys
side is **unbounded** at the 100 TB design point (a crash at 60% of a 10¹²-
turn run leaves ~10¹¹ committed keys), so it carries no broadcast hint:
Spark's planner broadcasts it from the metrics files' size while it fits
the broadcast threshold and runs a shuffle anti-join past that, and AQE
re-decides from measured sizes at runtime. Mirrors the reference's
retry-set semantics (src/core/pipeline/history.py:311-328).

The fused hop runs once per run: ``run_with_lineage`` persists the gated
turns with ``StorageLevel.DISK_ONLY`` and builds all three tables from that
frame, so the first write computes them and the others read disk blocks.
The cost is one wire-form copy of the run's turns (chunk spans and the
UTF-8 text they slice; the hop sends 3.05 MB per 1,200 synthetic turns)
on executor local disk until the run commits or fails, when it is
unpersisted. Unlike a local checkpoint it keeps lineage, so a lost
executor recomputes its blocks instead of failing the job.

A committed run id is never re-run: its directory is the snapshot that
later resumes read, so ``run_with_lineage`` refuses it and a re-submitted
job needs a new run id. An uncommitted (crashed) run directory is
overwritten.
"""

from __future__ import annotations

import json
import os
import time

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from ragstudio_spark.operators import metrics as metrics_op
from ragstudio_spark.pipeline.job import (
    PipelineConfig, PipelineOutput, _gated_turns, _outputs,
)

COMMIT_MARKER = "_COMMITTED"


def run_summaries(root: str) -> list[dict]:
    """run.json summaries of committed runs, oldest first (pure file reads)."""
    out = []
    for run_id in committed_runs(root):
        path = os.path.join(_run_dir(root, run_id), "run.json")
        if os.path.exists(path):
            with open(path) as f:
                out.append(json.load(f))
    return out


def resume_filter(spark: SparkSession, transcripts: DataFrame,
                  root: str) -> DataFrame:
    """Anti-join the input against committed turn keys (the resume step)."""
    done = committed_turn_keys(spark, root)
    if done is None:
        return transcripts
    return transcripts.join(done, on=["conv_id", "turn_idx"], how="left_anti")


def _run_dir(root: str, run_id: str) -> str:
    return os.path.join(root, "runs", run_id)


def committed_runs(root: str) -> list[str]:
    runs_root = os.path.join(root, "runs")
    if not os.path.isdir(runs_root):
        return []
    return sorted(
        r for r in os.listdir(runs_root)
        if os.path.exists(os.path.join(runs_root, r, COMMIT_MARKER))
    )


def read_table(spark: SparkSession, root: str, table: str) -> DataFrame | None:
    """Union of a table across all committed runs."""
    paths = [path for _, path in _committed_paths(root, table)]
    if not paths:
        return None
    return spark.read.parquet(*paths)


def _committed_paths(root: str, table: str) -> list[tuple[int, str]]:
    """(run order, path) of ``table`` in every committed run that wrote
    it, oldest first; the order counts all committed runs."""
    paths = (os.path.join(_run_dir(root, r), table) for r in committed_runs(root))
    return [(order, path) for order, path in enumerate(paths)
            if os.path.isdir(path)]


def committed_turn_keys(spark: SparkSession, root: str) -> DataFrame | None:
    """(conv_id, turn_idx) of every turn with a committed metrics row,
    whatever its status: resume skips success, empty, failed_quality,
    failed_error and skipped turns alike. Re-running the failed and skipped
    ones is ``history.retry_failed``'s job (``metrics.TURN_STATUSES`` marks
    them retryable); it re-runs failed_quality too, as the reference's
    retry re-runs every FAILED file and an unreadable document is FAILED
    there (SURVEY.md §3 and §2 row 57)."""
    metrics = read_table(spark, root, "metrics")
    if metrics is None:
        return None
    return metrics.select("conv_id", "turn_idx").distinct()


def run_with_lineage(
    spark: SparkSession,
    transcripts: DataFrame,
    root: str,
    run_id: str,
    config: PipelineConfig | None = None,
    resume: bool = True,
) -> dict:
    """Execute the pipeline with lineage + resume; returns run summary.
    Raises ``ValueError`` when ``run_id`` is already committed under
    ``root``, before anything is read or written."""
    run_dir = _run_dir(root, run_id)
    if os.path.exists(os.path.join(run_dir, COMMIT_MARKER)):
        raise ValueError(f"run id {run_id!r} is already committed under "
                         f"{root}; resume with a new run id")
    t0 = time.time()
    cfg = config or PipelineConfig()
    df = transcripts
    if resume:
        df = resume_filter(spark, df, root)

    # the gated turns (the hop's wire form) are kept on executor disk: the
    # first job over them fills the blocks and every later one reads them,
    # so the fused hop and the resume anti-join run once per run
    turns = _gated_turns(df, cfg).persist(StorageLevel.DISK_ONLY)
    try:
        out: PipelineOutput = _outputs(df, turns, cfg)

        # stamp partition id before the write: the lineage rows describe
        # the persisted turns' partitions, which are the hop's tasks
        metrics_with_pid = out.metrics.withColumn(
            "partition_id", F.spark_partition_id())
        metrics_with_pid.write.mode("overwrite").parquet(
            os.path.join(run_dir, "metrics"))
        # stable (conv_id, turn_idx, chunk_index) layout inside each file: a
        # local sort (no shuffle) — predictable reader order + better parquet
        # RLE/dictionary compression on the key columns
        out.chunks.sortWithinPartitions("conv_id", "turn_idx", "chunk_index").write.mode(
            "overwrite").parquet(os.path.join(run_dir, "chunks"))
        out.quarantine.write.mode("overwrite").parquet(
            os.path.join(run_dir, "quarantine"))
        if out.tool_calls is not None:
            out.tool_calls.write.mode("overwrite").parquet(
                os.path.join(run_dir, "tool_calls"))

        # the run totals ride on the lineage write as an Observation
        # instead of a second job over the lineage table
        counters = ("total_turns", *metrics_op.STATUS_COUNTERS)
        run_totals = Observation("run_totals")
        lineage = (
            spark.read.parquet(os.path.join(run_dir, "metrics"))
            .groupBy("partition_id")
            .agg(F.count("*").alias("total_turns"), *metrics_op.status_counts())
            .withColumn("run_id", F.lit(run_id))
            .withColumn("ts", F.current_timestamp())
            .observe(run_totals, *(F.sum(c).alias(c) for c in counters))
        )
        lineage.write.mode("overwrite").parquet(os.path.join(run_dir, "lineage"))

        totals = run_totals.get
        summary = {
            "run_id": run_id,
            **{c: totals[c] or 0 for c in counters},
            "duration_s": round(time.time() - t0, 3),
            "status": "completed",
        }
        with open(os.path.join(run_dir, "run.json"), "w") as f:
            json.dump(summary, f)
        # atomic-commit marker: written only after every table landed
        with open(os.path.join(run_dir, COMMIT_MARKER), "w") as f:
            f.write(run_id)
    finally:
        turns.unpersist()
    return summary


def read_chunks(spark: SparkSession, root: str) -> DataFrame | None:
    """The logical chunks table = union of committed snapshots."""
    return read_table(spark, root, "chunks")
