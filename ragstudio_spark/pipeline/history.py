"""Run-history API + retry/backoff policy.

Table-native port of the reference's run-history manager and retry engine:

* ``list_runs`` / ``run_summary``        — history.py:124-193, 379-418
* ``last_failed_run``                    — history.py:288-309 (most recent
  run with failures, reverse scan)
* ``retry_turn_keys``                    — history.py:311-328 (turns whose
  LAST status is failed/skipped — status in a later run supersedes earlier)
* ``backoff_delays`` / ``retry_call``    — retry.py:26-177: max_attempts=3,
  base 1s doubling, cap 30s, optional deterministic jitter; FatalError
  short-circuits. Presets: retry.py:222-246.

Spark-side note: *task-level* transient faults are already retried by
``spark.task.maxFailures``; this module covers the *job/run* tier — rerun
only what a previous run left failed, with the reference's pacing.
"""

from __future__ import annotations

import hashlib
import time
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, functions as F

from ragstudio_spark.operators.metrics import RETRYABLE_STATUSES
from ragstudio_spark.operators.ranking import top_k
from ragstudio_spark.pipeline import lineage as _lineage


class FatalError(Exception):
    """Non-retryable failure (short-circuits retry_call)."""


@dataclass
class RetryConfig:
    max_attempts: int = 3
    base_delay_s: float = 1.0
    max_delay_s: float = 30.0
    jitter: bool = False


PRESETS = {
    "standard": RetryConfig(),
    "aggressive": RetryConfig(max_attempts=5, base_delay_s=0.5, max_delay_s=10.0),
    "patient": RetryConfig(max_attempts=3, base_delay_s=5.0, max_delay_s=60.0),
}


def backoff_delays(cfg: RetryConfig, attempts: int | None = None, seed: str = "") -> list[float]:
    """Exponential delays 1s,2s,4s… capped; jitter (when on) is
    deterministic in ``seed`` so retries stay reproducible."""
    n = (attempts if attempts is not None else cfg.max_attempts) - 1
    delays = []
    for i in range(max(n, 0)):
        d = min(cfg.base_delay_s * (2 ** i), cfg.max_delay_s)
        if cfg.jitter:
            h = int(hashlib.md5(f"{seed}:{i}".encode()).hexdigest()[:8], 16)
            d *= 0.5 + (h / 0xFFFFFFFF)  # ×[0.5, 1.5)
        delays.append(d)
    return delays


def retry_call(fn, cfg: RetryConfig | None = None, seed: str = "", sleep=time.sleep):
    """Call ``fn`` with backoff; FatalError propagates immediately."""
    cfg = cfg or RetryConfig()
    delays = backoff_delays(cfg, seed=seed)
    last_exc: Exception | None = None
    for attempt in range(cfg.max_attempts):
        try:
            return fn()
        except FatalError:
            raise
        except Exception as exc:  # noqa: BLE001
            last_exc = exc
            if attempt < len(delays):
                sleep(delays[attempt])
    raise last_exc  # type: ignore[misc]


# --- run history over committed lineage -----------------------------------

def list_runs(root: str) -> list[dict]:
    """Committed run summaries, oldest first."""
    return _lineage.run_summaries(root)


def last_failed_run(root: str) -> dict | None:
    """Most recent run that recorded failures (reverse scan)."""
    for run in reversed(list_runs(root)):
        if run.get("failed", 0) > 0:
            return run
    return None


def retry_turn_keys(spark: SparkSession, root: str) -> DataFrame | None:
    """(conv_id, turn_idx) whose *latest* status is retryable
    (``metrics.RETRYABLE_STATUSES``). A turn's newest metrics row wins
    (runs are ordered by run directory name)."""
    frames = [
        spark.read.parquet(path).select("conv_id", "turn_idx", "status")
        .withColumn("run_order", F.lit(order))
        for order, path in _lineage._committed_paths(root, "metrics")
    ]
    if not frames:
        return None
    latest = top_k(reduce(DataFrame.unionByName, frames), 1,
                   [F.desc("run_order")], by=["conv_id", "turn_idx"], rank="rn")
    return latest.filter(F.col("status").isin(RETRYABLE_STATUSES)).select(
        "conv_id", "turn_idx"
    )


def retry_subset(spark: SparkSession, transcripts: DataFrame,
                 root: str) -> DataFrame | None:
    """Semi-join the input to the retryable key set."""
    keys = retry_turn_keys(spark, root)
    if keys is None:
        return None
    return transcripts.join(keys, on=["conv_id", "turn_idx"], how="left_semi")


def retry_failed(spark: SparkSession, transcripts: DataFrame, root: str,
                 run_id: str, config=None) -> dict:
    """``ragctl retry`` analogue: reprocess only turns whose latest status
    is retryable (semi-join), appending a new committed run."""
    subset = retry_subset(spark, transcripts, root)
    if subset is None:
        return _lineage.run_with_lineage(spark, transcripts, root, run_id, config)
    return _lineage.run_with_lineage(
        spark, subset, root, run_id, config, resume=False
    )
