"""Table maintenance for append-only parquet outputs — the compaction /
dedup pass every streaming sink in this engine assumes its READERS can
rely on.

The streaming jobs (streaming/jobs.py) append with foreachBatch, which
is at-least-once under mid-batch crash retry: their docstrings tell
readers to "dedup on doc_id". This module is that tool, plus the
small-file compaction a long-running stream needs anyway (hundreds of
micro-batches → hundreds of sub-MB files → the task-granularity tax
CLAUDE.md documents at 1.4×):

    recover any interrupted previous attempt → read dir → (optional)
    deterministic key-dedup → re-layout to bounded files → write to a
    sibling tmp dir → swap + _COMMITTED marker

Crash contract, stated exactly (plain filesystems cannot replace a
directory atomically; on a real deployment this whole operation is ONE
Iceberg ``rewrite_data_files`` snapshot commit — the lineage.py
emulation note applies):

* the swap is two renames (path → ._old_, tmp → path). A crash anywhere
  leaves AT LEAST one complete copy on disk: before the first rename the
  live dir is untouched; between the renames the data lives complete in
  ``._old_`` (and ``tmp``); after the second it lives at ``path``.
* ``_recover`` (called automatically by both public entry points)
  restores ``path`` from ``._old_`` when a crash landed inside the
  window, THEN sweeps leftovers — recovery never deletes the only copy.
* SINGLE WRITER: like every compaction system, at most one maintenance
  process per table directory. Running two concurrently, or compacting
  a directory a LIVE stream is appending to, is out of contract — the
  emulation has no snapshot-conflict detection, so rows appended between
  the read and the swap would be lost silently. Stop the stream (or run
  between triggers) first; Iceberg's conflict retry is exactly what the
  real sink buys you here.

Dedup determinism: ``dropDuplicates`` keeps an ARBITRARY row per key —
fine for byte-identical retry copies, wrong the moment two versions of
a key differ. The dedup here keeps the row that sorts FIRST over the
ORDERABLE non-key columns (row_number window; map-typed columns — at
any nesting depth — cannot participate in a sort and are excluded from
the version pick; atomic, array and struct columns all participate), so
repeated compactions of the same directory state produce identical
results regardless of partitioning.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import ArrayType, AtomicType, StructType

from ragstudio_spark.operators.ranking import top_k
from ragstudio_spark.pipeline.lineage import COMMIT_MARKER
from ragstudio_spark.session import literal_table


def _siblings(path: str, kind: str) -> list[str]:
    parent = os.path.dirname(path.rstrip("/")) or "."
    base = os.path.basename(path.rstrip("/"))
    prefix = f"{base}.{kind}_"
    return sorted(
        os.path.join(parent, e) for e in os.listdir(parent)
        if e.startswith(prefix))


def _recover(path: str) -> bool:
    """Restore ``path`` from a ``._old_`` sibling if a previous attempt
    crashed between the two swap renames (path absent). Returns True if
    a restore happened. Never deletes anything while ``path`` is
    missing."""
    if os.path.exists(path):
        return False
    olds = _siblings(path, "_old")
    if not olds:
        return False
    os.rename(olds[0], path)
    return True


def sweep_stale_compactions(path: str) -> int:
    """Recover first (never delete the only copy), then remove leftover
    ``._compact_*`` / ``._old_*`` siblings of a HEALTHY table. Safe under
    the module's single-writer contract (no other maintenance process
    can be mid-write on this path). Returns the number removed."""
    _recover(path)
    if not os.path.exists(path):
        return 0        # nothing restorable and no live dir: touch nothing
    removed = 0
    for stale in _siblings(path, "_compact") + _siblings(path, "_old"):
        shutil.rmtree(stale, ignore_errors=True)
        removed += 1
    return removed


def compact_parquet_dir(
    spark: SparkSession,
    path: str,
    dedup_keys: list[str] | None = None,
    target_files: int = 8,
    partition_by: str | None = None,
) -> dict:
    """Compact (and optionally key-dedup) a parquet directory in place.
    Returns {"rows", "files_before", "files_after", "recovered"}.

    ``partition_by`` preserves a partitioned layout (e.g. the IVF-PQ
    index's cell directories): rows are spread over (partition value,
    deterministic salt) so each partition value lands in AT MOST
    ``target_files`` files — large cells split, small cells get one."""
    recovered = _recover(path)
    sweep_stale_compactions(path)
    df = spark.read.parquet(path)
    files_before = sum(
        1 for _r, _d, fs in os.walk(path) for f in fs
        if f.endswith(".parquet"))

    def sortable(dt) -> bool:
        # Spark orders atomic, array and struct types — maps (at any
        # nesting depth) cannot participate in a sort. The tables this
        # module targets differ per key exactly in array columns
        # (embedding, PQ codes), so excluding them would make the
        # version pick arbitrary again (review-found).
        if isinstance(dt, AtomicType):
            return True
        if isinstance(dt, ArrayType):
            return sortable(dt.elementType)
        if isinstance(dt, StructType):
            return all(sortable(f.dataType) for f in dt.fields)
        return False

    def orderable(cols):
        return [c for c in cols if sortable(df.schema[c].dataType)]

    if dedup_keys:
        others = orderable([c for c in df.columns if c not in dedup_keys])
        df = top_k(df, 1, [F.asc_nulls_first(c) for c in others] or [F.lit(1)],
                   by=dedup_keys)

    def write_tmp(tmp):
        _write_layout(spark, df, tmp, target_files, partition_by, orderable)

    rows = swap_in(spark, path, write_tmp)
    files_after = sum(
        1 for _r, _d, fs in os.walk(path) for f in fs
        if f.endswith(".parquet"))
    return {"rows": rows, "files_before": files_before,
            "files_after": files_after, "recovered": recovered}


def _write_layout(spark, df, tmp, target_files, partition_by, orderable):
    if partition_by:
        salt_src = orderable([c for c in df.columns if c != partition_by])
        salt = (F.pmod(F.hash(*salt_src), F.lit(target_files))
                if salt_src else F.lit(0))
        n_parts = max(target_files,
                      spark.sparkContext.defaultParallelism)
        (df.withColumn("_salt", salt)
           .repartition(n_parts, F.col(partition_by), F.col("_salt"))
           .drop("_salt")
           .write.partitionBy(partition_by).parquet(tmp))
    else:
        df.coalesce(target_files).write.parquet(tmp)


def swap_in(spark: SparkSession, path: str, write_tmp,
            read_schema=None) -> int:
    """Write a replacement table via ``write_tmp(tmp_dir)`` then swap it
    over ``path`` under the module's crash contract (see the module
    docstring: two renames, ``_recover`` restores the window). Shared by
    compaction and by other single-writer rewriters (pipeline/cache.py's
    vacuum). Returns the replacement's row count. ``read_schema`` lets a
    caller whose replacement may legitimately be EMPTY (zero rows →
    zero parquet files under partitionBy) count it without schema
    inference failing."""
    tmp = f"{path.rstrip('/')}._compact_{uuid.uuid4().hex[:8]}"
    write_tmp(tmp)
    with open(os.path.join(tmp, COMMIT_MARKER), "w") as f:
        f.write("compacted\n")
    reader = (spark.read.schema(read_schema) if read_schema
              else spark.read)
    rows = reader.parquet(tmp).count()
    old = f"{path.rstrip('/')}._old_{uuid.uuid4().hex[:8]}"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)
    return rows


def forget_kept_frame(spark: SparkSession, df: DataFrame, key_col: str,
                      forget_keys) -> DataFrame:
    """The survivor frame forget_rewrite writes: ``df`` anti-joined
    against the deletion-request keys. Factored
    out so the plan contract test asserts on the OPERATOR's join, not a
    hand-rebuilt copy."""
    if not isinstance(forget_keys, DataFrame):
        forget_keys = literal_table(
            spark, [(k,) for k in forget_keys],
            f"`{key_col}` {df.schema[key_col].dataType.simpleString()}")
    forget = forget_keys.select(key_col).distinct()
    return df.join(forget, key_col, "left_anti")


def forget_rewrite(spark: SparkSession, path: str, key_col: str,
                   forget_keys, target_files: int = 0) -> dict:
    """Right-to-be-forgotten propagation: physically rewrite a parquet
    table without the rows whose ``key_col`` appears in ``forget_keys``
    (a DataFrame with that one column, or an iterable of literals).

    Compliance deletes cannot be logical-only — a filter view leaves the
    bytes on disk — so this REWRITES under the module's crash contract
    (swap_in: tmp + _COMMITTED marker + two renames; a crash at any
    point leaves either the old or the new committed table, never a
    mix). Single-writer by contract like compaction; Iceberg's
    DELETE-with-snapshot is the real multi-writer answer (module
    docstring).

    Scale: the forget list is deletion-request sized — a broadcast
    anti-join against it is one map-side pass per file; no shuffle
    unless ``target_files`` asks for a re-layout.

    Returns accounting the audit trail wants: ``{"n_before", "n_removed",
    "n_after"}`` — counted from the data, not inferred.
    """
    _recover(path)
    sweep_stale_compactions(path)
    df = spark.read.parquet(path)
    kept = forget_kept_frame(spark, df, key_col, forget_keys)
    n_before = df.count()

    def write_tmp(tmp: str) -> None:
        out = kept.coalesce(target_files) if target_files else kept
        out.write.mode("overwrite").parquet(tmp)

    # read_schema: a forget list covering every row leaves an empty
    # replacement (zero parquet files under some layouts) — count it
    # without schema inference failing
    n_after = swap_in(spark, path, write_tmp, read_schema=df.schema)
    return {"n_before": n_before, "n_removed": n_before - n_after,
            "n_after": n_after}
