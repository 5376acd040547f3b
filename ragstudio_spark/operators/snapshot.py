"""Corpus snapshot diffing: what changed between two runs of a pipeline.

The reference tracks run-over-run state through its metadata store and
run index (/root/reference/src/core/storage — mirrored by
pipeline/lineage.py + history.py); what it lacks, and what a 100-TB
training-data pipeline needs daily, is a DATA-level answer to "what did
this refresh actually change": which documents appeared, vanished, or
were edited between snapshot A and snapshot B — the input to incremental
re-chunking, re-embedding, and cache invalidation.

Scale shape: one full outer join on the key (a single co-partitioned
shuffle per side; AQE handles skew), comparing fixed-width content
digests computed in a projection — no content column ever crosses the
join, so the shuffle payload is key + 32-byte digest regardless of
document size. Per-column digests are md5'd individually and then
re-hashed, so NULL vs 'null'-string vs column-boundary ambiguities
cannot collide (the null-tagged encoding convention from the cache
tier's bulk keys).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window, functions as F

from ragstudio_spark.session import literal_table

#: diff statuses, in output order.
STATUSES = ("added", "removed", "changed", "unchanged")


def _content_digest(content_cols: Sequence[str]):
    """Fixed-width digest of the content columns: md5 of the concat of
    per-column null-tagged md5s ('n' for NULL, else md5 of the string
    cast) — unambiguous because every piece is fixed-length."""
    pieces = [
        F.expr(f"IF({c} IS NULL, 'n', md5(CAST({c} AS STRING)))")
        for c in content_cols]
    return F.md5(F.concat(*pieces))


def snapshot_diff(old: DataFrame, new: DataFrame,
                  key_cols: Sequence[str],
                  content_cols: Sequence[str]) -> DataFrame:
    """Row-level diff: (key_cols..., status) with status in
    added (key only in ``new``), removed (only in ``old``), changed
    (both, digests differ), unchanged. Keys must be unique per
    snapshot — this is a diff of keyed states, not a multiset diff."""
    if not key_cols or not content_cols:
        raise ValueError("key_cols and content_cols must be non-empty")
    ho = old.select(*key_cols, _content_digest(content_cols).alias("_ho"))
    hn = new.select(*key_cols, _content_digest(content_cols).alias("_hn"))
    # null-SAFE key equality: a NULL-keyed row present in both snapshots
    # must match itself (an equality join would emit it twice, as both
    # 'added' and 'removed' — review-found). String-qualified aliases:
    # both sides often share lineage (two filters of one table), so
    # DataFrame-indexed columns are ambiguous in the self-join.
    o, nw = ho.alias("_snap_o"), hn.alias("_snap_n")
    cond = None
    for c in key_cols:
        eq = F.col(f"_snap_o.{c}").eqNullSafe(F.col(f"_snap_n.{c}"))
        cond = eq if cond is None else cond & eq
    joined = o.join(nw, on=cond, how="full_outer")
    status = (F.when(F.col("_ho").isNull(), F.lit("added"))
              .when(F.col("_hn").isNull(), F.lit("removed"))
              .when(F.col("_ho") == F.col("_hn"), F.lit("unchanged"))
              .otherwise(F.lit("changed")))
    keys = [F.coalesce(F.col(f"_snap_o.{c}"), F.col(f"_snap_n.{c}"))
            .alias(c) for c in key_cols]
    return joined.select(*keys, status.alias("status"))


def snapshot_diff_summary(old: DataFrame, new: DataFrame,
                          key_cols: Sequence[str],
                          content_cols: Sequence[str]) -> DataFrame:
    """(status, n) counts — every status present (zero-filled), so
    dashboards and assertions see a stable 4-row shape."""
    counts = (snapshot_diff(old, new, key_cols, content_cols)
              .groupBy("status").agg(F.count("*").cast("bigint")
                                     .alias("n")))
    shape = literal_table(old.sparkSession, [(s,) for s in STATUSES],
                          "status string")
    return (shape.join(counts, on="status", how="left")
            .select("status", F.coalesce(F.col("n"), F.lit(0))
                    .cast("bigint").alias("n")))


def scd2_history(events: DataFrame, key_cols: Sequence[str], attr_col: str,
                 tiebreak_col: str | None = None) -> DataFrame:
    """Type-2 slowly-changing-dimension history from an append-only event log.

    The warehouse primitive the snapshot tier implies: given per-entity
    attribute observations over time, build validity intervals — one row
    per VALUE CHANGE with ``valid_from_us`` / ``valid_to_us`` (epoch
    micros; NULL to = still current) and ``is_current``. Consecutive
    observations of the same value collapse into one interval (Kimball's
    SCD type 2, public modeling practice).

    Mechanics: one per-key window pass — ``lag(attr)`` flags changes
    (NULL-safe: IS DISTINCT FROM), the change rows take ``lead(ts)`` of
    the NEXT change as their expiry. Timestamps are emitted as epoch
    micros per the engine-wide rule (nullable raw timestamps degrade to
    object dtype on the Arrow path; integers are representation-stable).

    Scale: the window partitions by entity key — skew equals the hottest
    entity's event count, which is the same bound any SCD2 MERGE carries;
    no global window, no collect. Ordering must be total per key: pass
    ``tiebreak_col`` when ``ts`` can tie (e.g. the event id).
    """
    order = [F.asc("ts")] + (
        [F.asc(tiebreak_col)] if tiebreak_col else [])
    w = Window.partitionBy(*key_cols).orderBy(*order)
    prev = F.lag(attr_col).over(w)
    first = F.row_number().over(w) == 1
    changed = (events
               .withColumn("_chg", first | ~F.col(attr_col).eqNullSafe(prev))
               .filter("_chg"))
    # re-window over change rows only: each change's expiry is the next
    # change's start (not the next raw event's)
    w2 = Window.partitionBy(*key_cols).orderBy(*order)
    nxt = F.lead("ts").over(w2)
    return (changed
            .select(*key_cols,
                    F.col(attr_col).alias("attr_value"),
                    F.unix_micros(F.col("ts").cast("timestamp"))
                    .alias("valid_from_us"),
                    F.unix_micros(nxt.cast("timestamp"))
                    .alias("valid_to_us"))
            .withColumn("is_current", F.col("valid_to_us").isNull())
            .orderBy(*key_cols, "valid_from_us"))


def distribution_drift(old: DataFrame, new: DataFrame,
                       bucket_col: str) -> DataFrame:
    """Per-bucket distribution drift between two corpus snapshots, plus
    the total-variation distance — the ingest-monitoring alarm ("did
    this refresh shift the language/source/length mix").

    PSI's ln(p/q) needs runtime floats; total variation
    TV = ½·Σ|p_i − q_i| is the integer-exact alternative: shares are
    ppm by integer division, the distance is exact bigint arithmetic,
    and TV's [0, 1e6] range reads like a probability. Buckets absent
    from one side count with share 0 (the full outer join keeps them —
    a vanished bucket IS drift). One row per bucket: old/new counts and
    ppm shares, |Δppm|; every row carries ``tv_ppm`` = (Σ|Δ|) DIV 2 so
    the table is self-contained.

    Scale: two per-bucket counts (map-side combining) + one tiny outer
    join on bucket values — never a row-level comparison. Shares follow
    the PMI float discipline (counts → DOUBLE before the 1e6 product,
    one floor): the bigint product 1e6·n wraps past ~9.2e12 rows per
    bucket in ANSI-off Spark while DuckDB raises (review-found). A NULL
    bucket is a real bucket: the join is null-SAFE (the snapshot_diff
    convention), so NULL-keyed mass cannot double-count as both
    vanished and appeared. The bucket-sized merged table is
    localCheckpointed — it feeds the TV aggregate AND the output, and
    dropping the checkpoint for exchange reuse measured mixed, so it
    stays.
    """
    # one implementation: the row-level form is count-then-delegate
    # (review-found: the first cut duplicated the shares/merge/TV logic,
    # leaving the float/null/checkpoint disciplines to drift apart)
    def counts_of(df):
        return df.groupBy(bucket_col).agg(
            F.count("*").cast("bigint").alias("key_count"))

    return distribution_drift_from_counts(counts_of(old), counts_of(new),
                                          bucket_col)


def join_cardinality(left: DataFrame, right: DataFrame, on: str,
                     top_n: int = 10) -> DataFrame:
    """Exact inner-join output-size prediction from per-key counts —
    the number a planner wants BEFORE shuffling 10^12 rows: |A ⋈ B| =
    Σ_k cA(k)·cB(k), with the top contributing keys (the skew culprits
    a salting/AQE decision targets).

    Output: the ``top_n`` keys by pair contribution, each row carrying
    the global ``total_pairs`` and the key's ``share_ppm``. Cost is two
    per-key counts and a key-count-sized join — the prediction never
    touches row payloads. ``share_ppm`` follows the PMI float
    discipline (pairs → DOUBLE before the 1e6 product, one floor):
    pairs is ALREADY a product of two counts, so the bigint 1e6·pairs
    wraps at a 4M×4M hot key in ANSI-off Spark while DuckDB raises
    (review-found — the exact class skew_report's DIV-floored mean
    dodges). The key-sized per_key table feeds the total aggregate AND
    the output within one plan; exchange reuse computes the two per-key
    counts once (ReusedExchange), so it is not checkpointed.
    """
    ca = left.groupBy(on).agg(F.count("*").cast("bigint").alias("c_left"))
    cb = right.groupBy(on).agg(F.count("*").cast("bigint").alias("c_right"))
    per_key = (ca.join(cb, on)
               .withColumn("pairs", (F.col("c_left") * F.col("c_right"))
                           .cast("bigint")))
    total = per_key.agg(F.sum("pairs").cast("bigint").alias("total_pairs"))
    return (per_key.crossJoin(total)
            .withColumn("share_ppm",
                        F.floor(F.lit(1_000_000.0)
                                * F.col("pairs").cast("double")
                                / F.col("total_pairs").cast("double"))
                        .cast("bigint"))
            .orderBy(F.desc("pairs"), F.asc(on))
            .limit(top_n))


def distribution_drift_from_counts(old_counts: DataFrame,
                                   new_counts: DataFrame,
                                   bucket_col: str) -> DataFrame:
    """distribution_drift over PRE-COUNTED bucket tables — the streaming
    composition point: feed it two ``read_key_counts`` outputs (baseline
    log vs live log) and the TV alarm runs over key-sized tables without
    ever re-scanning rows. This is THE implementation — the row-level
    :func:`distribution_drift` counts then delegates here, so the
    float/null/checkpoint disciplines live in one place.

    Inputs are re-aggregated per bucket defensively (review-found): a
    caller passing the raw batch-tagged monitor store (one row per key
    PER BATCH) would otherwise fan the null-safe outer join out
    many-to-many and double-count TV with no error.
    Both tables carry ``key_count``.
    """
    def expand(df, side):
        return (df.groupBy(bucket_col)
                .agg(F.sum(F.col("key_count").cast("bigint"))
                     .cast("bigint").alias(f"n_{side}")))

    def shares(df, side):
        total = df.agg(F.sum(f"n_{side}").alias("_t"))
        share = F.floor(F.lit(1_000_000.0)
                        * F.col(f"n_{side}").cast("double")
                        / F.col("_t").cast("double"))
        return (df.crossJoin(total)
                .withColumn(f"share_{side}_ppm", share.cast("bigint"))
                .drop("_t"))

    o = shares(expand(old_counts, "old"), "old").alias("_dc_o")
    n = shares(expand(new_counts, "new"), "new").alias("_dc_n")
    merged = (o.join(n, F.col(f"_dc_o.{bucket_col}")
                     .eqNullSafe(F.col(f"_dc_n.{bucket_col}")),
                     "full_outer")
              .select(F.coalesce(F.col(f"_dc_o.{bucket_col}"),
                                 F.col(f"_dc_n.{bucket_col}"))
                      .alias(bucket_col),
                      F.coalesce("n_old", F.lit(0)).cast("bigint")
                      .alias("n_old"),
                      F.coalesce("n_new", F.lit(0)).cast("bigint")
                      .alias("n_new"),
                      F.coalesce("share_old_ppm", F.lit(0)).cast("bigint")
                      .alias("share_old_ppm"),
                      F.coalesce("share_new_ppm", F.lit(0)).cast("bigint")
                      .alias("share_new_ppm"))
              .withColumn("abs_delta_ppm",
                          F.abs(F.col("share_new_ppm")
                                - F.col("share_old_ppm")).cast("bigint"))
              .localCheckpoint())
    tv = merged.agg(F.expr("sum(abs_delta_ppm) DIV 2").alias("_tv"))
    return (merged.crossJoin(tv)
            .withColumn("tv_ppm", F.col("_tv").cast("bigint")).drop("_tv")
            .select(bucket_col, "n_old", "n_new", "share_old_ppm",
                    "share_new_ppm", "abs_delta_ppm", "tv_ppm")
            .orderBy(bucket_col))
