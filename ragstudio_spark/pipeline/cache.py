"""Engine-native retrieval/result cache — the reference's Redis tier
(reference: src/core/cache/redis_cache.py:35-264) re-expressed as an
append-only parquet log with TTL semantics, no external service.

Mapping (reference → here):

    setex(key, ttl, value)          → one 'set' event row (ts, ttl)
    get(key)                        → as-of read: latest event per key,
                                      live iff ts + ttl > now
    delete(key)                     → 'del' tombstone event
    clear_prefix(prefix)            → 'clear' event (key NULL) — kills
                                      every key of the prefix written at
                                      or before the clear; a later set
                                      revives the key
    get_stats()                     → live/expired/deleted census +
                                      in-process hit/miss counters (the
                                      redis keyspace_hits analogue,
                                      redis_cache.py:191-211)
    cache_chunks / get_cached_chunks / cache_search_results /
    get_cached_search               → same keys, same default TTLs
                                      (redis_cache.py:215-280)

Key formula parity: ``make_key`` reproduces ``_make_key``
(redis_cache.py:81-97) — md5 over ``f"{args}:{sorted(kwargs.items())}"``
with an ``rs:`` namespace in place of ``atlas:``. The BULK path keys by
``bulk_key_col`` — md5 over unit-separator-joined column values — because
Python repr of a kwargs dict is not column-expressible; both formulas are
deterministic and collision-safe for their inputs.

Scale shape (the 100-TB story):

* the store is an append-only event LOG partitioned by prefix —
  writes never read, never lock, never shuffle; a put of 10^9 rows is
  one narrow append. Partition pruning serves per-prefix reads.
* resolution (latest-event-per-key + TTL) is ONE partial-aggregable
  ``max(struct(ts, op_rank, ttl, value))`` groupBy — no window, so
  map-side combine applies before the shuffle; prefix-clear marks are
  a tiny side aggregate joined broadcast.
* ``vacuum`` folds the log back to its live state through
  maintenance.swap_in — same crash contract, same single-writer rule
  (on a real deployment both are one Iceberg rewrite commit).
* time is an explicit ``now`` argument everywhere — callers stamp it
  once per batch (determinism, testability); only the thin driver-side
  convenience methods default to the wall clock.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ragstudio_spark.pipeline import maintenance
from ragstudio_spark.session import literal_table

_NS = "rs"
#: event-log columns (documentation; _append builds rows JVM-side)
_SCHEMA = ("key string, prefix string, value string, ts bigint, "
           "ttl bigint, op string")
def _op_rank() -> Column:
    """Ties at equal ts resolve del > set (a delete issued the same
    second as a set wins, matching redis where DEL after SETEX in the
    same second removes the key); encoded as an orderable rank. A
    function, not a module constant — Column construction needs a live
    session."""
    return F.when(F.col("op") == "del", F.lit(1)).otherwise(F.lit(0))


def make_key(prefix: str, *args, **kwargs) -> str:
    """Reference ``_make_key`` semantics (redis_cache.py:81-97): md5 of
    the printable argument form, namespaced ``rs:{prefix}:{hash}``."""
    key_data = f"{args}:{sorted(kwargs.items())}"
    key_hash = hashlib.md5(key_data.encode(),
                           usedforsecurity=False).hexdigest()
    return f"{_NS}:{prefix}:{key_hash}"


def _prefix_col(prefix: str | Column) -> Column:
    return F.lit(prefix) if isinstance(prefix, str) else prefix


def bulk_key_col(prefix: str | Column, *cols: Column | str) -> Column:
    """Column-expressible cache key for the bulk path: md5 over the
    unit-separator-joined (chr 31 — cannot appear in the key fields)
    NULL-TAGGED string forms of ``cols``, prefixed like make_key. Each
    field encodes as ``'n'`` when NULL else ``'v' || value`` — without
    the tag, concat_ws SKIPS NULLs, so ('x', NULL) and (NULL, 'x')
    would collide onto one key and resolution would silently serve one
    entry's value for the other's lookup (review-found). The DuckDB
    twin per field is ``CASE WHEN c IS NULL THEN 'n' ELSE 'v' ||
    CAST(c AS VARCHAR) END``, joined with chr(31) after the prefix.
    ``prefix`` may be a per-row Column (multi-prefix bulk ingest in ONE
    append)."""
    p = _prefix_col(prefix)

    def tag(c):
        c = F.col(c) if isinstance(c, str) else c
        return F.when(c.isNull(), F.lit("n")).otherwise(
            F.concat(F.lit("v"), c.cast("string")))

    parts = [p] + [tag(c) for c in cols]
    return F.concat(F.lit(f"{_NS}:"), p, F.lit(":"),
                    F.md5(F.concat_ws("\x1f", *parts)))


def _append(spark: SparkSession, path: str, rows: list[tuple]) -> None:
    """Append literal event rows, fields in _SCHEMA order."""
    (literal_table(spark, rows, _SCHEMA).write.partitionBy("prefix")
     .mode("append").parquet(path))


def _stamp(v: int | Column) -> Column:
    """ts/ttl accept a batch-constant int or a per-row Column (event-time
    stamping for replayed/backfilled histories)."""
    return (v if isinstance(v, Column) else F.lit(int(v))).cast("bigint")


def put_df(df: DataFrame, path: str, prefix: str | Column, key: Column,
           value: Column, ttl: int | Column, now: int | Column) -> None:
    """Bulk upsert: one narrow append, no reads, no shuffle. ``prefix``
    may be a per-row Column — several prefixes land in one append, each
    under its own partition directory."""
    (df.select(key.alias("key"), _prefix_col(prefix).alias("prefix"),
               value.cast("string").alias("value"),
               _stamp(now).alias("ts"), _stamp(ttl).alias("ttl"),
               F.lit("set").alias("op"))
     .write.partitionBy("prefix").mode("append").parquet(path))


def delete_df(df: DataFrame, path: str, prefix: str | Column, key: Column,
              now: int | Column) -> None:
    """Bulk tombstones — the scale form of ``delete`` (one narrow
    append, like put_df)."""
    (df.select(key.alias("key"), _prefix_col(prefix).alias("prefix"),
               F.lit(None).cast("string").alias("value"),
               _stamp(now).alias("ts"),
               F.lit(0).cast("bigint").alias("ttl"),
               F.lit("del").alias("op"))
     .write.partitionBy("prefix").mode("append").parquet(path))


def clear_prefix_mark(spark: SparkSession, path: str, prefix: str,
                      now: int) -> None:
    """Append the O(1) prefix-clear event (key NULL) — every key of the
    prefix written at or before ``now`` is dead until re-set later.
    An empty prefix would write the Hive default partition (NULL on
    read-back, unmatched forever) — rejected."""
    if not prefix:
        raise ValueError("prefix must be non-empty")
    _append(spark, path, [(None, prefix, None, int(now), 0, "clear")])


def resolve(spark: SparkSession, path: str, now: int,
            prefix: str | None = None) -> DataFrame:
    """Live (key, prefix, value, ts, ttl) as of ``now``.

    Latest event per key via ONE partial-aggregable max(struct) —
    op_rank breaks equal-ts ties toward 'del', value last keeps the
    pick total and deterministic. Prefix-clear marks are a per-prefix
    max joined back (there are as many rows as prefixes).

    AS-OF means as-of: events stamped AFTER ``now`` do not exist for
    this read (a backfilled future delete must not hide a key that is
    live at ``now``, nor is a future set visible before its lease
    starts — review-found). The explicit-schema read keeps empty
    stores (e.g. right after a vacuum folded everything away)
    readable."""
    events = spark.read.schema(_SCHEMA).parquet(path).filter(
        F.col("ts") <= F.lit(int(now)))
    if prefix is not None:
        events = events.filter(F.col("prefix") == prefix)  # pruned scan
    keyed = events.filter(F.col("op") != "clear")
    latest = (keyed
              .groupBy("key", "prefix")
              .agg(F.max(F.struct(F.col("ts"), _op_rank().alias("op_rank"),
                                  F.col("ttl"), F.col("value"))
                         ).alias("rec"))
              .select("key", "prefix",
                      F.col("rec.ts").alias("ts"),
                      F.col("rec.op_rank").alias("op_rank"),
                      F.col("rec.ttl").alias("ttl"),
                      F.col("rec.value").alias("value")))
    clears = (events.filter(F.col("op") == "clear")
              .groupBy("prefix").agg(F.max("ts").alias("clear_ts")))
    return (latest
            .join(clears, on="prefix", how="left")
            .filter((F.col("op_rank") == 0)
                    & (F.col("ts") + F.col("ttl") > F.lit(int(now)))
                    & (F.col("clear_ts").isNull()
                       | (F.col("ts") > F.col("clear_ts"))))
            .select("key", "prefix", "value", "ts", "ttl"))


def lookup_df(queries: DataFrame, path: str, prefix: str, key: Column,
              now: int) -> DataFrame:
    """Bulk get: left-join the query set against the resolved live view;
    misses carry NULL ``cached_value``. The cache side streams through
    one aggregate; broadcast/shuffle choice is left to AQE (queries are
    usually the small side)."""
    live = resolve(queries.sparkSession, path, now, prefix=prefix)
    return (queries.withColumn("_ck", key)
            .join(live.select(F.col("key").alias("_ck"),
                              F.col("value").alias("cached_value")),
                  on="_ck", how="left")
            .drop("_ck"))


def vacuum(spark: SparkSession, path: str, now: int,
           target_files: int = 8) -> dict:
    """Fold the event log's PAST to its live state (drop superseded
    versions, spent tombstones, expired and cleared rows) through the
    maintenance swap machinery — same crash contract, same
    SINGLE-WRITER rule. Live events re-land as fresh 'set' rows with
    their ORIGINAL ts (TTL clocks keep running; vacuum never extends a
    lease); events stamped after ``now`` are preserved verbatim (they
    have not happened yet)."""
    maintenance.sweep_stale_compactions(path)
    live = resolve(spark, path, now).select(
        "key", "prefix", "value", "ts", "ttl",
        F.lit("set").alias("op"))
    # events stamped AFTER `now` have not happened yet — they are not
    # "superseded history", they are the FUTURE (backfilled tombstones,
    # event-time stream rows ahead of this caller's clock) and must
    # survive the fold verbatim or a later as-of read silently loses
    # them (review-found: a vacuum at now=90 destroyed a ts=120 delete,
    # resurrecting the deleted key at now=130)
    future = (spark.read.schema(_SCHEMA).parquet(path)
              .filter(F.col("ts") > F.lit(int(now)))
              .select("key", "prefix", "value", "ts", "ttl", "op"))
    folded = live.unionByName(future).localCheckpoint()

    def write_tmp(tmp):
        (folded.repartition(target_files, "key")
         .write.partitionBy("prefix").parquet(tmp))

    # read_schema: a fully-expired/cleared log folds to ZERO rows, whose
    # partitionBy write produces no parquet files — the swap's count
    # must still succeed on the file-less replacement (review-found:
    # vacuum crashed on exactly the store it exists for)
    rows = maintenance.swap_in(spark, path, write_tmp,
                               read_schema=_SCHEMA)
    return {"rows": rows}


class ParquetCache:
    """Driver-facing API mirror of the reference RedisCache
    (redis_cache.py:35-264). Per-call set/get append/scan one event —
    the convenience tier for a retrieval front-end; pipelines use
    put_df/lookup_df. Hit/miss counters are in-process, like redis's
    server-side keyspace stats are per-server."""

    def __init__(self, spark: SparkSession, path: str,
                 default_ttl: int = 3600):
        self.spark = spark
        self.path = path
        self.default_ttl = default_ttl
        self.hits = 0
        self.misses = 0

    # -- primitive ops ---------------------------------------------------
    @staticmethod
    def _prefix_of(key: str) -> str:
        """Keys must carry the ``rs:{prefix}:{suffix}`` shape make_key
        produces, with a non-empty prefix. An empty prefix would write
        the Hive default partition, which round-trips as NULL —
        permanently unmatched by clear marks and prefix-scoped reads
        (review-found) — so malformed keys are rejected at the API
        boundary instead."""
        parts = key.split(":")
        if len(parts) < 3 or not parts[1]:
            raise ValueError(
                f"cache key must be 'rs:<prefix>:<suffix>' with a "
                f"non-empty prefix: {key!r}")
        return parts[1]

    def set(self, key: str, value, ttl: int | None = None,
            now: int | None = None) -> bool:
        _append(self.spark, self.path, [(
            key, self._prefix_of(key),
            json.dumps(value, ensure_ascii=False),
            int(now if now is not None else time.time()),
            int(ttl or self.default_ttl), "set")])
        return True

    def get(self, key: str, now: int | None = None):
        prefix = self._prefix_of(key)
        if not os.path.exists(self.path):
            self.misses += 1
            return None
        now = int(now if now is not None else time.time())
        # prefix-scoped resolve: the partition pruning the store's
        # layout exists for (a bare resolve scans every prefix)
        rows = (resolve(self.spark, self.path, now, prefix=prefix)
                .filter(F.col("key") == key).select("value").collect())
        if rows:
            self.hits += 1
            return json.loads(rows[0]["value"])
        self.misses += 1
        return None

    def delete(self, key: str, now: int | None = None) -> bool:
        _append(self.spark, self.path, [(
            key, self._prefix_of(key), None,
            int(now if now is not None else time.time()), 0, "del")])
        return True

    def clear_prefix(self, prefix: str, now: int | None = None) -> int:
        """Append one clear mark (O(1), unlike redis KEYS+DEL); returns
        the number of live keys it covered, for reference parity."""
        if not prefix:
            raise ValueError("prefix must be non-empty")
        now = int(now if now is not None else time.time())
        n = 0
        if os.path.exists(self.path):
            n = resolve(self.spark, self.path, now, prefix=prefix).count()
        clear_prefix_mark(self.spark, self.path, prefix, now)
        return n

    def get_stats(self, now: int | None = None) -> dict:
        now = int(now if now is not None else time.time())
        total = (resolve(self.spark, self.path, now).count()
                 if os.path.exists(self.path) else 0)
        denom = self.hits + self.misses
        return {"enabled": True, "total_keys": total, "hits": self.hits,
                "misses": self.misses,
                "hit_rate": self.hits / denom if denom else 0.0}

    # -- high-level methods (redis_cache.py:215-280) ---------------------
    def cache_chunks(self, text: str, strategy: str, max_tokens: int,
                     overlap: int, chunks: list, ttl: int = 3600,
                     now: int | None = None) -> bool:
        key = make_key("chunk", text=text[:100], strategy=strategy,
                       max_tokens=max_tokens, overlap=overlap)
        return self.set(key, chunks, ttl, now=now)

    def get_cached_chunks(self, text: str, strategy: str, max_tokens: int,
                          overlap: int, now: int | None = None):
        key = make_key("chunk", text=text[:100], strategy=strategy,
                       max_tokens=max_tokens, overlap=overlap)
        return self.get(key, now=now)

    def cache_search_results(self, query: str, top_k: int, results: list,
                             ttl: int = 300,
                             now: int | None = None) -> bool:
        key = make_key("search", query=query, top_k=top_k)
        return self.set(key, results, ttl, now=now)

    def get_cached_search(self, query: str, top_k: int,
                          now: int | None = None):
        key = make_key("search", query=query, top_k=top_k)
        return self.get(key, now=now)
