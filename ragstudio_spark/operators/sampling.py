"""Deterministic sampling for training-data curation.

A 100 TB corpus is sampled constantly — subset experiments, per-language
quotas, heldout splits. The operators here never use RNG state: every
decision is a pure function of the row's key, so samples are reproducible
across runs, partitionings, engines (the DuckDB oracle twins compare
exact membership), and incremental re-runs (a row's fate never changes
when the corpus around it grows — the property Bernoulli `df.sample`
cannot give you).

* ``hash_sample``     — keep a row iff the first 8 md5 hex digits of its
  (salted) key, read as a fraction of 16^8, fall below ``rate``. One scan,
  no shuffle, filter pushes down around it.
* ``stratified_sample`` — per-stratum rates (e.g. lang quotas) with the
  same hash rule; unlisted strata use ``default_rate``.
* ``split``           — disjoint train/heldout assignment from the same
  hash (a row is in exactly one split, stable forever).
* ``hash_top_n``      — deterministic "uniform without replacement" n
  rows: order by the key hash, take n (TakeOrderedAndProject — no full
  sort shuffle).

The 8-hex-digit prefix gives 2^32 buckets: rate resolution ~2.3e-10,
far below any practical quota error.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from ragstudio_spark.operators.ranking import top_k
from ragstudio_spark.session import literal_table

_DENOM = float(16 ** 8)  # 8 hex digits


def _key_col(key_cols: list[str] | tuple, salt: str) -> Column:
    parts = [F.lit(salt), *[F.col(c).cast("string") for c in key_cols]]
    return F.concat_ws("|", *parts)


def hash_fraction(key_cols, salt: str = "") -> Column:
    """Uniform [0,1) fraction from the row key: first 8 md5 hex digits /
    16^8. Same formula the DuckDB twins use."""
    return F.conv(F.substring(F.md5(_key_col(key_cols, salt)), 1, 8), 16, 10) \
        .cast("double") / F.lit(_DENOM)


def hash_sample(df: DataFrame, rate: float, salt: str = "") -> DataFrame:
    """Deterministic Bernoulli-style sample: row kept iff
    hash_fraction < rate. Change ``salt`` for an independent re-draw.
    Rows are keyed by ``doc_id``."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0,1]: {rate}")
    return df.filter(hash_fraction(["doc_id"], salt) < rate)


def stratified_sample(df: DataFrame, strata_col: str, rates: dict[str, float],
                      default_rate: float = 0.0, key_cols=("doc_id",),
                      salt: str = "") -> DataFrame:
    """Per-stratum deterministic rates (language quotas, source mixes).
    ``rates`` maps stratum value → keep rate; everything else gets
    ``default_rate``."""
    for k, v in rates.items():
        if not 0.0 <= v <= 1.0:
            raise ValueError(f"rate for {k!r} must be in [0,1]: {v}")
    rate = F.lit(float(default_rate))
    for value, r in sorted(rates.items()):
        rate = F.when(F.col(strata_col) == value, F.lit(float(r))).otherwise(rate)
    return df.filter(hash_fraction(list(key_cols), salt) < rate)


def split(df: DataFrame, heldout_rate: float = 0.01,
          salt: str = "split") -> DataFrame:
    """Stable train/heldout assignment: adds ``split`` ∈ {train, heldout}.
    Disjoint and exhaustive by construction; a row's split never changes
    as the corpus grows (contamination-safe heldout).
    Rows are keyed by ``doc_id``."""
    frac = hash_fraction(["doc_id"], salt)
    return df.withColumn(
        "split",
        F.when(frac < heldout_rate, F.lit("heldout")).otherwise(F.lit("train")))


def hash_top_n(df: DataFrame, n: int, salt: str = "") -> DataFrame:
    """Exactly-n deterministic uniform subset: the n smallest key hashes.
    Compiles to a distributed partial top-n (TakeOrderedAndProject), so no
    full sort shuffle at corpus scale. Rows are keyed by ``doc_id``."""
    h = F.md5(_key_col(["doc_id"], salt))
    return (df.withColumn("_h", h)
            .orderBy(F.asc("_h"), F.asc("doc_id"))
            .limit(n).drop("_h"))


def cap_per_key(df: DataFrame, key_col: str, n: int,
                order_cols=("doc_id",), salt: str = "") -> DataFrame:
    """At most ``n`` rows per key — the per-source/per-domain quota every
    mixture-controlled curation run applies (no single domain may
    dominate the training mix). Kept rows are the n smallest salted
    hashes within the key (deterministic, reproducible across runs and
    partitionings, uncorrelated with any natural ordering of the data —
    ``order_cols`` only breaks exact hash ties). One hash-partitioned
    window on the key; skewed keys cost one tall partition, which is the
    floor for an exact per-key quota — use hash_sample for a rate-based
    cap when exactness isn't required."""
    if n <= 0:
        raise ValueError(f"n must be positive: {n}")
    h = F.md5(_key_col(list(order_cols), salt))
    return top_k(df, n, [F.asc(h), *[F.asc(c) for c in order_cols]],
                 by=[key_col])


def mixture_plan(df: DataFrame, key_col: str, weights_ppm: dict[str, int],
                 token_budget: int) -> DataFrame:
    """Epoch-accounting for a weighted training mixture (the planning
    step BEFORE mixture_sample executes it — how many passes over each
    domain a token budget buys): per domain,

        allocated  = token_budget · weight_ppm div 1_000_000
        epochs     = allocated div domain_tokens   (full passes)
        remainder  = allocated - epochs · domain_tokens  (partial-pass
                     tokens, what mixture_sample's rate draws)

    Everything is INTEGER (weights as parts-per-million — the caller's
    shares quantized once, not re-divided per row), so the plan is
    engine-portable and exactly reproducible. Domains absent from
    ``weights_ppm`` get weight 0 (planned out); weighted domains ABSENT
    FROM THE CORPUS still get a plan row (zero docs/tokens, their full
    allocation as remainder) — a missing domain must surface as a
    visible zero-supply row, never as budget silently vanishing from
    the plan (review-found). Weights summing past 1,000,000 ppm are a
    caller error and raise. One per-domain aggregate outer-joined with
    the (tiny, literal) weight table. ``df`` carries ``token_count``."""
    if token_budget <= 0:
        raise ValueError(f"token_budget must be positive: {token_budget}")
    if token_budget > 2**63 // 1_000_000:
        # budget · weight_ppm is computed in bigint; past this bound the
        # product overflows, and with spark.sql.ansi.enabled=false it
        # wraps silently to NEGATIVE allocations instead of raising
        # (review-found). 9.2e12 tokens is the bigint ceiling for a
        # ppm-quantized plan; larger budgets need a decimal(38,0) plan.
        raise ValueError(
            f"token_budget {token_budget} exceeds {2**63 // 1_000_000} "
            "(bigint overflow in the ppm product — split the plan or "
            "use a coarser quantization)")
    total_ppm = sum(int(v) for v in weights_ppm.values())
    if total_ppm > 1_000_000:
        raise ValueError(
            f"weights_ppm sum to {total_ppm} > 1,000,000 — an "
            "over-allocated plan")
    totals = df.groupBy(key_col).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.coalesce(F.col("token_count"), F.lit(0))).cast("bigint")
        .alias("n_tokens"))
    if weights_ppm:
        wtable = literal_table(
            df.sparkSession,
            sorted((k, int(v)) for k, v in weights_ppm.items()),
            f"{key_col} string, weight_ppm bigint")
        totals = (totals.join(wtable, on=key_col, how="full_outer")
                  .select(key_col,
                          F.coalesce("n_docs", F.lit(0)).cast("bigint")
                          .alias("n_docs"),
                          F.coalesce("n_tokens", F.lit(0)).cast("bigint")
                          .alias("n_tokens"),
                          F.coalesce("weight_ppm", F.lit(0)).cast("bigint")
                          .alias("weight_ppm")))
    else:
        totals = totals.withColumn("weight_ppm", F.lit(0).cast("bigint"))
    return (totals
            .withColumn(
                "allocated_tokens",
                F.expr(f"(CAST({int(token_budget)} AS BIGINT) * weight_ppm) "
                       f"div 1000000").cast("bigint"))
            .withColumn(
                "full_epochs",
                F.when(F.col("n_tokens") > 0,
                       F.expr("allocated_tokens div n_tokens"))
                .otherwise(F.lit(0)).cast("bigint"))
            .withColumn(
                "remainder_tokens",
                (F.col("allocated_tokens")
                 - F.col("full_epochs") * F.col("n_tokens"))
                .cast("bigint")))


def mixture_sample(df: DataFrame, key_col: str, shares: dict[str, float],
                   budget: int, key_cols=("doc_id",),
                   salt: str = "") -> DataFrame:
    """Deterministic domain-mixture downsampling (the Pile/Dolma-style
    mixing step): target a ``budget``-row corpus whose composition
    follows ``shares`` (key → target fraction); each key is sampled at
    ``rate = least(1, budget·share / n_key)`` by the same salted-hash
    membership as hash_sample, so the result is reproducible across
    runs, partitionings and corpus growth. Keys absent from ``shares``
    (or with share 0) are dropped; a key smaller than its target keeps
    everything (rate caps at 1 — shares are targets, not quotas).

    Sizes are expected values, not exact counts (membership is per-row
    independent); compose with cap_per_key when exactness matters.

    Shape: one tiny per-key count aggregate joined back onto the
    corpus, then a codegen'd filter — no windows, no collect. The rate
    arithmetic is written to be bit-identical in the DuckDB oracle twin
    (same literals, same operation order)."""
    if not shares:
        raise ValueError("shares must be non-empty")
    if budget <= 0:
        raise ValueError(f"budget must be positive: {budget}")
    counts = df.groupBy(key_col).agg(
        F.count("*").cast("double").alias("_n"))
    share = F.lit(0.0)
    for k, s in sorted(shares.items()):
        share = F.when(F.col(key_col) == k, F.lit(float(s))).otherwise(share)
    rate = F.least(F.lit(1.0),
                   (F.lit(float(budget)) * share) / F.col("_n"))
    return (df.join(counts, on=key_col)
            .filter(hash_fraction(list(key_cols), salt) < rate)
            .drop("_n"))


def select_to_budget(df: DataFrame, token_budget: int, order_col: str,
                     token_col: str) -> DataFrame:
    """Budgeted greedy curation: walk each ``source`` group's rows in
    ``order_col`` DESC (quality first; ties on ``doc_id`` asc), keeping
    rows while the RUNNING token total stays within ``token_budget`` — the
    "take best until the budget is spent" selection every
    mixture-targeted training run performs after scoring.

    Semantics: prefix-cap — the walk STOPS at the first row that would
    overflow (rows after it are dropped even if they would individually
    fit). That keeps the rule a pure window cumsum, deterministic and
    partition-independent; skip-and-continue knapsack filling would need
    a sequential per-group fold over the whole group (not scale-safe on
    corpus-sized groups) for a marginal utilization gain.

    Output: the kept rows plus ``cum_tokens``. Scale shape: ONE window
    cumsum per ``source`` — a bounded-cardinality key, NOT a single
    global group (which would funnel the corpus through one partition)."""
    if token_budget <= 0:
        raise ValueError("token_budget must be positive")
    w = (Window.partitionBy("source")
         .orderBy(F.desc(order_col), F.asc("doc_id"))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (df
            .withColumn("cum_tokens",
                        F.sum(F.col(token_col).cast("bigint")).over(w))
            .filter(F.col("cum_tokens") <= int(token_budget)))


def curriculum_order(df: DataFrame, difficulty_col: str,
                     key_cols=("doc_id",), n_buckets: int = 10,
                     salt: str = "curriculum") -> DataFrame:
    """Deterministic interleaved curriculum schedule over difficulty buckets.

    Curriculum-style training wants each shard of the training stream to
    see the full difficulty spectrum rather than all-easy-then-all-hard
    (the sorted order a naive ORDER BY difficulty produces). This builds
    the classic round-robin interleave: rank rows within their difficulty
    bucket, then emit bucket 0's first row, bucket 1's first row, …,
    cycling — ``schedule_pos = within_rank * n_buckets + bucket``.

    Buckets are ntile(n) over (difficulty, key-hash) — the hash tiebreak
    makes the bucketing total and reproducible when difficulties tie
    (integer difficulties tie constantly). Within-bucket order is the
    key hash, so each bucket's stream is itself an unbiased shuffle.

    Scale: two windows, both GLOBAL — this is the one operator whose
    output is a total order, the same boundary hybrid-search's exact
    ranking carries. Bound the input first (sample/cap operators above)
    or apply per-shard: partition the corpus, schedule each shard, and
    interleave shards round-robin downstream.
    """
    frac = hash_fraction(list(key_cols), salt)
    base = df.withColumn("_tie", frac)
    keys = [F.asc(c) for c in key_cols]  # total order even on hash collision
    wb = Window.orderBy(F.asc(difficulty_col), F.asc("_tie"), *keys)
    bucketed = base.withColumn(
        "bucket", (F.ntile(n_buckets).over(wb) - 1).cast("int"))
    ww = Window.partitionBy("bucket").orderBy(F.asc("_tie"), *keys)
    return (bucketed
            .withColumn("_r", F.row_number().over(ww) - 1)
            .withColumn("schedule_pos",
                        (F.col("_r") * n_buckets + F.col("bucket"))
                        .cast("bigint"))
            .drop("_tie", "_r")
            .orderBy("schedule_pos"))


def systematic_weighted_sample(df: DataFrame, n: int, weight_col: str,
                               salt: str = "sws") -> DataFrame:
    """Exact-integer systematic (SUS) weighted sampling without replacement.

    Stochastic universal sampling over INTEGER weights: lay the rows on a
    wheel of circumference ``total = Σw`` in a deterministic hash order,
    drop ``n`` equally spaced pointers, keep each row once per pointer
    landing in its arc. A row with weight w is selected with probability
    min(1, n·w/total) — the classic SUS guarantee — and everything here
    is exact bigint arithmetic: row r with cumulative range
    [cum_before, cum_before + w) is hit iff
    ``floor((cum_before + w - 1)·n / total) > floor((cum_before - 1)·n / total)``
    (pointer k sits at ceil(k·total/n) positions — equivalently arc
    [a, b) catches a pointer iff the multiple count changes across it).
    No floats anywhere, so the DuckDB twin matches hash-exactly and the
    selection is independent of partitioning.

    Pointer k (k = 0..n-1) sits at integer wheel position
    floor(k·total/n); row r with arc [cum−w, cum) is hit
    ``ceil(cum·n/total) − ceil((cum−w)·n/total)`` times (exact bigint
    ceil-division — no floats, so the DuckDB twin matches hash-exactly
    and selection is partitioning-independent). Σ hits = n always; a row
    heavier than total/n absorbs several pointers and is emitted once
    with its multiplicity in ``sws_hits`` — Σ(sws_hits) = n, distinct
    rows ≤ n with equality iff no weight exceeds total/n.

    Scale: the cumulative sum is one global window over (hash, key) —
    same total-order boundary as curriculum_order, same mitigation
    (pre-bound the input, or run per-stratum where the window partitions
    by stratum). Weights must be POSITIVE integers (cast fractional
    weights up by a fixed scale first) with (n+1)·Σw ≤ 2^63 — both
    enforced with in-plan asserts (ANSI-off bigint overflow wraps
    silently, the mixture_plan lesson). The bound covers the WORST
    intermediate, not just n·Σw: the ceil-division numerator
    cum·n + total − 1 reaches total·(n+1) − 1 on the last row
    (review-found — a total at exactly 2^63/n would pass an n·Σw
    guard and still wrap the numerator). Rows are keyed by ``doc_id``.
    """
    if n <= 0:
        raise ValueError("n must be positive")
    frac = hash_fraction(["doc_id"], salt)
    base = (df.withColumn("_tie", frac)
            .withColumn("_w", F.col(weight_col).cast("bigint")))
    order = Window.orderBy(F.asc("_tie"), F.asc("doc_id"))
    cum = F.sum("_w").over(order.rowsBetween(Window.unboundedPreceding, 0))
    total = F.sum("_w").over(
        Window.partitionBy().rowsBetween(Window.unboundedPreceding,
                                         Window.unboundedFollowing))
    max_total = (2 ** 63 - 1) // (n + 1)
    scored = (base
              .withColumn("_cum", cum)
              .withColumn("_total", total)
              .withColumn("_guard", F.assert_true(
                  (F.col("_w") > 0) & (F.col("_total") <= F.lit(max_total)),
                  F.lit("systematic_weighted_sample: weights must be "
                        f"positive with (n+1)*total <= 2^63 (n={n})")))
              .withColumn(
                  "_hi", F.expr(f"(_cum * {n} + _total - 1) DIV _total"))
              .withColumn(
                  "_lo", F.expr(f"((_cum - _w) * {n} + _total - 1) DIV _total"))
              .withColumn("sws_hits", F.when(F.col("_guard").isNull(),
                                             F.col("_hi") - F.col("_lo"))
                          .cast("bigint")))
    return (scored.filter(F.col("sws_hits") > 0)
            .drop("_tie", "_w", "_cum", "_total", "_guard", "_hi", "_lo"))
