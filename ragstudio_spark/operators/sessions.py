"""Sessionization — gap-based session assignment over event streams.

First-class operator form of the `sessionize_events` query (SURVEY §2.8
window tier): an event belongs to a new session when it follows the
previous event of the same user by more than ``gap``. Classic two-window
shape, both windows partitioned by user (no global shuffle):

    lag(ts)   → new_session flag (one boundary per session)
    sum(flag) → cumulative session index per user

Session ids are deterministic: ``user_id#<n>`` with n from event-time
order (ties broken by event id), never from shuffle order. At scale both
windows ride one hash partition by user_id; skewed users are bounded by
their own event counts (a window, unlike collect_list, streams sorted
runs and spills).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def sessionize(df: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Attach ``session_seq`` (1-based per user) and ``session_id``
    (user#seq) to every event row.
    ``df`` carries ``user_id``, ``ts`` and ``event_id``."""
    order = [F.col("ts").asc(), F.col("event_id").asc()]
    w = Window.partitionBy("user_id").orderBy(*order)
    prev_ts = F.lag(F.col("ts")).over(w)
    new_session = F.when(
        prev_ts.isNotNull()
        & (F.col("ts").cast("timestamp")
           > prev_ts.cast("timestamp") + F.expr(f"INTERVAL {gap_minutes} MINUTE")),
        1,
    ).otherwise(0)
    cum = Window.partitionBy("user_id").orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    out = df.withColumn("_new", new_session).withColumn(
        "session_seq", (F.sum("_new").over(cum) + 1).cast("bigint")).drop("_new")
    return out.withColumn(
        "session_id",
        F.concat_ws("#", F.col("user_id"), F.col("session_seq").cast("string")))


def session_stats(df: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Per-session rollup: event count + span (first/last event time).
    ``df`` carries ``user_id``, ``ts`` and ``event_id``."""
    s = sessionize(df, gap_minutes)
    return (
        s.groupBy("user_id", "session_seq", "session_id")
        .agg(F.count("*").alias("n_events"),
             F.min("ts").alias("session_start"),
             F.max("ts").alias("session_end"))
    )


def funnel(df: DataFrame, steps: list[str]) -> DataFrame:
    """Ordered-funnel analysis: per user, the EARLIEST strictly-increasing
    completion of the step sequence (view → click → purchase …).

    Greedy-earliest is exact for existence: taking the minimal timestamp
    at each step maximizes the remaining options, so a user converts iff
    the greedy chain completes (the classic funnel semantics of the
    analytics engines). Per user the output carries ``step{i}_us`` epoch
    micros for each reached step (NULL once the chain breaks),
    ``n_steps`` reached, and ``converted``.

    Scale shape: one filtered min-aggregate per step, each joined back
    on the user key — k co-partitioned shuffles for a k-step funnel,
    never a per-user window over raw events and no cross join; the
    aggregates collapse map-side so the shuffled volume is one row per
    user per step. ``df`` carries ``user_id``, ``ts`` and ``event_type``.
    """
    if not steps:
        raise ValueError("steps must be non-empty")
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    base = df.select("user_id", F.col("event_type").alias("_t"),
                     us("ts").alias("_us"))
    out = base.select("user_id").distinct()
    prev = None
    for i, step in enumerate(steps):
        ev = base.filter(F.col("_t") == step)
        if prev is not None:
            ev = (ev.join(out.select("user_id", F.col(prev).alias("_p")),
                          "user_id")
                  .filter(F.col("_us") > F.col("_p")))
        col = f"step{i + 1}_us"
        mins = ev.groupBy("user_id").agg(F.min("_us").alias(col))
        # each out feeds TWO consumers (the next step's ev join and the
        # next out) — without a checkpoint the plan subtree doubles per
        # step (~2^k growth) and a replan rescans raw events per branch
        # (the CLAUDE.md multi-consumer rule; review-found). The
        # checkpointed frame is one row per user.
        out = out.join(mins, "user_id", "left").localCheckpoint()
        prev = col
    reached = sum(
        F.when(F.col(f"step{i + 1}_us").isNotNull(), 1).otherwise(0)
        for i in range(len(steps)))
    return (out.withColumn("n_steps", reached.cast("int"))
            .withColumn("converted",
                        F.col(f"step{len(steps)}_us").isNotNull())
            .orderBy("user_id"))


def cohort_retention(df: DataFrame, period_days: int = 7) -> DataFrame:
    """Cohort retention table: of the users first seen in period P, how
    many were active again in P+k.

    Periods are pure integer epoch arithmetic — ``epoch_us DIV
    (days·86400·10^6)`` — never calendar date_trunc (week-start and
    timezone conventions differ across engines; epoch buckets cannot).
    Output per (cohort_period, period_offset): ``n_active``,
    ``n_cohort``, ``retention_ppm`` (offset 0 is the cohort definition,
    always 1e6).

    Scale: distinct (user, period) activity + a per-user min — two
    map-side-collapsing aggregates and one join on the user key; the
    output is cohorts × offsets, tiny at any corpus size.
    ``df`` carries ``user_id`` and ``ts``.
    """
    period_us = period_days * 86_400 * 1_000_000
    base = df.select(
        F.col("user_id").alias("_u"),
        F.expr(f"unix_micros(CAST(ts AS TIMESTAMP)) DIV {period_us}")
        .cast("bigint").alias("_p"))
    activity = base.distinct()
    firsts = activity.groupBy("_u").agg(F.min("_p").alias("_cohort"))
    joined = (activity.join(firsts, "_u")
              .select("_u", "_cohort", (F.col("_p") - F.col("_cohort"))
                      .alias("_off")))
    cohort_sizes = firsts.groupBy("_cohort").agg(
        F.count("*").cast("bigint").alias("n_cohort"))
    # activity is already distinct on (_u, _p), so each (_u, _cohort,
    # _off) row is unique — a plain count equals countDistinct without
    # the two-phase distinct-aggregate expansion (review-found)
    active = (joined.groupBy("_cohort", "_off")
              .agg(F.count("*").cast("bigint").alias("n_active")))
    return (active.join(cohort_sizes, "_cohort")
            .select(F.col("_cohort").alias("cohort_period"),
                    F.col("_off").cast("bigint").alias("period_offset"),
                    "n_active", "n_cohort",
                    F.expr("(1000000 * n_active) DIV n_cohort")
                    .cast("bigint").alias("retention_ppm"))
            .orderBy("cohort_period", "period_offset"))


def transition_matrix(df: DataFrame) -> DataFrame:
    """First-order Markov transition counts between consecutive events
    of the same user: (from_type, to_type, n, row_total, p_ppm).

    One per-user lag window (total order via the tiebreak) and one
    grouped count; ``p_ppm`` = (1e6·n) DIV row_total — exact integer
    division, the float-free row-normalization. The matrix is
    |types|² rows regardless of corpus size.
    ``df`` carries ``user_id``, ``ts``, ``event_type`` and ``event_id``.
    """
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    pairs = (df.select("user_id", "ts", "event_id",
                       F.col("event_type").alias("to_type"))
             .withColumn("from_type", F.lag("to_type").over(w))
             .filter(F.col("from_type").isNotNull()))
    counts = (pairs.groupBy("from_type", "to_type")
              .agg(F.count("*").cast("bigint").alias("n")))
    totals = counts.groupBy("from_type").agg(
        F.sum("n").cast("bigint").alias("row_total"))
    return (counts.join(totals, "from_type")
            .select("from_type", "to_type", "n", "row_total",
                    F.expr("(1000000 * n) DIV row_total").cast("bigint")
                    .alias("p_ppm"))
            .orderBy("from_type", "to_type"))


def rolling_active(df: DataFrame, window_days: int = 7) -> DataFrame:
    """Daily + trailing-window active users (DAU/WAU-style), exactly.

    COUNT(DISTINCT) over a RANGE window is inexpressible in Spark; the
    scale-safe exact form is bounded expansion: each DISTINCT
    (user, day) observation votes for the ``window_days`` report days
    it keeps the user active in, then one distinct count per report
    day. Cost is W× the (user, day) table — already collapsed from raw
    events by a map-side distinct — never W× the event stream, and no
    per-day self-join chain.

    Days are pure epoch integers (epoch_us DIV 86400·10^6, the
    cohort_retention convention — calendar functions differ across
    engines). Output one row per OBSERVED-range day:
    (day, n_active_1d, n_active_wd) — the window column name is FIXED
    (``n_active_wd``) so window_days=1 cannot collide with the DAU
    column and downstream schemas are parameter-independent.
    ``df`` carries ``user_id`` and ``ts``.
    """
    if window_days <= 0:
        raise ValueError("window_days must be positive")
    day_us = 86_400 * 1_000_000
    # daily feeds THREE consumers (dau, votes, the day spine) — the
    # multi-consumer localCheckpoint rule; it is the post-shuffle
    # distinct, day-count × user-count sized (review-found)
    daily = (df.select(
        F.col("user_id").alias("_u"),
        F.expr(f"unix_micros(CAST(ts AS TIMESTAMP)) DIV {day_us}")
        .cast("bigint").alias("_d"))
        .distinct()
        .localCheckpoint())
    dau = daily.groupBy("_d").agg(
        F.count("*").cast("bigint").alias("n_active_1d"))
    votes = (daily.select(
        "_u", F.explode(F.sequence(
            F.col("_d"), F.col("_d") + (window_days - 1))).alias("_rd"))
        .distinct())
    bounds = daily.agg(F.min("_d").alias("_lo"), F.max("_d").alias("_hi"))
    wau = (votes.join(bounds, (F.col("_rd") >= F.col("_lo"))
                      & (F.col("_rd") <= F.col("_hi")))
           .groupBy("_rd")
           .agg(F.count("*").cast("bigint").alias("n_active_wd")))
    # dense day spine over the observed range: a dead stretch inside
    # [lo, hi] must surface as (day, 0, 0) rows, not vanish — the
    # zero-activity alarm is the point of the report (review-found; the
    # join-only form silently omitted gap days longer than the window)
    spine = bounds.select(
        F.explode(F.sequence(F.col("_lo"), F.col("_hi"))).alias("day"))
    return (spine
            .join(dau, spine["day"] == dau["_d"], "left")
            .join(wau, spine["day"] == wau["_rd"], "left")
            .select(spine["day"],
                    F.coalesce("n_active_1d", F.lit(0)).cast("bigint")
                    .alias("n_active_1d"),
                    F.coalesce("n_active_wd", F.lit(0))
                    .cast("bigint").alias("n_active_wd"))
            .orderBy("day"))
