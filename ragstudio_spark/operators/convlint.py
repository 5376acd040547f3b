"""Conversation integrity + context-budget operators — the transcript-
table hygiene a training-data pipeline runs BEFORE mining (SFT/DPO
extraction assumes well-formed conversations; these operators make that
assumption checkable and enforceable at corpus scale).

* ``lint_conversations`` — one integrity row per conversation: turn-index
  contiguity, duplicate indices, NULL text/role accounting, and
  role-transition validity against the standard chat state machine.
* ``truncate_history`` — per-conversation context-window enforcement:
  keep the LAST turns whose cumulative token estimate fits a budget
  (newest-first, the standard truncated-history trainer shape).

Rule set, stated exactly (ours — the reference has no transcript linter;
the state machine is the de-facto chat-ML convention):

    roles        = {system, user, assistant, tool}
    valid START  = system or user
    valid transitions:
        system    → user
        user      → assistant
        assistant → user | tool
        tool      → assistant | tool
    a NULL/unknown role invalidates its two adjacent transitions.

Scale shape: everything is ONE per-conversation window (lag over turn
order) plus a per-conversation partial aggregate — the same partitioning
the pipeline already buckets by, so on a conv_id-bucketed table this is
shuffle-free. No Python, no collect.

Window order is (turn_idx, role, text) — duplicate indices are a
first-class input (n_dup_idx reports them), and an idx-only order would
break ties by physical row order, flipping transition counts and the
kept flag across partitionings (review-found; the engine's
determinism-across-parallelism discipline forbids it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ragstudio_spark.operators.curation import CHARS_PER_TOKEN

ROLES = ("system", "user", "assistant", "tool")

#: allowed (prev_role, role) adjacencies — shared data with the oracle twin
VALID_TRANSITIONS = (
    ("system", "user"),
    ("user", "assistant"),
    ("assistant", "user"),
    ("assistant", "tool"),
    ("tool", "assistant"),
    ("tool", "tool"),
)

def lint_conversations(df: DataFrame) -> DataFrame:
    """Per-conversation integrity report: (conv_id, n_turns, n_dup_idx,
    index_gaps, n_null_text, n_bad_role, n_bad_transitions,
    starts_valid, lint_ok).

    ``index_gaps`` = (max_idx − min_idx + 1) − distinct indices (0 for a
    contiguous conversation regardless of its starting index);
    ``n_dup_idx`` counts rows beyond the first per index. ``lint_ok``
    is the conjunction every miner wants: contiguous, no dups, no NULL
    text, known roles, valid start, zero invalid transitions.
    ``df`` carries ``conv_id``, ``turn_idx``, ``role`` and ``text``."""
    w = Window.partitionBy("conv_id").orderBy(
        F.asc("turn_idx"), F.asc_nulls_first("role"),
        F.asc_nulls_first("text"))
    valid_pairs = F.array(*[
        F.lit(f"{a}>{b}") for a, b in VALID_TRANSITIONS])
    role_known = F.col("role").isin(*ROLES)
    prev_role = F.lag("role").over(w)
    # a transition exists for every row but the first; it is bad when
    # either side is NULL/unknown or the pair is not in the allowed set.
    # First-row detection is by row_number, NOT prev_role.isNull() — a
    # NULL-role PREDECESSOR also lags NULL and must count as bad
    transition_bad = F.when(
        F.row_number().over(w) == 1, F.lit(0)
    ).otherwise(
        F.when(
            role_known & prev_role.isin(*ROLES)
            & F.array_contains(
                valid_pairs, F.concat(prev_role, F.lit(">"),
                                      F.col("role"))),
            F.lit(0),
        ).otherwise(F.lit(1)))
    turns = df.select(
        F.col("conv_id"), F.col("turn_idx"),
        F.col("text").isNull().cast("int").alias("_null_text"),
        # when/otherwise, NOT (~isin).cast: a NULL role makes ~isin NULL
        # and the sum would silently skip it (the ml_trainer NULL-label
        # lesson applied to counting)
        F.when(role_known, F.lit(0)).otherwise(F.lit(1)).alias("_bad_role"),
        transition_bad.alias("_bad_trans"),
        # NULL-role first turn → 0 (invalid start), never NULL-poisoned
        F.when(F.row_number().over(w) == 1,
               F.coalesce(
                   F.col("role").isin("system", "user").cast("int"),
                   F.lit(0)))
        .otherwise(None).alias("_starts_valid"),
    )
    return (turns.groupBy("conv_id").agg(
        F.count("*").cast("bigint").alias("n_turns"),
        (F.count("*") - F.countDistinct("turn_idx")).cast("bigint")
        .alias("n_dup_idx"),
        (F.max("turn_idx") - F.min("turn_idx") + 1
         - F.countDistinct("turn_idx")).cast("bigint").alias("index_gaps"),
        F.sum("_null_text").cast("bigint").alias("n_null_text"),
        F.sum("_bad_role").cast("bigint").alias("n_bad_role"),
        F.sum("_bad_trans").cast("bigint").alias("n_bad_transitions"),
        (F.max(F.col("_starts_valid")) == 1).alias("starts_valid"),
    ).withColumn(
        "lint_ok",
        (F.col("n_dup_idx") == 0) & (F.col("index_gaps") == 0)
        & (F.col("n_null_text") == 0) & (F.col("n_bad_role") == 0)
        & (F.col("n_bad_transitions") == 0) & F.col("starts_valid")))


def truncate_history(df: DataFrame, budget_tokens: int = 2048) -> DataFrame:
    """Context-window enforcement: per conversation, keep the suffix of
    turns whose cumulative token estimate (newest-first, len/4) fits
    ``budget_tokens``; the newest turn always survives even if it alone
    exceeds the budget (a trainer truncates within the turn, it does not
    drop the example). Returns the input rows plus ``turn_tokens``,
    ``suffix_tokens`` (this turn + everything newer) and ``kept``.

    Shape: one descending per-conversation running sum — the same single
    window family as the linter; rows are annotated, not dropped, so the
    caller can audit what a budget costs before filtering on ``kept``.
    ``df`` carries ``conv_id``, ``turn_idx`` and ``text``."""
    if budget_tokens <= 0:
        raise ValueError(f"budget_tokens must be positive: {budget_tokens}")
    # integral `div`, never a double division + cast (the packing
    # operator's documented portability rule)
    toks = F.expr(
        f"coalesce(length(text), 0) div {CHARS_PER_TOKEN}"
    ).cast("bigint")
    order = (F.desc("turn_idx"), F.desc_nulls_last("text"))
    w_desc = (Window.partitionBy("conv_id").orderBy(*order)
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    out = (df.withColumn("turn_tokens", toks)
           .withColumn("suffix_tokens",
                       F.sum("turn_tokens").over(w_desc).cast("bigint")))
    newest = Window.partitionBy("conv_id").orderBy(*order)
    return out.withColumn(
        "kept",
        (F.col("suffix_tokens") <= budget_tokens)
        | (F.row_number().over(newest) == 1))


def conversation_stats(df: DataFrame) -> DataFrame:
    """Per-conversation turn-taking metrics: ``(conv_id, n_turns, n_user,
    n_assistant, n_tool, n_system, n_words, n_role_switches, longest_run,
    first_role, last_role, avg_words)``. ``df`` carries ``conv_id``,
    ``turn_idx``, ``role`` and ``text``.

    The dialogue-shape profile a transcript curation pass filters on
    (degenerate single-speaker logs, tool-spam loops, monologue scrapes).
    A *run* is a maximal streak of consecutive same-role turns under the
    order (turn_idx, role) — NULL roles compare null-safely, so a
    NULL-role streak is itself a run. ``n_role_switches`` = runs - 1;
    ``longest_run`` is the longest streak; ``first_role``/``last_role``
    come from the first/last run. ``avg_words`` is one exact-integer
    division (oracle-exactness rule); ``n_words`` counts whitespace
    tokens with NULL text as zero.

    Scale shape: ONE per-conversation lag window (the same conv-bucketed
    partitioning lint/truncate ride) feeding a TWO-LEVEL aggregate —
    per-(conv, run) partial rows, then a per-conv rollup — so run
    statistics come from map-side-combinable aggregates, never a second
    pass over the turn list. Duplicate turn indices are ordered by
    (turn_idx, role) and run-boundary ties broken by role, keeping the
    output identical across partitionings (the lint window-order lesson).
    """
    wq = (Window.partitionBy("conv_id")
          .orderBy(F.asc("turn_idx"), F.asc_nulls_first("role")))
    words = F.size(F.filter(F.split(F.coalesce(F.col("text"), F.lit("")),
                                    r"\s+"),
                            lambda t: t != ""))
    turns = df.select(
        "conv_id", "turn_idx", "role", words.alias("n_words_turn"))
    prev = F.lag("role").over(wq)
    turns = turns.withColumn(
        "changed",
        F.when(F.row_number().over(wq) == 1, F.lit(1))
        .otherwise((~F.col("role").eqNullSafe(prev)).cast("long")))
    turns = turns.withColumn("run_id", F.sum("changed").over(wq))
    per_run = (
        turns.groupBy("conv_id", "run_id")
        .agg(F.count("*").alias("run_len"),
             F.sum("n_words_turn").alias("run_words"),
             # every turn in a run shares one role by construction
             F.min("role").alias("run_role"),
             F.min("turn_idx").alias("run_min_idx"),
             F.max("turn_idx").alias("run_max_idx"))
    )
    role_n = {r: F.sum(F.when(F.col("run_role") == r,
                              F.col("run_len")).otherwise(0))
              for r in ("user", "assistant", "tool", "system")}
    return (
        per_run.groupBy("conv_id")
        .agg(F.sum("run_len").alias("n_turns"),
             role_n["user"].alias("n_user"),
             role_n["assistant"].alias("n_assistant"),
             role_n["tool"].alias("n_tool"),
             role_n["system"].alias("n_system"),
             F.sum("run_words").alias("n_words"),
             (F.count("*") - 1).alias("n_role_switches"),
             F.max("run_len").alias("longest_run"),
             F.min_by("run_role",
                      F.struct("run_min_idx", "run_role")).alias("first_role"),
             F.max_by("run_role",
                      F.struct("run_max_idx", "run_role")).alias("last_role"))
        .withColumn("avg_words",
                    F.col("n_words").cast("double") / F.col("n_turns"))
    )


def topic_segments(df: DataFrame, threshold_pct: int = 50) -> DataFrame:
    """TextTiling-style topic segmentation over a transcript (Hearst 1997,
    public technique, adjacent-block instantiation with block size 1):
    a segment boundary opens before turn *i* when the lexical cohesion
    with turn *i-1* — Jaccard similarity of the turns' distinct word
    sets — falls below ``threshold_pct`` percent. Returns one row per
    conversation: ``(conv_id, n_turns, n_segments, boundaries,
    avg_segment_len)`` where ``boundaries`` lists the turn indices that
    OPEN a new segment (the first turn excluded).

    Exactness: the cut is the pure-integer comparison
    ``100·|A∩B| < threshold_pct·|A∪B|`` — no float Jaccard crosses an
    engine boundary. Empty-vs-empty word sets cohere (0 < 0 is false);
    empty-vs-nonempty cuts. NULL text counts as empty.

    Scale shape: ONE per-conversation lag window over bound distinct
    word-set arrays (the conv-bucketed partitioning again), then a
    per-conversation aggregate. Word sets are per-turn-bounded; nothing
    grows with corpus size.
    ``df`` carries ``conv_id``, ``turn_idx`` and ``text``.
    """
    wset = F.array_distinct(F.filter(
        F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))), r"\s+"),
        lambda t: t != ""))
    turns = df.select("conv_id", "turn_idx", wset.alias("wset"))
    w = Window.partitionBy("conv_id").orderBy(F.asc("turn_idx"))
    prev = F.lag("wset").over(w)
    inter = F.size(F.array_intersect(prev, F.col("wset")))
    union = F.size(prev) + F.size("wset") - inter
    shift = F.when(prev.isNull(), F.lit(False)).otherwise(
        F.lit(100) * inter < F.lit(threshold_pct) * union)
    marked = turns.withColumn("is_shift", shift)
    return (
        marked.groupBy("conv_id")
        .agg(F.count("*").alias("n_turns"),
             (F.sum(F.col("is_shift").cast("long")) + 1).alias("n_segments"),
             F.array_sort(F.collect_list(
                 F.when(F.col("is_shift"), F.col("turn_idx"))))
             .alias("boundaries"))
        .withColumn("avg_segment_len",
                    F.col("n_turns").cast("double") / F.col("n_segments"))
    )
