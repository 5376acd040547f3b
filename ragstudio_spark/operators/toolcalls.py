"""Tool-call payload mining from the transcript ``tool`` column.

The input contract (SURVEY.md §1.4 / BASELINE.json input_hint) carries a
``tool: string`` column holding a JSON body on tool-role turns (reference
transcripts record the tool invocation next to the turn; an extraction
pipeline for training data mines these into their own table). This stage
is deliberately OUTSIDE the fused text hop: payload parsing is pure JVM
column work (``from_json``), needs no Python, no join, and no shuffle —
it reads the same scan and writes an independent ``tool_calls`` table.

At 100 TB this matters: the tool column would otherwise ride through the
Arrow boundary of the fused UDF for nothing. Filter + from_json stays
inside WholeStageCodegen and prunes to the 1/3 of rows that carry a
payload at scan time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# Typed hot fields of the payload; unknown keys stay available through the
# raw body (SURVEY §1.1: open metadata dict → typed struct + overflow).
TOOL_PAYLOAD_SCHEMA = "tool string, status string, call_id bigint"


def parse_tool_calls(df: DataFrame,
                     id_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
                     keep_raw: bool = False) -> DataFrame:
    """One row per turn carrying a tool payload: typed fields parsed
    JVM-side. Malformed JSON yields NULL fields (from_json PERMISSIVE),
    never a task failure. ``df`` carries the ``tool`` payload and
    ``id_cols``."""
    parsed = F.from_json(F.col("tool"), TOOL_PAYLOAD_SCHEMA)
    extra = [F.col("tool").alias("tool_json")] if keep_raw else []
    return (
        df.filter(F.col("tool").isNotNull())
        .select(*id_cols, parsed.alias("_p"), *extra)
        .select(
            *id_cols,
            F.col("_p.tool").alias("tool_name"),
            F.col("_p.status").alias("tool_status"),
            F.col("_p.call_id").alias("call_id"),
            *(["tool_json"] if keep_raw else []),
        )
    )


def tool_call_stats(calls: DataFrame) -> DataFrame:
    """Per-(tool, status) call counters — the run-report rollup."""
    return (
        calls.groupBy("tool_name", "tool_status")
        .agg(F.count("*").alias("n_calls"),
             F.countDistinct("call_id").alias("n_distinct_ids"))
    )
