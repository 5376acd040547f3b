"""Normalization / language-ID / OCR-quality metrics operator.

Implements ``normalize_document`` (reference: src/workflows/ingest/
normalize.py:58-120) as a pandas UDF returning a typed struct instead of a
mutated object: ``kernel.textops.normalize`` (NFKC clean → OCR-issue
detection → optional rule-based repair → language detection, the same call
the fused hop makes) → allow-list verdict. The *filter* itself is a
separate JVM-side ``filter()`` on the struct field so Catalyst can push it.

By default the extract+chunk hot path only uses the metrics (the reference's
batch/chunk flows never call normalize_document — it is the ingest-utility
tier), matching per-turn text equality; ``apply=True`` reproduces the full
text-rewriting semantics for the ingest-style pipeline.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType, DoubleType, IntegerType, StringType, StructField, StructType,
)

from ragstudio_spark.kernel import textops

NORMALIZE_SCHEMA = StructType(
    [
        StructField("normalized_text", StringType()),
        StructField("language", StringType()),
        StructField("quality_score", DoubleType()),
        StructField("needs_repair", BooleanType()),
        StructField("repair_applied", BooleanType()),
        StructField("corrections_applied", IntegerType()),
    ]
)


def make_normalize_udf(apply_repair: bool = False):
    @F.pandas_udf(NORMALIZE_SCHEMA)
    def _normalize_udf(text: pd.Series) -> pd.DataFrame:
        rows = [textops.normalize(t, apply_repair) for t in text]
        return pd.DataFrame(rows, columns=[f.name for f in NORMALIZE_SCHEMA.fields])

    return _normalize_udf


def with_normalization(
    df,
    text_col: str = "extracted_text",
    out_col: str = "norm",
    apply_repair: bool = False,
):
    """Attach the normalization struct column."""
    return df.withColumn(out_col, make_normalize_udf(apply_repair)(F.col(text_col)))


def filter_languages(df, allowed: tuple[str, ...] = ("fr", "en"),
                     norm_col: str = "norm"):
    """Language allow-list filter (normalize.py:107-115) — JVM-side."""
    lang = F.lower(F.col(f"{norm_col}.language"))
    return df.filter(lang.isin([a.lower() for a in allowed]))
