"""Metadata sanitization before persist/export.

Port of the reference's ``sanitize_metadata`` security gate (src/core/cli/
utils/security.py, applied at chunk.py:660 before chunk persistence): drop
secret-bearing keys and control-character values from the open metadata
map, and cap value sizes. Here metadata is a ``map<string,string>`` column;
the whole filter runs JVM-side via ``map_filter`` + ``transform_values``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

DENY_KEY_RE = r"(?i)(password|passwd|secret|token|api[_-]?key|authorization|credential|private[_-]?key)"
CONTROL_CHARS_RE = r"[\x00-\x08\x0b\x0c\x0e-\x1f]"
MAX_VALUE_LEN = 2000


def sanitize_map(col: Column) -> Column:
    """Drop denied keys, strip control chars, truncate oversized values."""
    kept = F.map_filter(col, lambda k, _v: ~k.rlike(DENY_KEY_RE))
    return F.transform_values(
        kept,
        lambda _k, v: F.substring(
            F.regexp_replace(v, F.lit(CONTROL_CHARS_RE), F.lit("")),
            1, MAX_VALUE_LEN,
        ),
    )


def with_sanitized_metadata(df: DataFrame) -> DataFrame:
    """Replace the ``metadata`` map column with its sanitized copy
    (:func:`sanitize_map`)."""
    return df.withColumn("metadata", sanitize_map(F.col("metadata")))
