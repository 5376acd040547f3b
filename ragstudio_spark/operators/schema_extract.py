"""Mathematical-schema extraction from scientific documents.

DataFrame port of the reference's MathematicalSchemaExtractor
(/root/reference/src/workflows/analyzer/schema_extractor.py:84-292): one
schema row per detected geometric element (circles with center+radius,
triangles, lines, segments), LaTeX equation (len > 5 after strip), curve,
asymptote/tableau presence (one row per document when present, matching
the reference's if-any semantics), and ``Figure N`` reference — with the
reference's exact ids, types, descriptions and confidence constants.
Duplicate matches produce duplicate rows, as in the reference (findall
semantics, no dedup).

Delta vs the reference: its ``references`` field collects ±2-line context
windows per mention; here that's reduced to ``n_references`` — the count
of lines containing the instance (case-insensitive) — because shipping
repeated context strings per schema row is exactly the kind of row
explosion a 100 TB table can't afford; the count preserves the signal.

Everything is JVM column expressions (regexp_extract_all → transform →
one explode); the DuckDB twin in entry_queries.py pins values.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

CIRCLE_RE = r"cercle de centre ([A-Z]) et de rayon (\d+)"
TRIANGLE_RE = r"triangle ([A-Z]{3})"
LINE_RE = r"droite \(([A-Z]{2})\)"
SEGMENT_RE = r"segment \[([A-Z]{2})\]"
# the reference's pattern (schema_extractor.py:187) delimits equations
# with TWO literal backslashes each side: \\equation\\
LATEX_RE = r"\\\\([^\\]+)\\\\"
CURVE_RE = r"courbe ([A-Z])"
FIGURE_RE = r"Figure (\d+)"

def _n_refs(lines_lower: Column, instance: Column) -> Column:
    """Count of lines mentioning the instance, case-insensitive — the
    accounting form of the reference's _find_references context list
    (schema_extractor.py:279-292).

    ``lines_lower`` is the document's pre-lowered line array, split and
    lowered ONCE per row by the caller — passing raw text here would make
    every schema occurrence re-split and re-lower the whole document
    (O(S × doc_len) per row; Catalyst inlines reused expressions, the
    known trap from quality_gate.py). Lowering before splitting is
    equivalent: no character lowercases to a newline."""
    inst = F.lower(instance)
    return F.size(F.filter(lines_lower, lambda ln: F.contains(ln, inst)))


def _schema(sid: Column, stype: str, desc: Column, conf: float,
            lines_lower: Column, ref_inst: Column) -> Column:
    return F.struct(
        sid.alias("schema_id"), F.lit(stype).alias("schema_type"),
        desc.alias("description"),
        F.lit(conf).cast("double").alias("confidence"),
        _n_refs(lines_lower, ref_inst).alias("n_references"),
    )


def _per_match(text: Column, pattern: str, build) -> Column:
    """One schema struct per full regex match (``build(m)`` receives the
    matched string; groups re-extracted from it)."""
    return F.transform(
        F.regexp_extract_all(text, F.lit(pattern), F.lit(0)),
        lambda m: build(m))


def extract_math_schemas(df: DataFrame) -> DataFrame:
    """(id, schema_id, schema_type, description, confidence,
    n_references) — one row per schema occurrence, reference order within
    each family preserved by the match order of regexp_extract_all.

    The lowered line array is materialized as its own column BEFORE the
    schema expressions are built: every schema struct's n_references
    filters that array, and Catalyst's CollapseProject keeps a
    multiply-referenced non-cheap projection un-inlined — so the document
    is split+lowered exactly once per row instead of once per schema
    occurrence (S full-text walks per doc otherwise).
    ``df`` carries ``doc_id`` and ``text``."""
    df = df.withColumn("_lines_lower",
                       F.split(F.lower(F.col("text")), "\n"))
    t = F.col("text")
    L = F.col("_lines_lower")

    def g(m: Column, pat: str, idx: int) -> Column:
        return F.regexp_extract(m, pat, idx)

    circles = _per_match(t, CIRCLE_RE, lambda m: _schema(
        F.concat(F.lit("circle_"), g(m, CIRCLE_RE, 1), F.lit("_"), g(m, CIRCLE_RE, 2)),
        "geometric",
        F.concat(F.lit("Cercle de centre "), g(m, CIRCLE_RE, 1),
                 F.lit(" et de rayon "), g(m, CIRCLE_RE, 2)),
        0.9, L, F.concat(F.lit("cercle de centre "), g(m, CIRCLE_RE, 1))))
    triangles = _per_match(t, TRIANGLE_RE, lambda m: _schema(
        F.concat(F.lit("triangle_"), g(m, TRIANGLE_RE, 1)), "geometric",
        F.concat(F.lit("Triangle "), g(m, TRIANGLE_RE, 1)),
        0.8, L, m))
    lines = _per_match(t, LINE_RE, lambda m: _schema(
        F.concat(F.lit("line_"), g(m, LINE_RE, 1)), "geometric",
        F.concat(F.lit("Droite ("), g(m, LINE_RE, 1), F.lit(")")),
        0.7, L, m))
    segments = _per_match(t, SEGMENT_RE, lambda m: _schema(
        F.concat(F.lit("segment_"), g(m, SEGMENT_RE, 1)), "geometric",
        F.concat(F.lit("Segment ["), g(m, SEGMENT_RE, 1), F.lit("]")),
        0.7, L, m))
    # LaTeX equations: 1-based match index in the id; len>5 filter AFTER
    # numbering? No — the reference enumerates raw matches and filters
    # inside the loop, so skipped equations still consume an index.
    latex_raw = F.regexp_extract_all(t, F.lit(LATEX_RE), F.lit(0))
    latex = F.filter(
        F.zip_with(
            latex_raw,
            F.sequence(F.lit(1), F.greatest(F.size(latex_raw), F.lit(1))),
            lambda m, i: F.when(
                F.length(F.trim(F.regexp_extract(m, LATEX_RE, 1))) > 5,
                _schema(F.concat(F.lit("equation_"), i.cast("string")),
                        "algebraic",
                        F.concat(F.lit("Équation: "), m), 0.9, L, m)),
        ),
        lambda s: s.isNotNull())
    curves = _per_match(t, CURVE_RE, lambda m: _schema(
        F.concat(F.lit("curve_"), g(m, CURVE_RE, 1)), "graph",
        F.concat(F.lit("Courbe "), g(m, CURVE_RE, 1)),
        0.8, L, m))
    # if-any semantics (one row per doc when present): a 1-element array
    # filtered on the presence test — the filter yields a correctly-typed
    # empty array when absent
    asymptote = F.filter(
        F.array(_schema(F.lit("asymptote"), "graph", F.lit("Asymptote"),
                        0.7, L, F.lit("asymptote"))),
        lambda _s: F.contains(t, F.lit("asymptote")))
    tableau = F.filter(
        F.array(_schema(F.lit("table"), "table",
                        F.lit("Tableau de variation"), 0.6, L,
                        F.lit("tableau"))),
        lambda _s: F.contains(t, F.lit("tableau")))
    figures = _per_match(t, FIGURE_RE, lambda m: _schema(
        F.concat(F.lit("figure_"), g(m, FIGURE_RE, 1)), "figure",
        m, 0.8, L, m))

    all_schemas = F.concat(
        circles, triangles, lines, segments, latex, curves,
        asymptote, tableau, figures)
    return (
        df.select(F.col("doc_id"), F.explode(all_schemas).alias("s"))
        .select("doc_id", "s.schema_id", "s.schema_type", "s.description",
                "s.confidence", "s.n_references")
    )


def schema_type_counts(df: DataFrame) -> DataFrame:
    """Corpus rollup: (schema_type, n_schemas, n_docs) — the aggregation
    the reference leaves to its JSON summary (save_schemas,
    schema_extractor.py:294-364). ``df`` carries ``doc_id`` and ``text``."""
    schemas = extract_math_schemas(df)
    return schemas.groupBy("schema_type").agg(
        F.count("*").cast("bigint").alias("n_schemas"),
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"))
