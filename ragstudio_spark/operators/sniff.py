"""Content-type sniffing — pure column expressions (JVM-side, codegen'd).

Replaces the reference's filename-extension MIME sniff + extension router
(src/workflows/ingest/loader.py:50-52, langchain_loader.py:120-150) with a
payload sniff, since transcript turns carry text not files. Priority order:
HTML markers > markdown structure > PDF-extraction artifacts > plain.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_HTML_RE = r"(?is)<html|<body|<head|<article|<div[\s>]|<p[\s>]"
_MD_RE = r"(?m)^#{1,6}\s+\S|^\|[^\n]*\|[^\n]*\|"
# PDF-extraction artifact signals: page markers, hyphenated line breaks,
# table-rule-only lines, runs of 1-2 char lines (vertical text)
_PDF_RE = (
    r"(?m)-\s*Page \d+\s*-"
    r"|\w-\n\w"
    r"|^[ \t]*[\|\-_=+][ \t\|\-_=+]*$"
    r"|^\S{1,2}\n\S{1,2}\n\S{1,2}$"
)


def content_type(text: Column) -> Column:
    """'html' | 'markdown' | 'pdf' | 'plain' | 'empty'.

    Each regex is gated by a contains() prescan that is a strict superset
    of it (every HTML marker contains '<'; both markdown alternatives need
    '#' or '|'; every PDF-artifact alternative needs '-', '|', '=', '_',
    '+' or a newline), so plain prose skips the costly alternations with
    provably identical decisions — the JVM twin of the kernel's
    literal-prescan technique (When/And short-circuit in codegen)."""
    html_like = text.contains("<")
    md_like = text.contains("#") | text.contains("|")
    pdf_like = (text.contains("-") | text.contains("|") | text.contains("=")
                | text.contains("_") | text.contains("+") | text.contains("\n"))
    return (
        F.when(text.isNull() | (F.trim(text) == ""), F.lit("empty"))
        .when(html_like & text.rlike(_HTML_RE), F.lit("html"))
        .when(md_like & text.rlike(_MD_RE), F.lit("markdown"))
        .when(pdf_like & text.rlike(_PDF_RE), F.lit("pdf"))
        .otherwise(F.lit("plain"))
    )


def with_content_type(df):
    """Attach ``content_type``, sniffed from ``text``."""
    return df.withColumn("content_type", content_type(F.col("text")))
