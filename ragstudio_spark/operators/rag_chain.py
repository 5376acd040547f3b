"""Deterministic RAG answer assembly — the reference chain minus the LLM
call (reference: src/core/rag/chain.py:28-36 prompt template,
chain.py:90-228 query/format_answer; the RetrievalQA 'stuff' chain joins
source texts with a blank line).

What is ported, exactly:

* ``assemble_context`` — the stuff-chain context build over retrieval
  output: top-k chunk texts in rank order, joined by ``"\\n\\n"``, under
  a token budget (len div 4, the engine-wide estimate) with the
  truncate_history keep-rule transposed: cumulative-prefix ≤ budget, and
  the TOP-RANKED source always survives (a budget never empties the
  context). Because token estimates are non-negative the cumulative
  condition is automatically contiguous — no stop flag needed.
* ``rag_prompt`` — DEFAULT_RAG_PROMPT substitution (chain.py:28-36).
* ``citations`` — the format_answer source block rows (chain.py:207-216):
  ``[i] {filename} (page {page})`` + 200-char newline-flattened preview.
* ``format_answer_col`` — the full RÉPONSE / SOURCES / STATISTIQUES
  layout (chain.py:183-228) as one column expression; the answer text
  and timing fields are INPUT columns (the LLM call and the wall clock
  stay outside the engine — callers stamp them).

Scale shape: everything is per-query — ONE groupBy(query) with
collect_list over its (small, k-bounded) hit list, then pure codegen'd
array/fold expressions. No window over the corpus, no Python hop. The
hits DataFrame is retrieval output (k rows per query), so the aggregate
state is bounded by k, not by corpus size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

#: reference DEFAULT_RAG_PROMPT, chain.py:28-36 (verbatim — config text)
DEFAULT_RAG_PROMPT = (
    "Utilise les informations suivantes pour répondre à la question.\n"
    "Si tu ne connais pas la réponse, dis simplement que tu ne sais pas, "
    "n'essaie pas d'inventer une réponse.\n\n"
    "Contexte:\n{context}\n\nQuestion: {question}\n\nRéponse détaillée:")

#: LangChain StuffDocumentsChain's document separator
CONTEXT_SEPARATOR = "\n\n"

CHARS_PER_TOKEN = 4


def assemble_context(hits: DataFrame, k: int = 4,
                     token_budget: int = 2048) -> DataFrame:
    """Per query: (query_id, context, n_sources, context_tokens).

    ``n_sources`` counts the chunks that made it into the context;
    ``context_tokens`` is their len-div-4 total. Ranks beyond ``k`` are
    dropped before the budget applies (the retriever's k and the
    context budget are independent knobs, mirroring the reference where
    k lives on the retriever and the window lives with the LLM).
    ``hits`` carries ``query_id``, ``rank`` and ``text``."""
    if token_budget <= 0:
        raise ValueError(f"token_budget must be positive: {token_budget}")
    hitlist = (hits.filter(F.col("rank") <= k)
               .groupBy("query_id")
               .agg(F.array_sort(F.collect_list(F.struct(
                   F.col("rank").cast("bigint").alias("rank"),
                   F.coalesce(F.col("text"), F.lit("")).alias("text")))
               ).alias("hl")))
    # one fold, accumulate-once (CLAUDE.md: never re-reference the array
    # in ratio-style expressions): acc = (cum prefix tokens — always
    # advances; kept count; kept tokens; context string)
    fold = F.expr(f"""
        aggregate(
          hl,
          struct(CAST(0 AS BIGINT) AS cum, CAST(0 AS BIGINT) AS n,
                 CAST(0 AS BIGINT) AS toks, CAST('' AS STRING) AS ctx),
          (acc, c) -> struct(
            acc.cum + length(c.text) div {CHARS_PER_TOKEN} AS cum,
            IF(acc.n = 0 OR acc.cum + length(c.text) div {CHARS_PER_TOKEN}
                 <= {int(token_budget)},
               acc.n + 1, acc.n) AS n,
            IF(acc.n = 0 OR acc.cum + length(c.text) div {CHARS_PER_TOKEN}
                 <= {int(token_budget)},
               acc.toks + length(c.text) div {CHARS_PER_TOKEN},
               acc.toks) AS toks,
            IF(acc.n = 0,
               c.text,
               IF(acc.cum + length(c.text) div {CHARS_PER_TOKEN}
                    <= {int(token_budget)},
                  concat(acc.ctx, '{CONTEXT_SEPARATOR}', c.text),
                  acc.ctx)) AS ctx),
          acc -> acc)
    """)
    # bind the fold result once (the _bound_words rule): selecting the
    # three fields from an ALIASED struct column keeps Catalyst from
    # inlining the aggregate() three times
    return (hitlist.withColumn("_f", fold)
            .select("query_id", F.col("_f.ctx").alias("context"),
                    F.col("_f.n").alias("n_sources"),
                    F.col("_f.toks").alias("context_tokens")))


def rag_prompt(context: Column, question: Column,
               template: str = DEFAULT_RAG_PROMPT) -> Column:
    """Template substitution (chain.py:73-76): '{context}'/'{question}'
    replaced by the columns; any other brace text passes through."""
    head, _, rest = template.partition("{context}")
    mid, _, tail = rest.partition("{question}")
    return F.concat(F.lit(head), context, F.lit(mid), question,
                    F.lit(tail))


def citations(hits: DataFrame, k: int = 4) -> DataFrame:
    """format_answer's source rows (chain.py:207-216): per hit,
    ``line`` = "[i] {filename} (page {page})" and ``preview`` = first
    200 chars with newlines flattened to spaces, suffixed "...". The
    reference prints 'Unknown' / 'N/A' for missing metadata — NULLs
    coalesce the same way.
    ``hits`` carries ``query_id``, ``rank``, ``text``, ``source_name`` and
    ``page``."""
    page = F.coalesce(F.col("page").cast("string"), F.lit("N/A"))
    return (hits.filter(F.col("rank") <= k)
            .select("query_id", "rank",
                    F.concat(F.lit("["), F.col("rank").cast("string"),
                             F.lit("] "),
                             F.coalesce(F.col("source_name"),
                                        F.lit("Unknown")),
                             F.lit(" (page "), page, F.lit(")"))
                    .alias("line"),
                    F.concat(
                        F.substring(
                            F.regexp_replace(
                                F.coalesce(F.col("text"), F.lit("")),
                                "\n", " "),
                            1, 200),
                        F.lit("...")).alias("preview")))


_BAR = "=" * 80


def format_answer_col(result: Column, sources: Column,
                      retrieval_time: Column, generation_time: Column,
                      total_time: Column, num_sources: Column) -> Column:
    """The chain.py:183-228 display block as one expression, built the
    way the reference builds it: one '\\n'.join over the section lines.
    ``sources`` is an array<struct<line,preview>> (citations' columns,
    collected in rank order); each source contributes the two reference
    lines ``"\\n[i] file (page p)"`` (leading newline INSIDE the
    element, chain.py:213) and the indented preview. The SOURCES
    section is omitted when the array is empty, exactly like the
    reference's ``if result.get('source_documents')`` — concat_ws skips
    the NULL, which drops the element AND its separator, matching a
    missing list element. Times arrive as columns (the engine never
    reads the wall clock) and render via their string cast."""
    per_source = F.aggregate(
        sources, F.lit(""),
        lambda acc, s: F.concat(
            acc, F.when(acc == "", F.lit("")).otherwise(F.lit("\n")),
            F.lit("\n"), s["line"], F.lit("\n    "), s["preview"]))
    src_section = F.when(
        F.size(sources) > 0,
        F.concat_ws("\n", F.lit(_BAR), F.lit("SOURCES"), F.lit(_BAR),
                    per_source)
    ).otherwise(F.lit(None).cast("string"))
    return F.concat_ws(
        "\n",
        F.lit(_BAR), F.lit("RÉPONSE"), F.lit(_BAR), result, F.lit(""),
        src_section,
        F.lit(""), F.lit(_BAR), F.lit("STATISTIQUES"), F.lit(_BAR),
        F.concat(F.lit("Retrieval time: "),
                 retrieval_time.cast("string"), F.lit("s")),
        F.concat(F.lit("Generation time: "),
                 generation_time.cast("string"), F.lit("s")),
        F.concat(F.lit("Total time: "), total_time.cast("string"),
                 F.lit("s")),
        F.concat(F.lit("Sources used: "), num_sources.cast("string")))
