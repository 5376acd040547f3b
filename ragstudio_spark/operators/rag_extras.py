"""Retrieval-tier extras: query expansion + re-ranking.

Ports the reference's RAG retrieval helpers to the DataFrame engine:

* Query expansion — /root/reference/src/core/rag/query_expansion.py:31-298.
  Strategies: MULTI_QUERY / LLM_GENERATED / HYBRID need an LLM — without
  one the expander switches to SYNONYMS at init time (the reference's
  __init__ fallback, query_expansion.py:119-127; the in-strategy
  ``[query]`` branch is unreachable from a default construction).
  SYNONYMS uses the reference's literal synonym table with case-preserving
  first-occurrence replacement; HYBRID combines + dedups. ``expand`` keeps
  the reference's truncate → strategy → prepend-original → case-insensitive
  order-preserving dedup pipeline.
* Expanded retrieval — query_expansion.py:299-375 QueryExpansionRetriever:
  search per expanded query, merge in expansion order, dedup by content,
  cap at final_k. Here the per-query search is the engine's BM25 scorer
  (operators/retrieval.py), so the whole merge is a few unions over
  top-k DataFrames — tiny and driver-safe (k_per_query rows each).
* Re-ranking — /root/reference/src/core/rag/reranker.py:77-252. The
  cross-encoder model itself is binary inference and NOT bundled (the
  container has no sentence_transformers; the reference raises
  ImportError in that case — mirrored here). The rerank semantics (score
  jointly, sort desc, min_score filter, top_k, attach rerank_score) are
  real and take any scorer: a Spark Column expression or a pandas scoring
  function, so a real cross-encoder drops in as a pandas UDF.

Expansion itself is a driver-side string operation (queries are single
strings, not data), so it is plain Python by design; all document-side
work stays in DataFrames.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame, Window, functions as F

from ragstudio_spark.operators.ranking import top_k

# reference query_expansion.py:210-219 — verbatim semantics, small table;
# "in production use WordNet or a custom thesaurus" per the reference
SYNONYMS: dict[str, list[str]] = {
    "what is": ["define", "explain", "describe"],
    "how to": ["method to", "way to", "process of"],
    "machine learning": ["ML", "artificial intelligence", "AI"],
    "artificial intelligence": ["AI", "machine learning", "ML"],
    "data science": ["analytics", "data analysis", "statistical analysis"],
    "grammaire": ["règles grammaticales", "syntaxe", "structure grammaticale"],
    "français": ["langue française", "francophone"],
}

STRATEGIES = ("multi_query", "synonyms", "llm_generated", "hybrid")


@dataclass
class QueryExpansionConfig:
    """Mirrors reference QueryExpansionConfig (query_expansion.py:48-64)."""

    strategy: str = "multi_query"
    num_queries: int = 3
    include_original: bool = True
    max_query_length: int = 500

    def __post_init__(self):
        if self.strategy not in STRATEGIES:
            raise ValueError(f"strategy must be one of {STRATEGIES}")


class QueryExpander:
    """Reference QueryExpander (query_expansion.py:67-298). ``llm`` is an
    optional callable ``prompt -> text``; without it, an LLM-dependent
    strategy (multi_query / llm_generated / hybrid) is switched to
    ``synonyms`` at construction time — mirroring the reference's
    init-time fallback (query_expansion.py:119-127), so default-config
    expansion still produces synonym variants."""

    def __init__(self, config: QueryExpansionConfig | None = None,
                 llm: Callable[[str], str] | None = None):
        self.config = config or QueryExpansionConfig()
        self.llm = llm
        if llm is None and self.config.strategy in (
                "multi_query", "llm_generated", "hybrid"):
            from dataclasses import replace

            # reference mutates config.strategy in place; replace() keeps
            # the same observable behavior without aliasing the caller's
            # config object
            self.config = replace(self.config, strategy="synonyms")

    def expand(self, query: str) -> list[str]:
        if not query or not query.strip():
            return [query]
        query = query[: self.config.max_query_length]
        fn = {
            "multi_query": self._expand_multi_query,
            "synonyms": self._expand_synonyms,
            "llm_generated": self._expand_multi_query,  # same mechanics
            "hybrid": self._expand_hybrid,
        }[self.config.strategy]
        expanded = fn(query)
        if self.config.include_original and query not in expanded:
            expanded = [query] + expanded
        seen: set[str] = set()
        out: list[str] = []
        for q in expanded:
            q_clean = q.strip()
            if q_clean and q_clean.lower() not in seen:
                seen.add(q_clean.lower())
                out.append(q_clean)
        return out

    def _expand_multi_query(self, query: str) -> list[str]:
        if self.llm is None:
            return [query]
        try:
            text = self.llm(query)
            queries = [line.strip().lstrip("123456789.-*) ")
                       for line in text.strip().split("\n") if line.strip()]
            return queries[: self.config.num_queries]
        except Exception:  # noqa: BLE001 — reference catches + falls back
            return [query]

    def _expand_synonyms(self, query: str) -> list[str]:
        expanded = [query]
        query_lower = query.lower()
        for term, synonyms in SYNONYMS.items():
            if term in query_lower:
                for synonym in synonyms[: self.config.num_queries - 1]:
                    pattern = re.compile(re.escape(term), re.IGNORECASE)
                    new_query = pattern.sub(synonym, query, count=1)
                    if new_query != query:
                        expanded.append(new_query)
        return expanded[: self.config.num_queries]

    def _expand_hybrid(self, query: str) -> list[str]:
        combined = self._expand_multi_query(query) + self._expand_synonyms(query)
        seen: set[str] = set()
        out = []
        for q in combined:
            if q.lower() not in seen:
                seen.add(q.lower())
                out.append(q)
        return out[: self.config.num_queries]


def _query_terms(query: str) -> list[str]:
    return [w for w in re.findall(r"\w+", query.lower()) if len(w) > 1]


def expansion_search(docs: DataFrame, query: str,
                     expander: QueryExpander | None = None,
                     k_per_query: int = 4, final_k: int = 10) -> DataFrame:
    """QueryExpansionRetriever.retrieve over BM25: search per expanded
    query, merge in expansion order, dedup (first expansion that surfaced
    a doc wins), cap at final_k. Returns (doc_id, expansion_idx, rank).

    Scale shape: ONE corpus scan builds the shared tf/df term table for
    the union of the expansions' terms (``_shared_bm25_legs`` — r6
    VERDICT task 3: the per-leg scans re-read the corpus per expansion);
    each leg is then a stats broadcast + distributed top-k
    (TakeOrderedAndProject) over the materialized table, and the merge
    unions k_per_query rows per expansion — trivially small.
    ``docs`` carries ``doc_id`` and ``text``."""
    expander = expander or QueryExpander()
    merged = None
    for i, scores in _shared_bm25_legs(docs, query, expander):
        topk = (
            scores.orderBy(F.desc("bm25_score"), F.asc("doc_id")).limit(k_per_query)
            .select(F.col("doc_id"), F.lit(i).alias("expansion_idx"))
        )
        merged = topk if merged is None else merged.unionByName(topk)
    if merged is None:
        raise ValueError("no expandable terms in query")
    dedup = top_k(merged, 1, ["expansion_idx"], by=["doc_id"])
    return top_k(dedup, final_k, ["expansion_idx", F.asc("doc_id")],
                 rank="rank").select("doc_id", "expansion_idx", "rank")


#: integer-quantized reciprocal-rank unit: 1e12 div (k + rank). Exact in
#: bigint, so cross-expansion sums are order-independent and engine-
#: portable — a float RRF sum can differ by a ulp between engines when
#: addition order differs, silently flipping tied ranks.
RRF_SCALE = 1_000_000_000_000


def _shared_bm25_legs(docs: DataFrame, query: str, expander: QueryExpander):
    """Yield (expansion_idx, bm25-scores frame) per expansion, all legs
    scoring from ONE materialized corpus scan: the tf/df term table is
    built once for the UNION of the expansions' terms (first-appearance
    order) and localCheckpointed — per_doc feeds every leg and stats
    feeds every leg's broadcast, the multi-consumer-intermediate rule.
    Each leg's scores are float-identical to a dedicated bm25_scores
    call (same tf/df/dl/avgdl doubles, same per-term addition order —
    retrieval.bm25_scores_from)."""
    from ragstudio_spark.operators import retrieval

    expansions = []
    shared: list[str] = []
    seen: dict[str, int] = {}
    for i, q in enumerate(expander.expand(query)):
        terms = _query_terms(q)
        if not terms:
            continue
        idx = []
        for t in terms:
            if t not in seen:
                seen[t] = len(shared)
                shared.append(t)
            idx.append(seen[t])
        expansions.append((i, idx))
    if not expansions:
        return
    per_doc, stats = retrieval.bm25_term_table(docs, shared)
    per_doc = per_doc.localCheckpoint()
    stats = stats.localCheckpoint()
    for i, idx in expansions:
        yield i, retrieval.bm25_scores_from(per_doc, stats, idx)


def multi_query_search(docs: DataFrame, query: str,
                       expander: QueryExpander | None = None,
                       k_per_query: int = 4, final_k: int = 10,
                       rrf_k: int = 60) -> DataFrame:
    """MultiQueryRetriever semantics (reference retrievers.py:79-104),
    rank-fused: expand the query, BM25 top-k per expansion, then fuse
    the lists by reciprocal rank (the EnsembleRetriever treatment the
    reference applies in its hybrid tier) instead of first-appearance
    order — a doc surfaced by several reformulations outranks one a
    single reformulation found. Returns (doc_id, n_lists, fused_score,
    rank); fused_score is the integer-quantized RRF sum.

    Scale shape: ONE corpus scan builds the shared term table for every
    expansion (``_shared_bm25_legs`` — r6 VERDICT task 3); each expansion
    then contributes one distributed top-k (TakeOrderedAndProject) of ≤ k
    rows over it; the union, fusion groupBy and final rank all run over
    ≤ num_queries·k rows — corpus size enters exactly once.
    ``docs`` carries ``doc_id`` and ``text``."""
    expander = expander or QueryExpander()
    merged = None
    for i, scores in _shared_bm25_legs(docs, query, expander):
        ranked = top_k(scores, k_per_query,
                       [F.desc("bm25_score"), F.asc("doc_id")],
                       rank="_r").select("doc_id", "_r")  # ≤ k rows: tiny window
        merged = ranked if merged is None else merged.unionByName(ranked)
    if merged is None:
        raise ValueError("no expandable terms in query")
    fused = (merged
             .groupBy("doc_id")
             .agg(F.count("*").cast("int").alias("n_lists"),
                  F.sum(F.expr(f"{RRF_SCALE} div ({int(rrf_k)} + _r)"))
                  .cast("bigint").alias("fused_score")))
    return (top_k(fused, final_k, [F.desc("fused_score"), F.asc("doc_id")],
                  rank="rank")
            .withColumn("rank", F.col("rank").cast("bigint")))


#: element type of the per-query rank-sorted hit list built by
#: ``_ranked_hitlist`` — shared by the greedy retrieval folds below.
_HIT_STRUCT = ("struct<rank:bigint, doc_id:bigint, emb:array<double>, "
               "nrm:double, qsim:double>")


def _ranked_hitlist(candidates: DataFrame) -> DataFrame:
    """(query_id, hl) where hl is the rank-sorted array of candidate
    structs (rank, doc_id, emb, nrm=|emb|, qsim=cos(query, emb)) — the
    shared front half of the greedy retrieval folds. Dots are pinned
    left-to-right folds so both engines produce bit-identical doubles."""
    qsim = F.expr(
        "aggregate(zip_with(CAST(embedding AS array<double>), "
        "CAST(query_embedding AS array<double>), (x, y) -> x * y), "
        "cast(0.0 as double), (acc, v) -> acc + v)")
    nrm = F.expr(
        "sqrt(aggregate(zip_with(CAST(embedding AS array<double>), "
        "CAST(embedding AS array<double>), (x, y) -> x * y), "
        "cast(0.0 as double), (acc, v) -> acc + v))")
    qnrm = F.expr(
        "sqrt(aggregate(zip_with(CAST(query_embedding AS array<double>), "
        "CAST(query_embedding AS array<double>), (x, y) -> x * y), "
        "cast(0.0 as double), (acc, v) -> acc + v))")
    return (candidates
            .select("query_id",
                    F.struct(
                        F.col("rank").cast("bigint").alias("rank"),
                        F.col("doc_id").cast("bigint").alias("doc_id"),
                        F.col("embedding").cast("array<double>").alias("emb"),
                        nrm.alias("nrm"),
                        (qsim / (nrm * qnrm)).alias("qsim")).alias("c"))
            .groupBy("query_id")
            .agg(F.array_sort(F.collect_list("c")).alias("hl")))


def compression_retrieve(candidates: DataFrame, sim_threshold: float = 0.5,
                         redundancy_threshold: float = 0.95) -> DataFrame:
    """The reference's 'compression' retrieval strategy
    (get_contextual_compression_retriever, retrievers.py:105-143):
    a DocumentCompressorPipeline of EmbeddingsRedundantFilter (greedy —
    walk candidates in rank order, drop any whose cosine to an
    already-KEPT candidate exceeds ``redundancy_threshold``) then
    EmbeddingsFilter (keep cosine(query, doc) ≥ ``sim_threshold``), in
    that order — redundancy comparisons run among ALL candidates,
    including ones the similarity filter later drops, exactly like the
    langchain pipeline.

    ``candidates`` carries per-row (query_id, rank, doc_id, embedding,
    query_embedding). Returns (query_id, doc_id, similarity rank-order
    preserved as ``rank``). Scale shape: everything after the one
    groupBy is a per-query fold over a k-bounded hit list — the greedy
    chain is sequential by nature, but k is the retriever's top-k, so
    the aggregate state is O(k·dim), never corpus-sized."""
    hl = _ranked_hitlist(candidates)
    # greedy leader walk: one fold whose accumulator is the kept list
    kept = F.expr(f"""
        aggregate(
          hl,
          CAST(array() AS array<struct<rank:bigint, doc_id:bigint,
               emb:array<double>, nrm:double, qsim:double>>),
          (acc, c) -> IF(
            exists(acc, k ->
              aggregate(zip_with(k.emb, c.emb, (x, y) -> x * y),
                        cast(0.0 as double), (s, v) -> s + v)
                / (k.nrm * c.nrm) > {float(redundancy_threshold)}),
            acc, array_append(acc, c)),
          acc -> acc)
    """)
    w = Window.partitionBy("query_id").orderBy("orig_rank")
    return (hl.withColumn("_k", kept)
            .select("query_id", F.explode("_k").alias("c"))
            .select("query_id", F.col("c.doc_id").alias("doc_id"),
                    F.col("c.rank").alias("orig_rank"),
                    F.col("c.qsim").alias("qsim"))
            .filter(F.col("qsim") >= float(sim_threshold))
            .withColumn("rank", F.row_number().over(w).cast("bigint"))
            .drop("qsim", "orig_rank"))


def mmr_rerank(candidates: DataFrame, lambda_mult: float = 0.5,
               k: int = 4) -> DataFrame:
    """Maximal-marginal-relevance diversified reranking (the langchain
    ``search_type="mmr"`` the reference's retriever ecosystem exposes;
    semantics of langchain's maximal_marginal_relevance): greedily pick
    ``k`` candidates, the first by highest query cosine, each next by
    argmax of ``lambda_mult * cos(query, c) - (1 - lambda_mult) *
    max_{s in selected} cos(s, c)``; ties break on original rank asc.

    ``candidates`` carries per-row (query_id, rank, doc_id, embedding,
    query_embedding); returns (query_id, doc_id, rank) with rank =
    selection order 1..min(k, n). Scale shape: after the one groupBy the
    whole greedy walk is a per-query fold over a k-bounded hit list —
    O(k^2 * n * dim) work on O(n * dim) state where n is the upstream
    retriever's top-k, never corpus-sized; no shuffle beyond the groupBy
    and no Python hop."""
    if k <= 0:
        raise ValueError("k must be positive")
    lam = float(lambda_mult)
    if not 0.0 <= lam <= 1.0:
        raise ValueError("lambda_mult must be in [0, 1]")
    hl = _ranked_hitlist(candidates)
    # One fold per query: step ``k`` times; each step scores the not-yet-
    # selected candidates (penalty fold starts at -2.0, strictly below
    # any cosine, so the max over a NONEMPTY selection is the true max —
    # the empty-selection first step short-circuits to plain qsim, which
    # selects argmax query-cosine for EVERY lambda_mult, including 0
    # (lam * qsim would collapse to an all-zero tie at lam = 0 and pick
    # by rank instead — review-found), like the reference algorithm).
    kept = F.expr(f"""
        aggregate(
          sequence(1, {int(k)}),
          CAST(array() AS array<{_HIT_STRUCT}>),
          (sel, stp) -> IF(size(sel) >= size(hl), sel,
            array_append(sel, aggregate(
              transform(
                filter(hl, cnd -> NOT exists(sel, kp -> kp.rank = cnd.rank)),
                cnd -> named_struct(
                  'score', IF(size(sel) = 0,
                    cnd.qsim,
                    {lam!r} * cnd.qsim - {1.0 - lam!r} * aggregate(
                      sel, cast(-2.0 as double),
                      (mx, kp2) -> greatest(mx,
                        aggregate(zip_with(kp2.emb, cnd.emb,
                                           (x, y) -> x * y),
                                  cast(0.0 as double), (s, v) -> s + v)
                          / (kp2.nrm * cnd.nrm)))),
                  'cnd', cnd)),
              CAST(NULL AS struct<score:double, cnd:{_HIT_STRUCT}>),
              (bst, sc) -> CASE
                WHEN bst IS NULL THEN sc
                WHEN sc.score > bst.score THEN sc
                WHEN sc.score = bst.score
                     AND sc.cnd.rank < bst.cnd.rank THEN sc
                ELSE bst END,
              bst -> bst.cnd))),
          sel -> sel)
    """)
    return (hl.withColumn("_k", kept)
            .select("query_id", F.posexplode("_k").alias("_p", "c"))
            .select("query_id", F.col("c.doc_id").alias("doc_id"),
                    (F.col("_p") + 1).cast("bigint").alias("rank")))


# --- re-ranking --------------------------------------------------------------

@dataclass
class RerankerConfig:
    """Mirrors reference RerankerConfig (reranker.py:77-94)."""

    top_k: int = 4
    min_score: float | None = None


def load_cross_encoder(model_name: str = "cross-encoder/ms-marco-MiniLM-L-6-v2"):
    """Load the reference's cross-encoder (reranker.py:121-161). The
    container ships no sentence_transformers — this raises exactly like
    the reference's CROSSENCODER_AVAILABLE=False branch; swap in any
    ``(query, text) -> score`` model on a real deployment."""
    try:
        from sentence_transformers import CrossEncoder  # noqa: F401
    except ImportError as exc:
        raise ImportError(
            "CrossEncoder not available. Install with: "
            "pip install sentence-transformers"
        ) from exc
    return CrossEncoder(model_name)  # pragma: no cover — not in container


def rerank(candidates: DataFrame, score: Column,
           config: RerankerConfig | None = None) -> DataFrame:
    """Rerank semantics (reranker.py:163-227) over a candidates DataFrame:
    attach ``rerank_score`` from ``score`` (any Column — a JVM relevance
    expression or a pandas-UDF cross-encoder), sort desc (ties on id asc),
    drop below min_score, keep top_k, assign final ranks.
    ``candidates`` carries ``doc_id``."""
    cfg = config or RerankerConfig()
    scored = candidates.withColumn("rerank_score", score)
    if cfg.min_score is not None:
        scored = scored.filter(F.col("rerank_score") >= cfg.min_score)
    return top_k(scored, cfg.top_k, [F.desc("rerank_score"), F.asc("doc_id")],
                 rank="rank")


def lexical_overlap_score(query: str) -> Column:
    """Deterministic stand-in scorer (and a useful cheap reranker on its
    own): |query ∩ doc| / |query| over word sets — JVM-side, codegen'd.
    Scores the ``text`` column."""
    terms = list(dict.fromkeys(_query_terms(query)))
    if not terms:
        return F.lit(0.0)
    hits = None
    for t in terms:
        h = F.when(F.lower(F.col("text")).rlike(rf"\b{t}\b"), 1).otherwise(0)
        hits = h if hits is None else hits + h
    return hits.cast("double") / F.lit(float(len(terms)))
