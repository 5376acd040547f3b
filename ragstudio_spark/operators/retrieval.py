"""Hybrid retrieval — BM25 keyword scoring + reciprocal-rank fusion.

DataFrame-operator form of the reference's hybrid search tier
(/root/reference/src/core/rag/hybrid_search.py:37-130: HybridSearchConfig
vector_weight=0.5, bm25_weight=0.5, bm25_k1=1.5, bm25_b=0.75; the reference
delegates the mechanics to LangChain's BM25Retriever + EnsembleRetriever —
here both are native column expressions).

Exactness rules (the DuckDB oracle hash-compares values):
* corpus stats (N, avgdl, per-term df) are one single-row aggregate,
  broadcast-cross-joined back — never recomputed per row;
* fusion scores are built from integer ranks only (RRF k=60), so the
  doubles are bit-identical across engines;
* ties break on doc id ascending everywhere.

Scale shape: scoring is embarrassingly parallel (one scan, no shuffle
beyond the stats broadcast). Exact global ranking needs a total order —
``candidate_limit`` bounds that: scores go through ``orderBy().limit(C)``,
which Spark executes as TakeOrderedAndProject (per-partition partial top-k
+ driver merge, no full sort shuffle), and only the ≤C candidates enter the
single-partition rank window and the fusion join. ``None`` ranks the full
corpus (oracle/ground-truth mode; fine to sf0.1, not for 100 TB).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, functions as F

from ragstudio_spark.operators import similarity
from ragstudio_spark.operators.ranking import top_k


@dataclass
class HybridConfig:
    """Mirrors reference HybridSearchConfig (hybrid_search.py:37-74)."""

    vector_weight: float = 0.5
    bm25_weight: float = 0.5
    k: int = 10
    bm25_k1: float = 1.5
    bm25_b: float = 0.75
    rrf_k: int = 60

    def __post_init__(self):
        if not 0.0 <= self.vector_weight <= 1.0:
            raise ValueError("vector_weight must be between 0.0 and 1.0")
        if not 0.0 <= self.bm25_weight <= 1.0:
            raise ValueError("bm25_weight must be between 0.0 and 1.0")


def _dl_col(text: Column) -> Column:
    """Document length = whitespace token count (lower-cased, no empties)."""
    return F.size(F.filter(F.split(F.lower(text), r"\s+"), lambda w: w != ""))


def _term_pattern(term: str) -> str:
    """Regex for one query term: the term is LOWERCASED (tf matching runs
    against lowered text — an uppercase term would otherwise silently
    score 0), regex metacharacters are escaped (so a public-API term like
    ``c++`` or ``3.5`` counts literally instead of throwing a pattern
    error), and word boundaries apply only when the term is itself a word
    (``\\b`` next to a non-word char would never match)."""
    import re as _re

    esc = _re.escape(term.lower())
    return rf"\b{esc}\b" if _re.fullmatch(r"\w+", term.lower()) else esc


def _tf_col(text: Column, term: str) -> Column:
    """Whole-word term frequency (case-insensitive)."""
    return F.size(F.regexp_extract_all(
        F.lower(text), F.lit(_term_pattern(term)), F.lit(0)))


def bm25_term_table(docs: DataFrame, terms: list[str],
                    text_col: str = "text",
                    id_col: str = "doc_id") -> tuple[DataFrame, DataFrame]:
    """(per_doc, stats) for a term universe — the shareable front half of
    BM25: per_doc carries (id, dl, tf_0..tf_{T-1}), stats the corpus
    aggregates (n_docs, avgdl, df_0..df_{T-1}). Multi-expansion callers
    (multi_query / expansion search) compute this ONCE for the union of
    their expansions' terms and score each leg from it — one corpus scan
    instead of one per expansion (r6 VERDICT task 3)."""
    per_doc = docs.select(
        F.col(id_col),
        _dl_col(F.col(text_col)).alias("dl"),
        *[_tf_col(F.col(text_col), t).alias(f"tf_{i}")
          for i, t in enumerate(terms)],
    )
    stats = per_doc.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
        *[F.sum(F.when(F.col(f"tf_{i}") > 0, 1).otherwise(0)).alias(f"df_{i}")
          for i in range(len(terms))],
    )
    return per_doc, stats


def bm25_scores_from(per_doc: DataFrame, stats: DataFrame,
                     term_idx: list[int], id_col: str = "doc_id",
                     k1: float = 1.5, b: float = 0.75) -> DataFrame:
    """BM25 scores over a prebuilt ``bm25_term_table``: the query's terms
    are given as INDICES into the table's term universe, summed in the
    given order — float-identical to a dedicated ``bm25_scores`` call for
    those terms (same tf/df/dl/avgdl values, same per-term part, same
    addition order)."""
    scored = per_doc.crossJoin(stats)
    score = None
    for i in term_idx:
        idf = F.log((F.col("n_docs") - F.col(f"df_{i}") + 0.5)
                    / (F.col(f"df_{i}") + 0.5) + 1)
        tf = F.col(f"tf_{i}")
        part = idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
        score = part if score is None else score + part
    return scored.select(F.col(id_col), score.alias("bm25_score"))


def bm25_scores(docs: DataFrame, terms: list[str], text_col: str = "text",
                id_col: str = "doc_id", k1: float = 1.5,
                b: float = 0.75) -> DataFrame:
    """Per-document BM25 score for a bag of query terms.

    idf = ln((N - df + 0.5) / (df + 0.5) + 1)  (the +1 keeps it positive)
    tf-part = tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))
    """
    if not terms:
        raise ValueError("bm25_scores: terms must be a non-empty list")
    per_doc, stats = bm25_term_table(docs, terms, text_col, id_col)
    return bm25_scores_from(per_doc, stats, list(range(len(terms))),
                            id_col, k1, b)


def _ranked(scored: DataFrame, id_col: str, score_col: str, rank_name: str,
            candidate_limit: int | None) -> DataFrame:
    """score → dense integer ranks (desc score, asc id). With a candidate
    limit the total order is computed as a distributed partial top-k
    (TakeOrderedAndProject) before the small rank window."""
    return top_k(scored, candidate_limit, [F.desc(score_col), F.asc(id_col)],
                 rank=rank_name).select(id_col, rank_name)


def cosine_scores(vectors: DataFrame, query: DataFrame,
                  id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """Cosine similarity of every vector against ONE broadcast query row
    (``similarity.cosine``: sequential left-fold dot products — fixed
    accumulation order). The query side is query-sized, so it keeps its
    hint: a Python-built query has no size estimate, and unhinted the
    cross join against a large corpus plans as a CartesianProduct."""
    q = F.broadcast(query.select(F.col(vec_col).alias("_qvec")))
    cos = similarity.cosine(F.col(vec_col), F.col("_qvec"))
    return vectors.crossJoin(q).select(F.col(id_col), cos.alias("vec_score"))


def rrf_fuse(bm25_ranks: DataFrame, vec_ranks: DataFrame,
             id_col: str = "doc_id", config: HybridConfig | None = None,
             require_both: bool = True) -> DataFrame:
    """Reciprocal-rank fusion: w_b/(k+r_bm25) + w_v/(k+r_vec) → top-k
    (doc_id, rank). ``require_both=True`` inner-joins the two rankings
    (exact full-corpus mode); ``False`` outer-joins so a candidate missing
    from one modality still scores on the other (candidate-limited mode —
    the EnsembleRetriever behavior when top-k lists only partially overlap)."""
    cfg = config or HybridConfig()
    how = "inner" if require_both else "full_outer"
    fused = bm25_ranks.join(vec_ranks, on=id_col, how=how)
    contrib_b = F.when(F.col("bm25_rank").isNotNull(),
                       cfg.bm25_weight / (cfg.rrf_k + F.col("bm25_rank"))).otherwise(0.0)
    contrib_v = F.when(F.col("vec_rank").isNotNull(),
                       cfg.vector_weight / (cfg.rrf_k + F.col("vec_rank"))).otherwise(0.0)
    scored = fused.select(F.col(id_col), (contrib_b + contrib_v).alias("rrf"))
    return top_k(scored, cfg.k, [F.desc("rrf"), F.asc(id_col)],
                 rank="rank").select(id_col, "rank")


def hybrid_search(docs: DataFrame, vectors: DataFrame, terms: list[str],
                  query: DataFrame, text_col: str = "text",
                  doc_id_col: str = "doc_id", vec_id_col: str = "vec_id",
                  vec_col: str = "embedding",
                  config: HybridConfig | None = None,
                  candidate_limit: int | None = 1000,
                  require_both: bool | None = None) -> DataFrame:
    """Full hybrid pipeline: BM25 over ``docs`` + cosine over ``vectors``
    against one ``query`` row, RRF-fused to (doc_id, rank). ``vectors``'
    ids must align with ``docs``' ids (chunk embedding table).

    The default ``candidate_limit=1000`` is the scale path: each modality
    ranks only its distributed partial top-1000 (TakeOrderedAndProject),
    so no full corpus ever enters a single-partition window. Pass ``None``
    only for exact full-corpus ground truth (the oracle gate) — that mode
    ranks everything through one partition and must not run at scale.

    ``require_both`` controls the fusion join and defaults per mode —
    this is a SEMANTIC switch, not just a perf one: bounded mode
    full-outer-joins the two top-C lists (a candidate in only one list
    still scores on that modality — the EnsembleRetriever behavior,
    and inner-joining truncated lists would wrongly drop candidates),
    while full-corpus mode inner-joins (both rankings are total over
    aligned ids, so the join is exact and matches the oracle twin). When
    ids do NOT fully align across ``docs``/``vectors``, the two defaults
    differ for the unmatched ids even without truncation — pass
    ``require_both`` explicitly to pin one behavior."""
    cfg = config or HybridConfig()
    bm25 = _ranked(
        bm25_scores(docs, terms, text_col, doc_id_col, cfg.bm25_k1, cfg.bm25_b),
        doc_id_col, "bm25_score", "bm25_rank", candidate_limit)
    vec = _ranked(
        cosine_scores(vectors, query, vec_id_col, vec_col)
        .withColumnRenamed(vec_id_col, doc_id_col)
        if vec_id_col != doc_id_col
        else cosine_scores(vectors, query, vec_id_col, vec_col),
        doc_id_col, "vec_score", "vec_rank", candidate_limit)
    if require_both is None:
        require_both = candidate_limit is None
    return rrf_fuse(bm25, vec, doc_id_col, cfg, require_both=require_both)


def ranked_eval(results: DataFrame, qrels: DataFrame, k: int = 10,
                query_col: str = "query_id", doc_col: str = "doc_id",
                rank_col: str = "rank") -> DataFrame:
    """Retrieval-quality metrics @k over a ranked results table vs a
    relevance-judgment (qrels) table — the IR evaluation harness that
    complements ``similarity.ann_recall_report`` (set recall) with
    rank-aware metrics. All metrics are EXACT integers (parts-per-
    million via integer div), the oracle discipline: no float
    accumulation, so results are bit-identical across engines and
    partitionings.

    Per query (the qrels side defines the universe; queries with
    results but no judgments report n_rel = 0 and NULL ratio metrics):
    n_rel, n_rel_ret (relevant among the top-k results),
    first_rel_rank (NULL if no relevant doc in the top-k),
    rr_ppm = 1e6 div first_rel_rank (MRR@k numerator, 0 if none),
    p_at_k_ppm = 1e6 * n_rel_ret div k,
    recall_ppm = 1e6 * n_rel_ret div n_rel (NULL when n_rel = 0).
    Macro-average downstream with integer sums over rr_ppm etc.

    Scale shape: one filter to rank <= k (top-k tables are tiny by
    construction), one join on (query, doc), two map-side-combinable
    aggregates, one key join — no window over the corpus."""
    if k <= 0:
        raise ValueError("k must be positive")
    hits = (results
            .filter(F.col(rank_col) <= k)
            .select(query_col, doc_col, F.col(rank_col).cast("bigint")
                    .alias("_r"))
            .join(qrels.select(query_col, doc_col)
                  .distinct().withColumn("_rel", F.lit(1)),
                  on=[query_col, doc_col], how="left")
            .groupBy(query_col)
            .agg(F.sum(F.coalesce("_rel", F.lit(0))).cast("bigint")
                 .alias("n_rel_ret"),
                 F.min(F.when(F.col("_rel").isNotNull(), F.col("_r")))
                 .alias("first_rel_rank")))
    universe = (qrels.select(query_col, doc_col).distinct()
                .groupBy(query_col)
                .agg(F.count("*").cast("bigint").alias("n_rel")))
    joined = universe.join(hits, on=query_col, how="full_outer")
    n_rel = F.coalesce("n_rel", F.lit(0)).cast("bigint")
    n_rel_ret = F.coalesce("n_rel_ret", F.lit(0)).cast("bigint")
    return joined.select(
        query_col,
        n_rel.alias("n_rel"),
        n_rel_ret.alias("n_rel_ret"),
        F.col("first_rel_rank").cast("bigint").alias("first_rel_rank"),
        F.coalesce(F.expr("1000000 div first_rel_rank"), F.lit(0))
        .cast("bigint").alias("rr_ppm"),
        F.expr(f"(1000000 * coalesce(n_rel_ret, CAST(0 AS BIGINT))) "
               f"div {int(k)}")
        .cast("bigint").alias("p_at_k_ppm"),
        F.expr("IF(coalesce(n_rel, CAST(0 AS BIGINT)) > 0, "
               "(1000000 * coalesce(n_rel_ret, CAST(0 AS BIGINT))) "
               "div n_rel, CAST(NULL AS BIGINT))")
        .alias("recall_ppm"))


def ndcg_eval(results: DataFrame, qrels: DataFrame, k: int = 10) -> DataFrame:
    """nDCG@k with binary relevance — the graded rank-aware metric
    ranked_eval's integer family cannot express.

    Precondition (r6 ADVICE): ``results`` must carry unique 1-based ranks
    per query with at most one row per (query, doc) inside top-k — the
    contract every in-repo ranker satisfies. Duplicate (query, doc) rows
    double-count DCG and the retrieved-relevant tally (ndcg_ppm can then
    exceed 1e6), and a rank ≤ 0 would index the literal discount array
    out of range. Callers feeding external rankings should dedupe to
    min-rank and filter to 1 ≤ rank ≤ k first (log2 discounts are
    irreducibly float).

    Float discipline: the per-rank discounts 1/log2(i+1) and the ideal
    prefix sums are computed ONCE driver-side in Python and embedded as
    LITERAL arrays — both engines evaluate the identical bit patterns,
    no runtime log. DCG is an order-fixed fold over the query's hits
    sorted by rank (sum order pinned, so the double is bit-identical
    across engines and partitionings); nDCG = DCG/IDCG is one final
    correctly-rounded division, emitted as floor-ppm.

    Per query: n_rel, n_rel_ret, ndcg_ppm (NULL when the query has no
    judgments). Scale shape is ranked_eval's: top-k filter, one join,
    one grouped fold — no window over the corpus. ``results`` carries
    ``query_id``, ``doc_id`` and ``rank``; ``qrels`` carries ``query_id``
    and ``doc_id``.
    """
    import math

    if k <= 0:
        raise ValueError("k must be positive")
    discounts = [1.0 / math.log2(i + 1) for i in range(1, k + 1)]
    prefix = []
    acc = 0.0
    for d in discounts:  # ideal DCG for m relevant docs = prefix[m-1]
        acc += d
        prefix.append(acc)
    disc_arr = F.array(*[F.lit(d) for d in discounts])
    ideal_arr = F.array(*[F.lit(p) for p in prefix])
    hits = (results
            .filter(F.col("rank") <= k)
            .select("query_id", "doc_id",
                    F.col("rank").cast("int").alias("_r"))
            .join(qrels.select("query_id", "doc_id").distinct(),
                  on=["query_id", "doc_id"], how="inner"))
    per_q = (hits
             .groupBy("query_id")
             .agg(F.count("*").cast("bigint").alias("n_rel_ret"),
                  F.sort_array(F.collect_list("_r")).alias("_ranks")))
    dcg = F.aggregate(
        F.transform(F.col("_ranks"),
                    lambda r: F.element_at(disc_arr, r)),
        F.lit(0.0), lambda a, v: a + v)
    judged = (qrels.select("query_id", "doc_id").distinct()
              .groupBy("query_id")
              .agg(F.count("*").cast("bigint").alias("n_rel")))
    # the universe is BOTH sides, the ranked_eval full-outer contract:
    # a results-only query must surface with n_rel = 0 and NULL ndcg
    # (review-found — a qrels-only universe silently dropped it)
    universe = (results.select("query_id").distinct()
                .join(judged, "query_id", "full_outer")
                .withColumn("n_rel", F.coalesce("n_rel", F.lit(0))
                            .cast("bigint")))
    joined = (universe.join(per_q, "query_id", "left")
              .withColumn("_dcg", F.coalesce(dcg, F.lit(0.0)))
              .withColumn("_m", F.least(F.col("n_rel"), F.lit(k))
                          .cast("int"))
              .withColumn("_idcg", F.when(
                  F.col("n_rel") > 0,
                  F.element_at(ideal_arr, F.col("_m")))))
    return (joined.select(
        "query_id", "n_rel",
        F.coalesce("n_rel_ret", F.lit(0)).cast("bigint").alias("n_rel_ret"),
        F.floor(F.lit(1_000_000) * F.col("_dcg") / F.col("_idcg"))
        .cast("bigint").alias("ndcg_ppm"))
        .orderBy("query_id"))
