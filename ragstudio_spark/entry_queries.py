"""Driver-contract query battery: Spark implementations + DuckDB oracles.

Each entry exercises one operator family from SURVEY.md §2 on the driver's
testdata tables (documents / embeddings / events / orders / customer /
lineitem). Design rules for oracle-exactness (the driver hash-compares
values):

* float sums/avgs are computed from *exact* integer or decimal sums and
  divided once — identical doubles in both engines regardless of row order;
* similarity searches output ranks, never raw float scores (accumulation
  order differs across engines by a ulp);
* every aggregate/computed column is aliased identically in both dialects;
* randomness-free: hashes are md5, orders have total tie-breaks.
"""

from __future__ import annotations

import atexit
import math
import os
import re
import shutil
import tempfile

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from ragstudio_spark import sqlspec
from ragstudio_spark.operators import (
    bpe_trainer, convlint, curation, dedupe, feedback, lm_filter, metrics,
    ml_strategy, ml_trainer, multimodal, packing, profiler, quality_model,
    quality_signals, rag_chain, rag_extras, redact, retrieval, sampling,
    schema_extract, sessions, sft, similarity, sketches, skew, sniff,
    snapshot, strategy, toolcalls, vectorstore, routing as routing_op,
)
from ragstudio_spark.operators.asof import asof_join
from ragstudio_spark.operators.convlint import ROLES, VALID_TRANSITIONS
from ragstudio_spark.operators.curation import (
    CHARS_PER_TOKEN, curate_pretrain_stream,
)
from ragstudio_spark.operators.dedupe import _hex_positions
from ragstudio_spark.operators.expectations import expectations_report
from ragstudio_spark.operators.grounding import turn_grounding
from ragstudio_spark.operators.index import phrase_search, terms_search
from ragstudio_spark.operators.metrics import (
    ERROR_OTHER, ERROR_TAXONOMY, exact_quantiles,
)
from ragstudio_spark.operators.profiler import (
    _HEADING_RE, _LIST_RE, _MD_HEADER_RE, _NUM_SECTION_RE,
)
from ragstudio_spark.operators.quality_model import (
    PUBLISHED_WEIGHTS, QM_STOPWORDS,
)
from ragstudio_spark.operators.quality_signals import (
    C4_MIN_LINE_WORDS, C4_MIN_SENTENCES, C4_TERMINALS,
)
from ragstudio_spark.operators.rag_chain import DEFAULT_RAG_PROMPT
from ragstudio_spark.operators.rag_extras import RRF_SCALE
from ragstudio_spark.operators.ranking import top_k
from ragstudio_spark.operators.redact import REDACTIONS
from ragstudio_spark.operators.routing import (
    EQUATION_PATTERNS, FRENCH_CHARS, MATH_SYMBOLS, SCIENTIFIC_KEYWORDS,
)
from ragstudio_spark.operators.schema_extract import (
    CIRCLE_RE, CURVE_RE, FIGURE_RE, LATEX_RE, LINE_RE, SEGMENT_RE,
    TRIANGLE_RE,
)
from ragstudio_spark.operators.sessions import (
    cohort_retention, funnel, rolling_active, transition_matrix,
)
from ragstudio_spark.operators.sketches import _RHO_BITS, _alpha, lz4_case_sql
from ragstudio_spark.operators.skew import heavy_keys, skew_report
from ragstudio_spark.operators.sniff import _HTML_RE, _MD_RE, _PDF_RE
from ragstudio_spark.operators.snapshot import (
    distribution_drift, join_cardinality, scd2_history,
)
from ragstudio_spark.pipeline import cache, guards
from ragstudio_spark.pipeline.maintenance import forget_rewrite
from ragstudio_spark.session import literal_table

# --------------------------------------------------------------------------
# helpers
# --------------------------------------------------------------------------

# Tables whose queries fan out per-row work (shingling, hashing, pairwise
# similarity). The testdata ships as one parquet file each → one input split
# → one task; at production scale these are many-file/bucketed tables. A
# round-robin repartition to the session's parallelism restores the scan
# parallelism a real table layout would give (results are partition-
# independent by construction).
_FANOUT_TABLES = {"documents", "embeddings", "events"}


def _register(spark: SparkSession, sf_dir: str, *tables: str) -> None:
    par = spark.sparkContext.defaultParallelism
    for t in tables:
        df = spark.read.parquet(f"{sf_dir}/{t}.parquet")
        if t in _FANOUT_TABLES:
            df = df.repartition(par)
        df.createOrReplaceTempView(t)


# --------------------------------------------------------------------------
# shared SQL fragments (dialect-parameterized)
# --------------------------------------------------------------------------

def _words_expr(col: str, engine: str) -> str:
    """Lower-cased whitespace tokens of a text column."""
    if engine == "spark":
        return f"filter(split(lower({col}), '\\\\s+'), w -> w != '')"
    if engine == "duckdb":
        return f"list_filter(regexp_split_to_array(lower({col}), '\\s+'), w -> w != '')"
    raise ValueError(engine)


def _shingles_expr(words: str) -> str:
    """3-word shingles (with duplicates) from a DuckDB words list."""
    return (
        f"CASE WHEN len({words}) >= 3 THEN "
        f"list_transform(range(1, len({words}) - 1), "
        f"i -> {words}[i] || ' ' || {words}[i+1] || ' ' || {words}[i+2]) "
        f"ELSE [] END"
    )


def _dot_duck(a: str, b: str) -> str:
    """Sequential left-fold dot product in double precision (DuckDB
    list_aggregate('sum') may not fold in order; list_reduce does)."""
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(list_zip({a}, {b}), "
        f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (acc, v) -> acc + v)"
    )


def _cosine(a: str = "a.embedding", b: str = "b.embedding") -> str:
    return f"({_dot_duck(a, b)}) / (sqrt({_dot_duck(a, a)}) * sqrt({_dot_duck(b, b)}))"


def _nearest_duck(order: str, vecs: str, cents: str, cid: str = "cid",
                  carry: str = "") -> str:
    """Each vector of ``vecs`` with its first centroid of ``cents`` by
    ``order``, ties on the lower cid — the oracle twin of
    ``top_k(..., 1, [order, cid], by=[vec_id])``; ``carry`` keeps one more
    vector column."""
    keep, vkeep = (f"{carry}, ", f"v.{carry}, ") if carry else ("", "")
    return f"""  SELECT vec_id, {keep}{cid} FROM (
    SELECT v.vec_id, {vkeep}c.cid,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {order}, c.cid ASC) AS rn
    FROM {vecs} v CROSS JOIN {cents} c) a
  WHERE rn = 1"""


def _topk_per_query_duck(src: str, score: str, k: int) -> str:
    """(query_id, neighbor_id, rank): the first ``k`` rows of ``src`` per
    query by ``score``, ties on neighbor_id — the oracle twin of
    ``top_k(..., by=["query_id"], rank="rank")``."""
    return f"""SELECT query_id, neighbor_id, rank FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY {score}, neighbor_id ASC) AS rank
  FROM {src}) r
WHERE rank <= {k}
"""


# --------------------------------------------------------------------------
# query definitions
# --------------------------------------------------------------------------

_DEFS: dict[str, tuple] = {}


def _def(name: str, spark_side, oracle: str | None, *tables: str) -> None:
    """Declare entry ``name``. Its queries() callable registers ``tables``
    as temp views, then builds the Spark side: a Spark SQL string, or
    ``fn(spark) -> DataFrame`` reading those views. ``oracle`` is the DuckDB
    twin (None: rows-only). An entry that reuses another's fn lists the
    tables of both."""
    def entry(spark: SparkSession, sf_dir: str) -> DataFrame:
        _register(spark, sf_dir, *tables)
        if isinstance(spark_side, str):
            return spark.sql(spark_side)
        return spark_side(spark)

    _DEFS[name] = (entry, oracle)


# -- 1. eval metrics (reference eval.py:144-181): chunk-size stats from exact
#       integer sums (no builtin stddev — order-dependent streaming moments)
_EVAL_SPARK = """
SELECT count(*)                                        AS n_docs,
       CAST(sum(n_chars) AS BIGINT)                    AS total_chars,
       CAST(min(n_chars) AS BIGINT)                    AS min_chars,
       CAST(max(n_chars) AS BIGINT)                    AS max_chars,
       CAST(sum(n_chars) AS DOUBLE) / count(*)         AS avg_chars,
       (CAST(sum(n_chars * n_chars) AS DOUBLE)
        - CAST(sum(n_chars) AS DOUBLE) * CAST(sum(n_chars) AS DOUBLE) / count(*))
       / (count(*) - 1)                                AS var_chars
FROM documents
"""
_def("eval_metrics", _EVAL_SPARK, _EVAL_SPARK, "documents")

# -- 2. size histogram (eval.py bucket counts)
_HIST = """
SELECT bucket, count(*) AS n FROM (
  SELECT CASE WHEN n_chars = 0 THEN 'empty'
              WHEN n_chars < 100 THEN 'lt_100'
              WHEN n_chars < 500 THEN '100_500'
              ELSE 'ge_500' END AS bucket
  FROM documents) t
GROUP BY bucket
"""
_def("size_histogram", _HIST, _HIST, "documents")

# -- 3. status counters (batch run counters, status.py:47-112): exact
#       decimal sum then one conversion to double
_STATUS_SPARK = """
SELECT event_type,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events GROUP BY event_type
"""
_def("status_counts", _STATUS_SPARK, _STATUS_SPARK, "events")

# -- 4. exact dedup (md5 hash-groupBy; langchain_chunker.py:313-319). The
#       key is the sorted distinct word set (a normalized-content hash):
#       raw-text md5 is 0-vs-0 vacuous at sf0.01 (the synthetic corpus has
#       near-dup seeds, no byte-identical docs), while the vocabulary
#       fingerprint surfaces those seeds — same one-shuffle hash-groupBy
#       shape, non-empty gate. Dialect note: Spark split() takes a regex,
#       DuckDB string_split a literal — a single space means the same in
#       both.
def _dedup_exact_sql(engine: str) -> str:
    if engine == "spark":
        key = ("concat_ws(' ', array_sort(array_distinct("
               "split(lower(trim(text)), ' '))))")
    else:
        key = ("array_to_string(list_sort(list_distinct("
               "string_split(lower(trim(text)), ' '))), ' ')")
    return f"""
SELECT h AS text_hash, count(*) AS dup_count
FROM (SELECT md5({key}) AS h FROM documents) t
GROUP BY h HAVING count(*) > 1
"""
_def("dedup_exact", _dedup_exact_sql("spark"), _dedup_exact_sql("duckdb"), "documents")

# -- 5. prefix-fingerprint dedup groups (document fingerprinting)
def _fp_sql(engine: str) -> str:
    words = _words_expr("text", engine)
    if engine == "spark":
        prefix = f"concat_ws(' ', slice({words}, 1, 2))"
    else:
        prefix = f"array_to_string(list_slice({words}, 1, 2), ' ')"
    return f"""
SELECT md5({prefix}) AS fp, count(*) AS n_docs
FROM documents
GROUP BY 1 HAVING count(*) > 1
"""
_def("fingerprint_dups", _fp_sql("spark"), _fp_sql("duckdb"), "documents")

# -- 6. MinHash + LSH candidate pairs (banding over md5-permutation minima).
#       Shape matters at scale: explode shingles ONCE, then a groupBy with
#       8 min() aggregates (map-side partial aggregation) — never nest the
#       signature computation inside reused expressions, which Spark inlines
#       and recomputes per reference (measured 4-10× blowup at sf0.1).
_MIN_COLS_DUCK = ",\n         ".join(
    f"min(md5('{h}:' || shingle)) AS h{h}" for h in range(8)
)
_BAND_SELECT = """
SELECT doc_id, 0 AS band_idx, md5(h0 || h1 || h2 || h3) AS band_key FROM sigs
UNION ALL
SELECT doc_id, 1 AS band_idx, md5(h4 || h5 || h6 || h7) AS band_key FROM sigs
"""
_PAIRS = """
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM banded a JOIN banded b
  ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
"""


def _minhash_sql(final_select: str = _PAIRS) -> str:
    words = _words_expr("text", "duckdb")
    sh = _shingles_expr("words")
    return f"""
WITH ex AS (
SELECT doc_id, unnest(shingles) AS shingle FROM
  (SELECT doc_id, {sh} AS shingles
   FROM (SELECT doc_id, {words} AS words FROM documents) w) d
),
sigs AS (
  SELECT doc_id,
         {_MIN_COLS_DUCK}
  FROM ex GROUP BY doc_id
),
banded AS ({_BAND_SELECT})
{final_select}
"""
def _minhash_fn(spark: SparkSession) -> DataFrame:
    return dedupe.minhash_lsh_pairs(spark.table("documents"))


# Spark side runs the first-class operator (operators/dedupe.py); the
# DuckDB SQL twin pins its semantics value-for-value.
_def("dedup_minhash_lsh", _minhash_fn, _minhash_sql(), "documents")


# -- 6b. cross-corpus near-dup candidates (benchmark decontamination /
#        incremental dedup — operators/dedupe.cross_corpus_minhash_pairs):
#        which even-doc_id docs share a MinHash band with any odd-doc_id
#        doc. Signatures are per-doc, so the twin computes them over the
#        whole table once and applies the split in the final join.
_CROSS_PAIRS = """
SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id
FROM banded a JOIN banded b
  ON a.band_idx = b.band_idx AND a.band_key = b.band_key
WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
"""


def _decontam_fn(spark: SparkSession) -> DataFrame:
    docs = spark.table("documents")
    return dedupe.cross_corpus_minhash_pairs(
        docs.filter("doc_id % 2 = 0"), docs.filter("doc_id % 2 = 1"))


_def("decontaminate_cross_pairs", _decontam_fn, _minhash_sql(_CROSS_PAIRS), "documents")

# -- 6b. near-dup cluster resolution: minhash candidate pairs → connected
#        components (doc_id, cluster_id = min reachable id). Spark runs
#        min-label propagation (operators/dedupe.duplicate_clusters);
#        DuckDB proves it with a recursive-CTE transitive closure.
def _clusters_duck_sql() -> str:
    return f"""
WITH RECURSIVE p AS ({_minhash_sql()}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM p
  UNION
  SELECT doc_b, doc_a FROM p
),
reach(id, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id
)
SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
FROM reach GROUP BY id
"""


def _clusters_fn(spark: SparkSession) -> DataFrame:
    pairs = dedupe.minhash_lsh_pairs(spark.table("documents"))
    clusters = dedupe.duplicate_clusters(pairs)
    return clusters.select("doc_id", F.col("cluster_id").cast("bigint").alias("cluster_id"))


_def("dedup_clusters", _clusters_fn, _clusters_duck_sql(), "documents")


# -- 7. exact n-gram Jaccard top pairs (ground truth for LSH)
def _shingle_sets_duck() -> str:
    """``WITH`` docs (distinct 3-word shingles + their count) and ex (one
    row per shingle): the candidate side of the Jaccard and containment
    oracles. The distinct-shingle array is computed once in an inner
    subquery and sized in the outer one (inlined expression reuse would
    recompute it)."""
    words = _words_expr("text", "duckdb")
    sh = _shingles_expr("words")
    return f"""
WITH docs AS (
  SELECT doc_id, shingles, len(shingles) AS n_sh FROM
    (SELECT doc_id, list_distinct({sh}) AS shingles
     FROM (SELECT doc_id, {words} AS words FROM documents) w) s
), ex AS (
  SELECT doc_id, n_sh, unnest(shingles) AS shingle FROM docs
)"""


def _jaccard_sql() -> str:
    return f"""{_shingle_sets_duck()}
, pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         count(*) AS inter,
         min(a.n_sh) AS na, min(b.n_sh) AS nb
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       CAST(inter AS DOUBLE) / (na + nb - inter) AS jaccard
FROM pairs
ORDER BY jaccard DESC, doc_a ASC, doc_b ASC
LIMIT 20
"""
def _jaccard_fn(spark: SparkSession) -> DataFrame:
    pairs = dedupe.jaccard_pairs(spark.table("documents"))
    return pairs.orderBy(F.desc("jaccard"), F.asc("doc_a"), F.asc("doc_b")).limit(20)


_def("ngram_jaccard_top_pairs", _jaccard_fn, _jaccard_sql(), "documents")

# -- 7b. winnowing fingerprint overlap (MOSS): k-gram rolling hashes →
#        window minima → shared-fingerprint pairs. Local-overlap candidate
#        generator; df-capped exactly like jaccard's shingle cap. Top-50 by
#        (shared desc, ids asc) for a stable oracle surface.
_WIN_K, _WIN_W, _WIN_DF_CAP, _WIN_MIN_SHARED = 12, 8, 10, 3


def _winnow_duck_sql() -> str:
    gram = "substring(md5(substring(text, i + 1, {k})), 1, 8)".format(k=_WIN_K)
    window_min = (f"list_aggregate(list_transform(range(j, j + {_WIN_W}), "
                  f"i -> {gram}), 'min')")
    return f"""
WITH fps AS (
  SELECT doc_id, unnest(
    CASE WHEN length(text) - {_WIN_K} + 1 >= {_WIN_W} THEN
      list_distinct(list_transform(range(0, length(text) - {_WIN_K} + 1 - {_WIN_W} + 1),
        j -> {window_min}))
    ELSE [] END) AS fingerprint
  FROM documents
),
capped AS (
  SELECT doc_id, fingerprint FROM fps
  WHERE fingerprint NOT IN (
    SELECT fingerprint FROM fps GROUP BY fingerprint
    HAVING count(*) > {_WIN_DF_CAP})
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS shared_fingerprints
  FROM capped a JOIN capped b
    ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
  HAVING count(*) >= {_WIN_MIN_SHARED}
)
SELECT doc_a, doc_b, shared_fingerprints FROM pairs
ORDER BY shared_fingerprints DESC, doc_a ASC, doc_b ASC LIMIT 50
"""


def _winnow_fn(spark: SparkSession) -> DataFrame:
    pairs = dedupe.winnow_overlap_pairs(
        spark.table("documents"), k=_WIN_K, w=_WIN_W,
        min_shared=_WIN_MIN_SHARED, max_fingerprint_df=_WIN_DF_CAP)
    return (pairs.select("doc_a", "doc_b",
                         F.col("shared_fingerprints").cast("bigint")
                         .alias("shared_fingerprints"))
            .orderBy(F.desc("shared_fingerprints"), F.asc("doc_a"), F.asc("doc_b"))
            .limit(50))


_def("winnow_fingerprint_overlap", _winnow_fn, _winnow_duck_sql(), "documents")


# -- 8. SimHash (16-bit, md5-nibble bits, ±1 votes per distinct token)
def _simhash_votes_duck(src: str, n_bits: int) -> str:
    """w/bits/votes CTEs: each doc's per-bit majority vote over the md5
    bits of its distinct words (bit b = bit b % 4 of hex digit b // 4)."""
    words = _words_expr("text", "duckdb")
    nibble = "strpos('0123456789abcdef', substring(h, CAST(floor(b / 4) AS INT) + 1, 1)) - 1"
    bit = f"(({nibble}) >> CAST(b % 4 AS INT)) & 1"
    return f"""w AS (
  SELECT doc_id, unnest(list_distinct({words})) AS word FROM {src}
), bits AS (
  SELECT doc_id, b, CASE WHEN ({bit}) = 1 THEN 1 ELSE -1 END AS v
  FROM (SELECT doc_id, md5(word) AS h FROM w) x, LATERAL (SELECT unnest(range(0, {n_bits})) AS b)
), votes AS (
  SELECT doc_id, b, CASE WHEN sum(v) > 0 THEN 1 ELSE 0 END AS vote_sign
  FROM bits GROUP BY doc_id, b
)"""


def _simhash_sql() -> str:
    return f"""
WITH {_simhash_votes_duck("documents", 16)}
SELECT doc_id, CAST(sum(CAST(vote_sign AS BIGINT) * CAST(pow(2, b) AS BIGINT)) AS BIGINT) AS simhash16
FROM votes GROUP BY doc_id
"""
def _simhash_fn(spark: SparkSession) -> DataFrame:
    return dedupe.simhash16(spark.table("documents"))


_def("dedup_simhash", _simhash_fn, _simhash_sql(), "documents")

# -- 8b. 64-bit SimHash near-duplicate pairs (the scale-safe banding:
#        4 bands × 16 bits → 65,536 buckets per band, vs the retired
#        16-bit sketch whose 4-bit bands capped at 16 buckets and made the
#        self-join all-pairs at corpus size). Corpus decorated with
#        constructed near-dups (every 50th doc reappears with one extra
#        token) so the pair set is non-trivial at sf0.01.
_SIMHASH64_DECORATE = """
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + 1000000 AS doc_id, text || ' zqxj' AS text
FROM documents WHERE doc_id % 50 = 0
"""


def _simhash64_sql_duck() -> str:
    band_sums = ",\n    ".join(
        f"CAST(sum(CASE WHEN b // 16 = {i} THEN vote_sign * CAST(pow(2, b % 16) AS BIGINT) "
        f"ELSE 0 END) AS BIGINT) AS s{i}"
        for i in range(4)
    )
    banded = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, s0, s1, s2, s3, {i} AS band, s{i} AS key FROM sketch"
        for i in range(4)
    )
    ham = " + ".join(f"bit_count(xor(a.s{i}, b.s{i}))" for i in range(4))
    return f"""
WITH dec AS ({_SIMHASH64_DECORATE}),
{_simhash_votes_duck("dec", 64)}, sketch AS (
  SELECT doc_id,
    {band_sums}
  FROM votes GROUP BY doc_id
), banded AS (
{banded}
), pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST({ham} AS BIGINT) AS hamming
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 3
"""


def _simhash64_fn(spark: SparkSession) -> DataFrame:
    dec = spark.sql(_SIMHASH64_DECORATE)
    pairs = dedupe.simhash64_near_pairs(dec, max_hamming=3)
    return pairs.select("doc_a", "doc_b", F.col("hamming").cast("bigint").alias("hamming"))


_def("dedup_simhash64", _simhash64_fn, _simhash64_sql_duck(), "documents")

# -- 9. brute-force cosine top-k ANN (ranks only; floats never emitted)
def _ann_sql() -> str:
    return f"""
WITH sims AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         {_cosine()} AS sim
  FROM embeddings a JOIN embeddings b ON a.vec_id < 8 AND b.vec_id <> a.vec_id
)
{_topk_per_query_duck("sims", "sim DESC", 5)}"""
def _ann_fn(spark: SparkSession) -> DataFrame:
    vectors = spark.table("embeddings")
    queries_df = vectors.filter("vec_id < 8")
    return similarity.brute_force_topk(vectors, queries_df, k=5).select(
        "query_id", "neighbor_id", "rank"
    )


_def("ann_cosine_topk", _ann_fn, _ann_sql(), "embeddings")

# -- 10. IVF-bucketed ANN (coarse quantize to 16 leader centroids, search
#        only the query's cell — the 100TB-scale path vs brute force)
def _ivf_sql() -> str:
    cos = _cosine("v.embedding", "c.embedding")
    cos_q = _cosine("q.embedding", "v.embedding")
    return f"""
WITH centroids AS (
  SELECT vec_id AS cid, embedding FROM embeddings WHERE vec_id < 16
), assign AS (
{_nearest_duck(f"{cos} DESC", "embeddings", "centroids")}
), q AS (
  SELECT a.vec_id AS query_id, a.cid FROM assign a WHERE a.vec_id < 8
)
SELECT query_id, neighbor_id, rank FROM (
  SELECT qq.query_id, v.vec_id AS neighbor_id,
         row_number() OVER (PARTITION BY qq.query_id
                            ORDER BY {cos_q} DESC, v.vec_id ASC) AS rank
  FROM q qq
  JOIN assign av ON av.cid = qq.cid AND av.vec_id <> qq.query_id
  JOIN embeddings v ON v.vec_id = av.vec_id
  JOIN embeddings q ON q.vec_id = qq.query_id) r
WHERE rank <= 3
"""
def _ivf_fn(spark: SparkSession) -> DataFrame:
    vectors = spark.table("embeddings")
    centroids = vectors.filter("vec_id < 16").select(
        F.col("vec_id").alias("cid"), "embedding"
    )
    queries_df = vectors.filter("vec_id < 8")
    return similarity.ivf_topk(vectors, queries_df, centroids, k=3).select(
        "query_id", "neighbor_id", "rank"
    )


_def("ann_ivf_topk", _ivf_fn, _ivf_sql(), "embeddings")


# -- 10-bis. ANN recall evaluation (operators/similarity.py
#            ann_recall_report): the IVF path graded against exact
#            brute-force top-3 per query — integer hit counts only.
#            The twin AGGREGATES the two existing twins as subqueries
#            (one source each; the brute-force twin's top-5 is
#            re-filtered to top-3, a strict prefix under the shared
#            (sim desc, id asc) total order).
def _ann_recall_fn(spark: SparkSession) -> DataFrame:
    # REUSE the two sibling entries (one source each — drifting either
    # original would otherwise silently desynchronize this entry from
    # the twins its SQL aggregates): exact = the brute-force entry's
    # top-5 prefix-filtered to top-3 (a strict prefix under the shared
    # (sim desc, id asc) total order), approx = the IVF entry verbatim.
    exact = _ann_fn(spark).filter("rank <= 3")
    approx = _ivf_fn(spark)
    return similarity.ann_recall_report(approx, exact)


def _ann_recall_duck_sql() -> str:
    return f"""
WITH exact AS (
  SELECT DISTINCT query_id, neighbor_id FROM ({_ann_sql()}) e
  WHERE rank <= 3
), approx AS (
  SELECT DISTINCT query_id, neighbor_id FROM ({_ivf_sql()}) a
), hits AS (
  SELECT e.query_id, CAST(COUNT(*) AS BIGINT) AS n_hits
  FROM exact e
  JOIN approx a ON a.query_id = e.query_id
              AND a.neighbor_id = e.neighbor_id
  GROUP BY e.query_id
), ec AS (
  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_exact
  FROM exact GROUP BY query_id
), ac AS (
  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_approx
  FROM approx GROUP BY query_id
)
SELECT ec.query_id, ec.n_exact,
       CAST(COALESCE(ac.n_approx, 0) AS BIGINT) AS n_approx,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits
FROM ec
LEFT JOIN ac ON ac.query_id = ec.query_id
LEFT JOIN hits h ON h.query_id = ec.query_id
"""


_def("ann_recall_report", _ann_recall_fn, _ann_recall_duck_sql(), "embeddings")

# -- 10b. k-means IVF quantizer training (deterministic Lloyd, exact mode:
#         order-fixed member folds so centroid doubles — and therefore the
#         final assignments — are bit-identical across engines). Output is
#         integers only (per-cell member count + id sum), but equality
#         transitively pins the full iterative float computation.
_KM_K = 8
_KM_ITERS = 2


def _km_duck_sql() -> str:
    d2 = ("list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
          "list_transform(list_zip(v.embedding, c.c_vec), "
          "p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) "
          "* (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))), (acc, x) -> acc + x)")
    fold = ("list_reduce(list_prepend(list_transform(ms[1], x -> CAST(0.0 AS DOUBLE)), ms), "
            "(acc, m) -> list_transform(list_zip(acc, m), p -> p[1] + CAST(p[2] AS DOUBLE)))")
    near = f"({d2}) ASC"
    parts = [f"""
cent0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS cid,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS c_vec
  FROM embeddings ORDER BY vec_id LIMIT {_KM_K}
)"""]
    for i in range(_KM_ITERS):
        parts.append(f"""
assign{i} AS (
{_nearest_duck(near, "embeddings", f"cent{i}", carry="embedding")}
),
new{i} AS (
  SELECT cid, list_transform({fold}, s -> s / n) AS c_vec FROM (
    SELECT cid, count(*) AS n,
           list(embedding ORDER BY vec_id) AS ms
    FROM assign{i} GROUP BY cid) g
),
cent{i + 1} AS (
  SELECT o.cid, COALESCE(n.c_vec, o.c_vec) AS c_vec
  FROM cent{i} o LEFT JOIN new{i} n USING (cid)
)""")
    final_assign = f"""
final_assign AS (
{_nearest_duck(near, "embeddings", f"cent{_KM_ITERS}")}
)"""
    return f"""
WITH {','.join(parts)},{final_assign}
SELECT cid, CAST(count(*) AS BIGINT) AS n_members,
       CAST(sum(vec_id) AS BIGINT) AS id_sum
FROM final_assign GROUP BY cid
"""


def _km_fn(spark: SparkSession) -> DataFrame:
    vectors = spark.table("embeddings")
    cents = similarity.kmeans_centroids(vectors, k=_KM_K, iters=_KM_ITERS,
                                        exact=True)
    scored = vectors.crossJoin(
        cents.select("cid", F.col("embedding").alias("c_vec"))
    ).withColumn("d", similarity._l2sq(F.col("embedding"), F.col("c_vec")))
    assign = top_k(scored, 1, [F.asc("d"), F.asc("cid")], by=["vec_id"],
                   rank="rn").select("vec_id", "cid")
    return (assign.groupBy("cid")
            .agg(F.count("*").cast("bigint").alias("n_members"),
                 F.sum("vec_id").cast("bigint").alias("id_sum")))


_def("ann_kmeans_ivf", _km_fn, _km_duck_sql(), "embeddings")


# -- 10c. product quantization end-to-end (train → encode → asymmetric-
#         distance top-k; operators/similarity.py:179-285). Oracle
#         discipline: exact-mode per-subspace k-means (order-fixed folds →
#         bit-identical codebook doubles), m=2 so the per-neighbor distance
#         is a single two-term double addition (bitwise commutative — no
#         accumulation-order hazard), rank-only integer output.
_PQ_M, _PQ_K, _PQ_SUB, _PQ_TOPK = 2, 4, 32, 10


def _pq_d2_duck(a: str, b: str) -> str:
    return ("list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(list_zip({a}, {b}), "
            "p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) "
            "* (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))), "
            "(acc, x) -> acc + x)")


def _pq_train_parts_duck(m: int, k: int, sub_w: int,
                         src: str = "embeddings") -> list[str]:
    """The exact-mode per-subspace k-means (iters=1) + final code CTEs —
    shared by the PQ and IVF-PQ oracles (sub{j}/cent{j}_*/code{j}).
    ``src`` is the (vec_id, embedding) relation to train/encode over —
    the residual oracle substitutes its residual CTE here."""
    fold = ("list_reduce(list_prepend(list_transform(ms[1], x -> CAST(0.0 AS DOUBLE)), ms), "
            "(acc, m) -> list_transform(list_zip(acc, m), p -> p[1] + CAST(p[2] AS DOUBLE)))")
    near = f"({_pq_d2_duck('v.sv', 'c.c_vec')}) ASC"
    parts = []
    for j in range(m):
        lo, hi = j * sub_w + 1, (j + 1) * sub_w
        sv = f"list_slice(embedding, {lo}, {hi})"
        parts.append(f"""
sub{j} AS (
  SELECT vec_id, {sv} AS sv FROM {src}
),
cent{j}_0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS cid,
         list_transform(sv, x -> CAST(x AS DOUBLE)) AS c_vec
  FROM sub{j} ORDER BY vec_id LIMIT {k}
),
assign{j}_0 AS (
{_nearest_duck(near, f"sub{j}", f"cent{j}_0", carry="sv")}
),
new{j}_0 AS (
  SELECT cid, list_transform({fold}, s -> s / n) AS c_vec FROM (
    SELECT cid, count(*) AS n, list(sv ORDER BY vec_id) AS ms
    FROM assign{j}_0 GROUP BY cid) g
),
cent{j}_1 AS (
  SELECT o.cid, COALESCE(n.c_vec, o.c_vec) AS c_vec
  FROM cent{j}_0 o LEFT JOIN new{j}_0 n USING (cid)
),
code{j} AS (
{_nearest_duck(near, f"sub{j}", f"cent{j}_1")}
)""")
    return parts


def _pq_duck_sql() -> str:
    d2 = _pq_d2_duck
    parts = _pq_train_parts_duck(_PQ_M, _PQ_K, _PQ_SUB)
    for j in range(_PQ_M):
        lo, hi = j * _PQ_SUB + 1, (j + 1) * _PQ_SUB
        sv = f"list_slice(embedding, {lo}, {hi})"
        parts.append(f"""
qd{j} AS (
  SELECT c.cid, ({d2('q.sv', 'c.c_vec')}) AS qd
  FROM cent{j}_1 c
  CROSS JOIN (SELECT {sv} AS sv FROM embeddings WHERE vec_id = 0) q
)""")
    return f"""
WITH {','.join(parts)},
dist AS (
  SELECT c0.vec_id AS neighbor_id, q0.qd + q1.qd AS adist
  FROM code0 c0 JOIN code1 c1 USING (vec_id)
  JOIN qd0 q0 ON q0.cid = c0.cid
  JOIN qd1 q1 ON q1.cid = c1.cid
)
SELECT neighbor_id,
       CAST(row_number() OVER (ORDER BY adist ASC, neighbor_id ASC) AS INT) AS rank
FROM dist ORDER BY adist ASC, neighbor_id ASC LIMIT {_PQ_TOPK}
"""


def _pq_fn(spark: SparkSession) -> DataFrame:
    vectors = spark.table("embeddings")
    books = similarity.pq_train(vectors, m=_PQ_M, k=_PQ_K, iters=1, exact=True)
    codes = similarity.pq_encode(vectors, books, m=_PQ_M)
    qrow = vectors.filter("vec_id = 0").select("embedding").first()
    return similarity.pq_topk(
        codes, books, [float(x) for x in qrow["embedding"]],
        k=_PQ_TOPK, m=_PQ_M)


_def("ann_pq_topk", _pq_fn, _pq_duck_sql(), "embeddings")


# -- 10d. IVF-PQ composition (operators/similarity.py ivfpq_index/
#         ivfpq_topk): the real 10⁹-vector architecture — route each query
#         to nprobe coarse cells, asymmetric-distance PQ-scan only those
#         cells' codes. Oracle discipline: fixed coarse centroids
#         (vec_id < 8 — k-means training is already oracle-gated by
#         ann_kmeans_ivf, so this row isolates the COMPOSITION), m=2
#         (two-term adist addition, commutative-safe), exact-mode PQ
#         training, rank-only output.
_IVFPQ_NPROBE, _IVFPQ_TOPK, _IVFPQ_NQ = 2, 5, 4


def _ivfpq_coarse(vectors: DataFrame) -> DataFrame:
    """The fixed coarse centroids of both IVF-PQ entries: vec_id < 8."""
    return vectors.filter("vec_id < 8").select(
        F.col("vec_id").cast("int").alias("cid"), "embedding")


def _ivfpq_fn(spark: SparkSession) -> DataFrame:
    vectors = spark.table("embeddings")
    coarse = _ivfpq_coarse(vectors)
    books = similarity.pq_train(vectors, m=_PQ_M, k=_PQ_K, iters=1, exact=True)
    index = similarity.ivfpq_index(vectors, coarse, books, m=_PQ_M)
    return similarity.ivfpq_topk(
        index, coarse, books, vectors.filter(f"vec_id < {_IVFPQ_NQ}"),
        k=_IVFPQ_TOPK, nprobe=_IVFPQ_NPROBE, m=_PQ_M)


def _ivfpq_probe_ctes() -> str:
    """The coarse/cellassign/probes CTEs of both IVF-PQ oracles."""
    cos_vc = _cosine("v.embedding", "c.embedding")
    cos_qc = _cosine("q.embedding", "c.embedding")
    return f"""
coarse AS (
  SELECT CAST(vec_id AS INT) AS cid, embedding FROM embeddings WHERE vec_id < 8
),
cellassign AS (
{_nearest_duck(f"({cos_vc}) DESC", "embeddings", "coarse", "cid AS cell")}
),
probes AS (
  SELECT query_id, cid AS cell FROM (
    SELECT q.vec_id AS query_id, c.cid,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY ({cos_qc}) DESC, c.cid ASC) AS rn
    FROM embeddings q CROSS JOIN coarse c WHERE q.vec_id < {_IVFPQ_NQ}) p
  WHERE rn <= {_IVFPQ_NPROBE}
)"""


def _ivfpq_duck_sql() -> str:
    d2 = _pq_d2_duck
    parts = [_ivfpq_probe_ctes()]
    parts += _pq_train_parts_duck(_PQ_M, _PQ_K, _PQ_SUB)
    for j in range(_PQ_M):
        lo, hi = j * _PQ_SUB + 1, (j + 1) * _PQ_SUB
        parts.append(f"""
qd{j} AS (
  SELECT q.vec_id AS query_id, c.cid,
         ({d2('q.sv', 'c.c_vec')}) AS qd
  FROM cent{j}_1 c
  CROSS JOIN (SELECT vec_id, list_slice(embedding, {lo}, {hi}) AS sv
              FROM embeddings WHERE vec_id < {_IVFPQ_NQ}) q
)""")
    return f"""
WITH {','.join(parts)},
dist AS (
  SELECT p.query_id, a.vec_id AS neighbor_id, q0.qd + q1.qd AS adist
  FROM probes p
  JOIN cellassign a ON a.cell = p.cell AND a.vec_id <> p.query_id
  JOIN code0 c0 ON c0.vec_id = a.vec_id
  JOIN code1 c1 ON c1.vec_id = a.vec_id
  JOIN qd0 q0 ON q0.query_id = p.query_id AND q0.cid = c0.cid
  JOIN qd1 q1 ON q1.query_id = p.query_id AND q1.cid = c1.cid
)
{_topk_per_query_duck("dist", "adist ASC", _IVFPQ_TOPK)}"""


_def("ann_ivfpq_topk", _ivfpq_fn, _ivfpq_duck_sql(), "embeddings")


# -- 10e. RESIDUAL IVF-PQ (operators/similarity.py ivfpq_train_residual/
#         ivfpq_index_residual/ivfpq_topk_residual): the production-grade
#         Faiss-style variant — PQ codebooks trained on (v − cell
#         centroid) residuals, query distance tables computed per PROBED
#         CELL from (q − c). Same oracle discipline as 10d: fixed coarse
#         centroids (vec_id < 8), m=2 (two-term adist addition —
#         commutative-safe), exact-mode PQ training over the residual
#         frame, rank-only output. float→double conversion is exact and
#         the residual subtraction runs in double in BOTH engines, so the
#         codebook doubles stay bit-identical.
def _ivfpq_res_fn(spark: SparkSession) -> DataFrame:
    vectors = spark.table("embeddings")
    coarse = _ivfpq_coarse(vectors)
    books = similarity.ivfpq_train_residual(
        vectors, coarse, m=_PQ_M, k=_PQ_K, iters=1, exact=True)
    index = similarity.ivfpq_index_residual(vectors, coarse, books, m=_PQ_M)
    return similarity.ivfpq_topk_residual(
        index, coarse, books, vectors.filter(f"vec_id < {_IVFPQ_NQ}"),
        k=_IVFPQ_TOPK, nprobe=_IVFPQ_NPROBE, m=_PQ_M)


def _ivfpq_res_duck_sql() -> str:
    d2 = _pq_d2_duck
    parts = [_ivfpq_probe_ctes() + """,
res AS (
  SELECT v.vec_id,
         list_transform(list_zip(v.embedding, c.embedding),
                        z -> CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))
           AS embedding
  FROM embeddings v
  JOIN cellassign a ON a.vec_id = v.vec_id
  JOIN coarse c ON c.cid = a.cell
),
qres AS (
  SELECT p.query_id, p.cell,
         list_transform(list_zip(q.embedding, c.embedding),
                        z -> CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))
           AS q_res
  FROM probes p
  JOIN embeddings q ON q.vec_id = p.query_id
  JOIN coarse c ON c.cid = p.cell
)"""]
    parts += _pq_train_parts_duck(_PQ_M, _PQ_K, _PQ_SUB, src="res")
    for j in range(_PQ_M):
        lo, hi = j * _PQ_SUB + 1, (j + 1) * _PQ_SUB
        parts.append(f"""
qd{j} AS (
  SELECT r.query_id, r.cell, c.cid,
         ({d2(f'list_slice(r.q_res, {lo}, {hi})', 'c.c_vec')}) AS qd
  FROM cent{j}_1 c CROSS JOIN qres r
)""")
    return f"""
WITH {','.join(parts)},
dist AS (
  SELECT p.query_id, a.vec_id AS neighbor_id, q0.qd + q1.qd AS adist
  FROM probes p
  JOIN cellassign a ON a.cell = p.cell AND a.vec_id <> p.query_id
  JOIN code0 c0 ON c0.vec_id = a.vec_id
  JOIN code1 c1 ON c1.vec_id = a.vec_id
  JOIN qd0 q0 ON q0.query_id = p.query_id AND q0.cell = p.cell
             AND q0.cid = c0.cid
  JOIN qd1 q1 ON q1.query_id = p.query_id AND q1.cell = p.cell
             AND q1.cid = c1.cid
)
{_topk_per_query_duck("dist", "adist ASC", _IVFPQ_TOPK)}"""


_def("ann_ivfpq_residual_topk", _ivfpq_res_fn, _ivfpq_res_duck_sql(), "embeddings")


# -- 11. embedding nearest-neighbor per vector (near-dup scan, rank-1 only)
def _nn_sql() -> str:
    cos = _cosine()
    return f"""
SELECT vec_id, nn_id FROM (
  SELECT a.vec_id, b.vec_id AS nn_id,
         row_number() OVER (PARTITION BY a.vec_id
                            ORDER BY {cos} DESC, b.vec_id ASC) AS rn
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
  WHERE a.vec_id < 64) t
WHERE rn = 1
"""
def _nn_fn(spark: SparkSession) -> DataFrame:
    vectors = spark.table("embeddings")
    queries_df = vectors.filter("vec_id < 64")
    return similarity.brute_force_topk(vectors, queries_df, k=1).select(
        F.col("query_id").alias("vec_id"), F.col("neighbor_id").alias("nn_id")
    )


_def("embedding_nearest_neighbor", _nn_fn, _nn_sql(), "embeddings")

# -- 12. heuristic language-ID distribution (stopword profile scorer)
_LANG_STOPWORDS = {
    "en": ("the", "and", "of", "to", "is", "in", "that", "it", "with", "for"),
    "fr": ("le", "la", "les", "des", "une", "est", "dans", "pour", "que", "qui"),
    "es": ("el", "los", "las", "una", "es", "en", "del", "por", "para", "con"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "eine", "mit", "auf"),
}
def _langid_sql(engine: str) -> str:
    count_fn = "size" if engine == "spark" else "len"
    def score(lang):
        body = "|".join(_LANG_STOPWORDS[lang])
        if engine == "spark":
            # Spark SQL string literals interpret backslash escapes → \\b
            return f"size(regexp_extract_all(lower(text), '\\\\b(?:{body})\\\\b', 0))"
        return f"len(regexp_extract_all(lower(text), '\\b(?:{body})\\b'))"
    scores = {lang: score(lang) for lang in _LANG_STOPWORDS}
    best = " ".join(
        f"WHEN s_{lang} >= s_en AND s_{lang} >= s_fr AND s_{lang} >= s_es AND s_{lang} >= s_de "
        f"AND s_{lang} > 0 THEN '{lang}'"
        for lang in ("de", "es", "fr", "en")  # reverse-alpha so earlier WHEN loses ties... see note
    )
    # deterministic tie-break: alphabetical wins → evaluate de,en,es,fr in
    # CASE order with >= comparisons is ambiguous; instead pick explicitly:
    return f"""
WITH scored AS (
  SELECT doc_id,
         {scores['en']} AS s_en, {scores['fr']} AS s_fr,
         {scores['es']} AS s_es, {scores['de']} AS s_de
  FROM documents
), best AS (
  SELECT doc_id,
    CASE
      WHEN s_de > s_en AND s_de > s_es AND s_de > s_fr AND s_de > 0 THEN 'de'
      WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de AND s_en > 0 THEN 'en'
      WHEN s_es >= s_fr AND s_es >= s_de AND s_es > 0 THEN 'es'
      WHEN s_fr >= s_de AND s_fr > 0 THEN 'fr'
      ELSE NULL END AS predicted_lang
  FROM scored
)
SELECT predicted_lang, count(*) AS n FROM best GROUP BY predicted_lang
"""
_def("langid_distribution", _langid_sql("spark"), _langid_sql("duckdb"), "documents")

# -- 13. token counting (whitespace + BPE-ish regex pieces)
def _tokens_sql(engine: str) -> str:
    words = _words_expr("text", engine)
    if engine == "spark":
        ws = f"size({words})"
        bpe = "size(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\\\s]', 0))"
    else:
        ws = f"len({words})"
        bpe = r"len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))"
    return f"""
SELECT doc_id, CAST({ws} AS BIGINT) AS ws_tokens, CAST({bpe} AS BIGINT) AS bpe_tokens,
       CAST(length(text) AS BIGINT) AS n_chars_computed
FROM documents
"""
_def("token_counts", _tokens_sql("spark"), _tokens_sql("duckdb"), "documents")

# -- 14. document fingerprint (normalized md5)
def _fingerprint_sql(engine: str) -> str:
    if engine == "spark":
        norm = "regexp_replace(lower(text), '[^a-z0-9]', '')"
    else:
        norm = "regexp_replace(lower(text), '[^a-z0-9]', '', 'g')"
    return f"SELECT doc_id, md5({norm}) AS fingerprint FROM documents"
_def("doc_fingerprint", _fingerprint_sql("spark"), _fingerprint_sql("duckdb"),
     "documents")

# -- 15. readability quality gate (the sqlspec predicate, both engines)
def _quality_sql(engine: str) -> str:
    spec = sqlspec.readability_exprs("text", engine, min_ratio=0.4)
    return f"""
SELECT CASE WHEN {spec['is_readable']} THEN 'readable' ELSE 'unreadable' END AS verdict,
       count(*) AS n,
       CAST(sum({spec['n_valid']}) AS BIGINT) AS total_valid_words,
       CAST(sum({spec['n_words']}) AS BIGINT) AS total_words
FROM documents GROUP BY 1
"""
_def("quality_gate", _quality_sql("spark"), _quality_sql("duckdb"), "documents")

# -- 15b. quality feature vector (length / punctuation ratio / stopword
#         ratio / mean word length) — the task-brief quality-scoring
#         features as explicit columns. Ratios are single exact divisions
#         of integer counts (engine-identical doubles).
def _quality_features_sql(engine: str) -> str:
    words = _words_expr("text", engine)
    stop_body = "|".join(_LANG_STOPWORDS["en"] + _LANG_STOPWORDS["fr"])
    if engine == "spark":
        n_punct = "size(regexp_extract_all(text, '[.,;:!?]', 0))"
        n_stop = f"size(regexp_extract_all(lower(text), '\\\\b(?:{stop_body})\\\\b', 0))"
        n_words = f"size({words})"
        sum_word_len = (f"aggregate({words}, 0L, (acc, w) -> acc + length(w))")
    else:
        n_punct = "len(regexp_extract_all(text, '[.,;:!?]'))"
        n_stop = f"len(regexp_extract_all(lower(text), '\\b(?:{stop_body})\\b'))"
        n_words = f"len({words})"
        sum_word_len = (
            f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
            f"list_transform({words}, w -> CAST(length(w) AS BIGINT))), "
            f"(acc, v) -> acc + v)")
    return f"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars_q,
       CAST({n_words} AS BIGINT) AS n_words,
       CASE WHEN length(text) = 0 THEN 0.0
            ELSE CAST({n_punct} AS DOUBLE) / length(text) END AS punct_ratio,
       CASE WHEN {n_words} = 0 THEN 0.0
            ELSE CAST({n_stop} AS DOUBLE) / {n_words} END AS stopword_ratio,
       CASE WHEN {n_words} = 0 THEN 0.0
            ELSE CAST({sum_word_len} AS DOUBLE) / {n_words} END AS mean_word_len
FROM documents
"""


_def("text_quality_features", _quality_features_sql("spark"),
     _quality_features_sql("duckdb"), "documents")


# -- 16. profile → adaptive strategy distribution (decorated corpus hits
#        every reachable branch of the selector decision tree; the
#        high_structure_score branch is unreachable from real text — any
#        profile scoring >0.6 also trips an earlier branch). Spark runs
#        the operators (profiler.with_profile → strategy.with_strategy);
#        DuckDB re-derives the ladder.
# dialect-neutral decoration (chr/repeat/|| work in both engines) reused by
# strategy_distribution and strategy_distribution_ml
_NL = "chr(10)"
_STRATEGY_DECORATE = f"""
SELECT doc_id, CASE CAST(doc_id % 7 AS INT)
  WHEN 0 THEN '# Titre' || {_NL} || '## Sous-section' || {_NL} || repeat(text || ' ', 15)
  WHEN 1 THEN 'sommaire ' || repeat(text || ' ', 10)
  WHEN 2 THEN repeat(text || ' ', 12) || {_NL} || '| a | b | c | d | e | f | g |'
  WHEN 3 THEN 'introduction ' || repeat(text || ' ', 80)
  WHEN 4 THEN text
  WHEN 5 THEN 'conclusion ' || repeat(text || ' ', 20)
  ELSE 'caractéristiques ' || repeat(text || ' ', 15) END AS text
FROM documents
"""


def _profile_sql() -> dict[str, str]:
    """The profiler's structural features (operators/profiler.py, same
    regexes) as DuckDB SQL over ``text``: the heading test, the
    table-marker count and the heading depth."""
    md_depths = f"list_transform(regexp_extract_all(text, '{_MD_HEADER_RE}', 1), h -> length(h))"
    num_depths = (f"list_transform(regexp_extract_all(text, '{_NUM_SECTION_RE}', 1), "
                  "s -> len(string_split(s, '.')))")
    depth = (f"CASE WHEN len(list_concat({md_depths}, {num_depths})) > 0 "
             f"THEN list_max(list_concat({md_depths}, {num_depths})) ELSE 1 END")
    has_head = f"regexp_matches(text, '{_HEADING_RE}')"
    marks = ("((length(text) - length(replace(text, '|', ''))) + "
             "(length(text) - length(replace(text, chr(9), ''))) + "
             "(length(text) - length(replace(text, 'colonne', ''))) / 7 + "
             "(length(text) - length(replace(text, 'ligne', ''))) / 5)")
    return {"depth": depth, "has_head": has_head, "marks": marks}


def _strategy_sql() -> str:
    feat = _profile_sql()
    return f"""
WITH dec AS ({_STRATEGY_DECORATE}),
prof AS (
  SELECT doc_id,
    CASE
      WHEN lower(text) LIKE '%table des matières%' OR lower(text) LIKE '%sommaire%'
           OR lower(text) LIKE '%chapitre%' THEN 'rapport'
      WHEN lower(text) LIKE '%caractéristiques%' OR lower(text) LIKE '%spécifications%'
           OR lower(text) LIKE '%paramètres%' THEN 'fiche_technique'
      WHEN lower(text) LIKE '%introduction%' OR lower(text) LIKE '%conclusion%'
           OR lower(text) LIKE '%résumé%' THEN 'article'
      WHEN length(text) > 5000 THEN 'rapport'
      WHEN length(text) > 1000 THEN 'article'
      ELSE 'document_court' END AS doc_type,
    CAST(floor(length(text) / 4) AS BIGINT) AS length_tokens,
    {feat['has_head']} AS has_headings,
    {feat['marks']} > 5 AS has_tables,
    {feat['depth']} AS hdepth
  FROM dec
),
sel AS (
  SELECT doc_id,
    CASE
      WHEN length_tokens < 1000 THEN 'recursive'
      WHEN has_headings AND hdepth >= 2 THEN 'parent_child'
      WHEN doc_type IN ('fiche_technique', 'rapport') THEN 'semantic'
      WHEN has_tables THEN 'late'
      WHEN length_tokens > 5000 THEN 'semantic'
      ELSE 'recursive' END AS strategy,
    CASE
      WHEN length_tokens < 1000 THEN 'short_document'
      WHEN has_headings AND hdepth >= 2 THEN 'structured_document'
      WHEN doc_type IN ('fiche_technique', 'rapport') THEN 'technical_document'
      WHEN has_tables THEN 'tabular_content'
      WHEN length_tokens > 5000 THEN 'long_document'
      ELSE 'default_fallback' END AS reason
  FROM prof
)
SELECT strategy, reason, count(*) AS n FROM sel GROUP BY strategy, reason
"""


def _strategy_fn(spark: SparkSession) -> DataFrame:
    prof = profiler.with_profile(spark.sql(_STRATEGY_DECORATE), text_col="text")
    return (strategy.with_strategy(prof)
            .groupBy("strategy", F.col("strategy_reason").alias("reason"))
            .agg(F.count("*").alias("n")))


_def("strategy_distribution", _strategy_fn, _strategy_sql(), "documents")

# -- 16b. ML strategy classifier distribution (reference auto mode,
#         chunk.py:677-717). Spark runs the column-expression operator
#         (operators/ml_strategy.py); DuckDB re-derives the integer logits.
#         Integer scores make argmax + sums engine-exact; the confidence
#         double is one exact division and is NOT emitted (sums of doubles
#         are order-dependent) — sum_best/sum_total pin it instead.
def _ml_strategy_duck_sql() -> str:
    feat = _profile_sql()
    return f"""
WITH dec AS ({_STRATEGY_DECORATE}),
feat AS (
  SELECT doc_id,
    CAST(floor(length(text) / 4) AS BIGINT) AS t,
    CASE WHEN {feat['has_head']} THEN 1 ELSE 0 END AS h,
    CASE WHEN {feat['marks']} > 5
         THEN 1 ELSE 0 END AS tb,
    CASE WHEN regexp_matches(text, '{_LIST_RE}') THEN 1 ELSE 0 END AS ls,
    CAST({feat['depth']} AS BIGINT) AS d
  FROM dec
),
scores AS (
  SELECT doc_id,
    3*h + 2*tb + 2*d + 4*(CASE WHEN t >= 2000 THEN 1 ELSE 0 END) + ls AS s_semantic,
    2 + 3*(CASE WHEN t >= 500 AND t < 2000 THEN 1 ELSE 0 END)
      + (CASE WHEN t >= 2000 THEN 1 ELSE 0 END) AS s_sentence,
    1 + 4*(CASE WHEN t < 500 THEN 1 ELSE 0 END) AS s_token
  FROM feat
),
pred AS (
  SELECT
    CASE WHEN s_semantic >= s_sentence AND s_semantic >= s_token THEN 'semantic'
         WHEN s_sentence >= s_token THEN 'sentence'
         ELSE 'token' END AS ml_strategy,
    greatest(s_semantic, s_sentence, s_token) AS best,
    s_semantic + s_sentence + s_token AS total
  FROM scores
)
SELECT ml_strategy, count(*) AS n,
       CAST(sum(best) AS BIGINT) AS sum_best,
       CAST(sum(total) AS BIGINT) AS sum_total
FROM pred GROUP BY ml_strategy
"""


def _ml_strategy_fn(spark: SparkSession) -> DataFrame:
    dec = spark.sql(_STRATEGY_DECORATE)
    scored = ml_strategy.with_ml_strategy(dec, text_col="text")
    best = F.greatest(*[F.col(f"ml_score_{c}") for c in ml_strategy.ML_CLASSES])
    total = sum(F.col(f"ml_score_{c}") for c in ml_strategy.ML_CLASSES)
    return (
        scored.select("ml_strategy", best.alias("best"), total.alias("total"))
        .groupBy("ml_strategy")
        .agg(F.count("*").alias("n"),
             F.sum("best").cast("bigint").alias("sum_best"),
             F.sum("total").cast("bigint").alias("sum_total"))
    )


_def("strategy_distribution_ml", _ml_strategy_fn, _ml_strategy_duck_sql(), "documents")


# -- 17. resume anti-join (retry semantics: history.py:311-328)
_RESUME = """
SELECT count(*) AS remaining, CAST(sum(n_chars) AS BIGINT) AS remaining_chars
FROM documents d
WHERE NOT EXISTS (
  SELECT 1 FROM documents c WHERE c.doc_id = d.doc_id AND c.doc_id % 7 < 3)
"""
_def("resume_antijoin", _RESUME, _RESUME, "documents")

# -- 18. top-k recent/display limit (chunk.py:364-372, chunking_logger top-n)
_TOPK = """
SELECT event_id, event_type, CAST(value AS DOUBLE) AS value
FROM events ORDER BY value DESC, event_id ASC LIMIT 10
"""
_def("topk_events", _TOPK, _TOPK, "events")

# -- 19. sessionization (window/lag over event-time per user)
_SESSION = """
SELECT user_id, count(*) AS n_events,
       CAST(1 + sum(CASE WHEN prev_ts IS NOT NULL
                          AND CAST(ts AS TIMESTAMP) > CAST(prev_ts AS TIMESTAMP) + INTERVAL 30 MINUTE
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
FROM (
  SELECT user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_ts
  FROM events) t
GROUP BY user_id
"""
_SESSION_DUCK = _SESSION.replace("INTERVAL 30 MINUTE", "INTERVAL 30 MINUTES")


def _sessionize_fn(spark: SparkSession) -> DataFrame:
    s = sessions.sessionize(spark.table("events"), gap_minutes=30)
    return s.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.max("session_seq").cast("bigint").alias("n_sessions"),
    )


# Spark side runs the first-class operator (operators/sessions.py); the
# DuckDB SQL twin pins the gap/boundary semantics value-for-value.
_def("sessionize_events", _sessionize_fn, _SESSION_DUCK, "events")

# -- 20. broadcast-dim join + top-k revenue (chunk→doc FK re-attach pattern)
_TOPCUST = """
SELECT c.c_name AS name,
       CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_name
ORDER BY revenue DESC, name ASC LIMIT 10
"""
_def("top_customers", _TOPCUST, _TOPCUST, "orders", "customer")

# -- 21. pricing-summary style aggregation (counters pivot, decimal-exact)
_PRICING = """
SELECT l_returnflag, l_linestatus,
       count(*) AS n,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""
_def("pricing_summary", _PRICING, _PRICING, "lineitem")

# -- 22. char-window chunker fully in SQL (token-strategy fallback,
#        chunker.py:39-56: window 200 chars, step 160) — JVM-only chunking
def _window_chunks_sql(engine: str) -> str:
    if engine == "spark":
        starts = "explode(sequence(0, CAST(length(text) - 1 AS BIGINT), 160))"
        src = f"(SELECT doc_id, text, {starts} AS start FROM documents WHERE length(text) > 0) t"
    else:
        src = ("(SELECT doc_id, text, unnest(range(0, CAST(length(text) AS BIGINT), 160)) AS start\n"
               "      FROM documents WHERE length(text) > 0) t")
    return f"""
SELECT doc_id, CAST(start / 160 AS BIGINT) AS chunk_index,
       CAST(start AS BIGINT) AS char_start,
       CAST(least(start + 200, length(text)) AS BIGINT) AS char_end,
       substring(text, CAST(start AS INT) + 1, 200) AS chunk_text
FROM {src}
"""
_def("window_chunks_sql", _window_chunks_sql("spark"),
     _window_chunks_sql("duckdb"), "documents")


# -- 23. BM25 scoring + reciprocal-rank fusion with vector search (the
#        hybrid-retrieval tier, reference src/core/rag/hybrid_search.py:
#        37-130: BM25 k1=1.5 b=0.75, weights 0.5/0.5). Ranks only — the
#        fusion score is computed from integer ranks (RRF k=60), so doubles
#        are bit-identical across engines.
_BM25_TERMS = ("spark", "query", "fast", "table")


def _bm25_duck(terms, keys) -> tuple[str, str, str]:
    """DuckDB BM25 (k1=1.5, b=0.75) pieces for ``terms``, columns suffixed
    by ``keys``: the per-doc tf columns, the df aggregates, and the score
    over ``d`` (tf_*, dl) and ``s`` (n_docs, avgdl, df_*)."""
    tf_cols = ", ".join(
        f"len(regexp_extract_all(lower(text), '\\b{t}\\b')) AS tf_{k}"
        for t, k in zip(terms, keys))
    df_cols = ", ".join(
        f"sum(CASE WHEN tf_{k} > 0 THEN 1 ELSE 0 END) AS df_{k}" for k in keys)
    # idf = ln((N - df + 0.5)/(df + 0.5) + 1); score contribution per term
    score = " + ".join(
        f"(ln((s.n_docs - s.df_{k} + 0.5) / (s.df_{k} + 0.5) + 1) "
        f"* d.tf_{k} * 2.5 / (d.tf_{k} + 1.5 * (0.25 + 0.75 * d.dl / s.avgdl)))"
        for k in keys)
    return tf_cols, df_cols, score


def _bm25_hybrid_sql() -> str:
    dl = f"len({_words_expr('text', 'duckdb')})"
    tf_cols, df_cols, score_terms = _bm25_duck(_BM25_TERMS, _BM25_TERMS)
    cos = _cosine("q.embedding", "e.embedding")
    return f"""
WITH docs AS (
  SELECT doc_id, {tf_cols}, {dl} AS dl FROM documents
), stats AS (
  SELECT count(*) AS n_docs,
         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
         {df_cols}
  FROM docs
), bm25 AS (
  SELECT d.doc_id,
         row_number() OVER (ORDER BY ({score_terms}) DESC, d.doc_id ASC) AS bm25_rank
  FROM docs d CROSS JOIN stats s
), vec AS (
  SELECT e.vec_id AS doc_id,
         row_number() OVER (ORDER BY ({cos}) DESC, e.vec_id ASC) AS vec_rank
  FROM embeddings e JOIN embeddings q ON q.vec_id = 0 AND e.vec_id <> 0
), fused AS (
  SELECT b.doc_id,
         0.5 / (60 + b.bm25_rank) + 0.5 / (60 + v.vec_rank) AS rrf
  FROM bm25 b JOIN vec v ON b.doc_id = v.doc_id
)
SELECT doc_id, rank FROM (
  SELECT doc_id, row_number() OVER (ORDER BY rrf DESC, doc_id ASC) AS rank
  FROM fused) t
WHERE rank <= 10
"""
def _bm25_hybrid_fn(spark: SparkSession) -> DataFrame:
    docs = spark.table("documents")
    vectors = spark.table("embeddings").filter("vec_id <> 0")
    query = spark.table("embeddings").filter("vec_id = 0")
    return retrieval.hybrid_search(
        docs, vectors, list(_BM25_TERMS), query,
        config=retrieval.HybridConfig(k=10),
        # exact full-corpus mode: this query IS the oracle ground truth
        # (the operator's default is the bounded scale path)
        candidate_limit=None,
    )


# Spark side runs the first-class operator (operators/retrieval.py); the
# DuckDB SQL twin pins BM25 (k1=1.5, b=0.75) + RRF (k=60) value-for-value.
_def("hybrid_bm25_rrf", _bm25_hybrid_fn, _bm25_hybrid_sql(), "documents", "embeddings")

# -- 23b. query-expansion retrieval (reference QueryExpansionRetriever:
#         expand → BM25 top-k per expansion → merge in expansion order,
#         dedup, cap). The synonym expansion of the fixed query is
#         deterministic, so the DuckDB twin is generated from the same
#         expanded list the Spark operator will produce.
_EXPANSION_QUERY = "what is spark query"
_EXPANSION_K_PER = 4
_EXPANSION_FINAL_K = 8


def _expander() -> rag_extras.QueryExpander:
    return rag_extras.QueryExpander(
        rag_extras.QueryExpansionConfig(strategy="synonyms", num_queries=3))


def _expanded_terms() -> list[list[str]]:
    return [rag_extras._query_terms(q)
            for q in _expander().expand(_EXPANSION_QUERY)]


def _expansion_legs_duck(top) -> str:
    """``WITH`` one BM25 leg per expansion of the fixed query (d{i}/s{i}
    CTEs, then t{i} = ``top(i, score)``), merged by UNION ALL."""
    expansions = _expanded_terms()
    words = _words_expr("text", "duckdb")
    legs = []
    for i, terms in enumerate(expansions):
        tf_cols, df_cols, score = _bm25_duck(terms, range(len(terms)))
        legs.append(f"""
d{i} AS (SELECT doc_id, {tf_cols}, len({words}) AS dl FROM documents),
s{i} AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl, {df_cols} FROM d{i}),
t{i} AS ({top(i, score)})""")
    union = "\nUNION ALL\n".join(
        f"SELECT * FROM t{i}" for i in range(len(expansions)))
    return f"""
WITH {','.join(legs)},
merged AS ({union})"""


def _expansion_duck_sql() -> str:
    legs = _expansion_legs_duck(lambda i, score: f"""
  SELECT doc_id, {i} AS expansion_idx FROM d{i} d CROSS JOIN s{i} s
  ORDER BY ({score}) DESC, doc_id ASC LIMIT {_EXPANSION_K_PER}
""")
    return f"""{legs},
dedup AS (
  SELECT doc_id, min(expansion_idx) AS expansion_idx
  FROM merged GROUP BY doc_id
),
final AS (
  SELECT doc_id, expansion_idx FROM dedup
  ORDER BY expansion_idx, doc_id ASC LIMIT {_EXPANSION_FINAL_K}
)
SELECT doc_id, CAST(expansion_idx AS INT) AS expansion_idx,
       CAST(row_number() OVER (ORDER BY expansion_idx, doc_id ASC) AS BIGINT) AS rank
FROM final
"""


def _expansion_fn(spark: SparkSession) -> DataFrame:
    out = rag_extras.expansion_search(
        spark.table("documents"), _EXPANSION_QUERY, _expander(),
        k_per_query=_EXPANSION_K_PER, final_k=_EXPANSION_FINAL_K)
    return out.select(
        "doc_id", F.col("expansion_idx").cast("int").alias("expansion_idx"),
        F.col("rank").cast("bigint").alias("rank"))


_def("rag_expansion_search", _expansion_fn, _expansion_duck_sql(), "documents")


# -- 23c. lexical-overlap reranker (reference reranker.py semantics with a
#         JVM scorer standing in for the cross-encoder): score, sort desc,
#         min_score filter, top_k.
_RERANK_QUERY = "spark query scan performance on the table"
_RERANK_TOP_K = 10
_RERANK_MIN = 0.25


def _rerank_duck_sql() -> str:
    terms = list(dict.fromkeys(
        w for w in re.findall(r"\w+", _RERANK_QUERY.lower()) if len(w) > 1))
    hits = " + ".join(
        f"(CASE WHEN regexp_matches(lower(text), '\\b{t}\\b') THEN 1 ELSE 0 END)"
        for t in terms)
    return f"""
WITH scored AS (
  SELECT doc_id, CAST(({hits}) AS DOUBLE) / {float(len(terms))} AS rerank_score
  FROM documents
),
top AS (
  SELECT doc_id, rerank_score FROM scored
  WHERE rerank_score >= {_RERANK_MIN}
  ORDER BY rerank_score DESC, doc_id ASC LIMIT {_RERANK_TOP_K}
)
SELECT doc_id, rerank_score,
       CAST(row_number() OVER (ORDER BY rerank_score DESC, doc_id ASC) AS BIGINT) AS rank
FROM top
"""


def _rerank_fn(spark: SparkSession) -> DataFrame:
    out = rag_extras.rerank(
        spark.table("documents").select("doc_id", "text"),
        rag_extras.lexical_overlap_score(_RERANK_QUERY),
        rag_extras.RerankerConfig(top_k=_RERANK_TOP_K, min_score=_RERANK_MIN))
    return out.select("doc_id", "rerank_score",
                      F.col("rank").cast("bigint").alias("rank"))


_def("rerank_lexical", _rerank_fn, _rerank_duck_sql(), "documents")


# -- 24. random-hyperplane LSH bucketing over embeddings (sign-bit sketch;
#        planes = vectors 8..15, deterministic). The scale path for
#        embedding near-dup: candidates only within a bucket.
def _plane_buckets_duck(sign: str) -> str:
    """``WITH`` bits/buckets: each vector's sign-bit bucket over the
    fixture planes (vec_id 8..15, see ``_emb_planes``), ``sign`` being the
    vector·plane expression whose sign sets the bit."""
    return f"""
WITH bits AS (
  SELECT v.vec_id, p.vec_id - 8 AS plane,
         CASE WHEN ({sign}) > 0 THEN 1 ELSE 0 END AS bit
  FROM embeddings v JOIN embeddings p ON p.vec_id BETWEEN 8 AND 15
), buckets AS (
  SELECT vec_id,
         CAST(sum(bit * CAST(pow(2, plane) AS BIGINT)) AS BIGINT) AS bucket
  FROM bits GROUP BY vec_id
)"""


def _hyperplane_sql() -> str:
    # sign bit of the raw dot product (denominator > 0 never flips sign,
    # so cosine vs dot is equivalent for the bit)
    return f"""{_plane_buckets_duck(_cosine("v.embedding", "p.embedding"))}
SELECT bucket, count(*) AS n_vectors
FROM buckets GROUP BY bucket HAVING count(*) > 1
"""
def _emb_planes(vectors: DataFrame) -> DataFrame:
    """The fixture hyperplane set (vec_id 8..15) — single-sourced across
    the bucket, near-dup pair and semantic-dedup entries."""
    return vectors.filter("vec_id BETWEEN 8 AND 15").select(
        (F.col("vec_id") - 8).alias("plane"), "embedding")


def _lsh_buckets_fn(spark: SparkSession) -> DataFrame:
    vectors = spark.table("embeddings")
    buckets = similarity.hyperplane_buckets(vectors, _emb_planes(vectors))
    return (
        buckets.groupBy("bucket").agg(F.count("*").alias("n_vectors"))
        .filter(F.col("n_vectors") > 1)
    )


_def("embedding_lsh_buckets", _lsh_buckets_fn, _hyperplane_sql(), "embeddings")


# -- 24b. embedding-cosine near-dup pairs (operators/dedupe.py
#         embedding_near_pairs): sign-LSH bucket join + exact cosine
#         threshold on candidates only. The synthetic embeddings are
#         near-orthogonal (max in-bucket cosine ≈ 0.46 at sf0.01), so the
#         gate uses a low threshold to keep the shape non-vacuous; output
#         is id pairs only (the threshold compare is bit-identical — both
#         engines fold the dot products sequentially).
_EMB_NEAR_THRESHOLD = 0.25


def _emb_near_sql() -> str:
    cos = _cosine("a2.embedding", "b2.embedding")
    return f"""{_plane_buckets_duck(_dot_duck("v.embedding", "p.embedding"))}, cand AS (
  SELECT x.vec_id AS id_a, y.vec_id AS id_b
  FROM buckets x JOIN buckets y
    ON x.bucket = y.bucket AND x.vec_id < y.vec_id
)
SELECT id_a, id_b
FROM cand
JOIN embeddings a2 ON a2.vec_id = id_a
JOIN embeddings b2 ON b2.vec_id = id_b
WHERE ({cos}) >= {_EMB_NEAR_THRESHOLD}
"""


def _emb_near_fn(spark: SparkSession) -> DataFrame:
    vectors = spark.table("embeddings")
    return dedupe.embedding_near_pairs(
        vectors, _emb_planes(vectors), threshold=_EMB_NEAR_THRESHOLD)


_def("embedding_near_dup", _emb_near_fn, _emb_near_sql(), "embeddings")


# -- 24c. SemDeDup-style semantic dedup (operators/dedupe.semantic_dedup):
#         the COMPOSED action on 24b's pairs — connected components over
#         the cosine near-dup graph, keep the min-id member per cluster.
#         Spark runs log-round label propagation; DuckDB proves it with
#         the same recursive-CTE transitive closure as dedup_clusters.
#         The pair-generation SQL is EMBEDDED from _emb_near_sql (one
#         source — a bucketing/threshold change cannot silently fork the
#         two twins), as is the Spark-side plane set (_emb_planes).
def _sem_dedup_fn(spark: SparkSession) -> DataFrame:
    vectors = spark.table("embeddings")
    out = dedupe.semantic_dedup(vectors, _emb_planes(vectors),
                                threshold=_EMB_NEAR_THRESHOLD)
    return out.select("vec_id")


def _sem_dedup_duck_sql() -> str:
    return f"""
WITH RECURSIVE prs AS (
  SELECT id_a, id_b FROM ({_emb_near_sql()}) emb_pairs
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM prs
  UNION
  SELECT id_b, id_a FROM prs
), reach(id, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id
), lab AS (
  SELECT id, min(r) AS root FROM reach GROUP BY id
), drops AS (
  SELECT id FROM lab WHERE id <> root
)
SELECT v.vec_id FROM embeddings v
ANTI JOIN drops ON v.vec_id = drops.id
"""


_def("semantic_dedup", _sem_dedup_fn, _sem_dedup_duck_sql(), "embeddings")

# -- 25. chunk-table eval stats (eval.py:144-181 over the SQL window
#        chunker's output — per-document chunk counts and span coverage)
def _chunk_stats_sql(engine: str) -> str:
    inner = _window_chunks_sql(engine)
    return f"""
WITH chunks AS ({inner})
SELECT count(*) AS n_chunks,
       count(DISTINCT doc_id) AS n_docs,
       CAST(max(chunk_index) + 1 AS BIGINT) AS max_chunks_per_doc,
       CAST(sum(char_end - char_start) AS BIGINT) AS covered_chars,
       CAST(min(char_end - char_start) AS BIGINT) AS min_chunk_len,
       CAST(max(char_end - char_start) AS BIGINT) AS max_chunk_len
FROM chunks
"""
_def("chunk_eval_stats", _chunk_stats_sql("spark"), _chunk_stats_sql("duckdb"),
     "documents")


# -- 26. routing-analyzer distribution (§2.6: scientific detector, OCR
#        quality categories, complexity strategy ladder). The Spark side
#        runs the production operator (operators/routing.py); the oracle
#        re-derives the same formulas in DuckDB SQL. Corpus decorated to
#        hit every branch (math symbols, garbage, tables, accents).
_GARBLE = "aJANe0 B,) x9TR4qz UONeIOeNEJ zzz qqq JSWXK bcdfgk ppqqrr wxyzkq "
_MATHY = "∫ x² dx = π ∑ α β γ ∂ ∇ théorème équation matrice intégrale "
_ROUTING_DECORATE = f"""
SELECT doc_id, CASE CAST(doc_id % 6 AS INT)
  WHEN 0 THEN text
  WHEN 1 THEN '{_MATHY}' || text
  WHEN 2 THEN '{_GARBLE}'
  WHEN 3 THEN text || ' | a | b |' || chr(9) || '| c | d | e | f | g | h | i |'
  WHEN 4 THEN '{_GARBLE}' || 'des mots normaux ici avec une phrase valide et claire pour le test'
  ELSE 'résumé équation dérivée à â é è ï ô ù ç œ ' || repeat('{_GARBLE}' || 'à é ' || chr(10) || 'ab' || chr(10) || 'cd' || chr(10), 8) || text END AS text
FROM documents
"""
# synthetic structural indicators (a transcript payload carries none; the
# query feeds deterministic values to exercise every engine branch)
# moduli coprime with the %6 decoration classes so every (class, indicator)
# combination occurs — e.g. nougat needs the mathy class plus image>0.6 and
# coverage<0.8 simultaneously
_ROUTING_INDICATORS = {
    "image_text_ratio": "CAST(doc_id % 5 AS DOUBLE) * 0.2",
    "ocr_coverage": "0.5 + CAST(doc_id % 7 AS DOUBLE) * 0.1",
    "file_size_mb": "CAST(doc_id % 4 AS DOUBLE) * 2.0",
}


def _routing_fn(spark: SparkSession) -> DataFrame:
    dec = spark.sql(_ROUTING_DECORATE.replace("chr(9)", "'\\t'").replace(
        "chr(10)", "'\\n'"))
    routed = routing_op.with_routing(
        dec,
        text_col="text",
        image_text_ratio=F.expr(_ROUTING_INDICATORS["image_text_ratio"]),
        ocr_coverage=F.expr(_ROUTING_INDICATORS["ocr_coverage"]),
        file_size_mb=F.expr(_ROUTING_INDICATORS["file_size_mb"]),
    )
    return routed.groupBy(
        "quality_category", "scientific_engine", "complexity_strategy"
    ).agg(F.count("*").alias("n"))


def _routing_duck_sql() -> str:
    spec = sqlspec.readability_exprs("text", "duckdb", min_ratio=0.4)
    vwr = spec["valid_word_ratio"]
    sym = f"len(regexp_extract_all(text, '[{MATH_SYMBOLS}]'))"
    eq = " + ".join(
        f"len(regexp_extract_all(text, '{p}'))" for p in EQUATION_PATTERNS
    ).replace("\\", "\\")
    kw = " + ".join(
        f"CASE WHEN lower(text) LIKE '%{k}%' THEN 1 ELSE 0 END"
        for k in SCIENTIFIC_KEYWORDS
    )
    return f"""
WITH dec AS ({_ROUTING_DECORATE}),
m AS (
  SELECT doc_id, text,
         {vwr} AS vwr,
         least((({sym}) * 0.1 + ({eq}) * 0.05 + ({kw}) * 0.02)
               / greatest(length(text) / 1000.0, 1.0), 1.0) AS math_score
  FROM dec
),
s AS (
  SELECT doc_id, text, vwr,
         least(math_score * 0.4
               + CASE WHEN ({_ROUTING_INDICATORS['image_text_ratio']}) > 0.6 THEN 0.3 ELSE 0.0 END
               + CASE WHEN ({_ROUTING_INDICATORS['ocr_coverage']}) < 0.8 THEN 0.2 ELSE 0.0 END
               + CASE WHEN ({_ROUTING_INDICATORS['file_size_mb']}) > 5.0 THEN 0.1 ELSE 0.0 END,
               1.0) AS sci_score
  FROM m
),
c AS (
  SELECT doc_id, vwr, sci_score,
         greatest(0.0, (100.0 - vwr * 100.0) / 100.0) AS confidence_factor,
         CAST(len(list_filter(string_split(text, chr(10)), ln -> length(ln) < 20)) AS DOUBLE)
           / greatest(len(string_split(text, chr(10))), 1) AS layout,
         least((length(text) - length(regexp_replace(text, '[|\t]', '', 'g')))
               / greatest(length(text) / 100.0, 1.0), 1.0) AS table_density,
         least(1.0,
               ((length(text) - length(regexp_replace(text, '[^\\x00-\\x7F]', '', 'g')))
                / CAST(greatest(length(text), 1) AS DOUBLE)) * 2
               + ((length(text) - length(regexp_replace(text, '[{FRENCH_CHARS}]', '', 'g')))
                  / CAST(greatest(length(text), 1) AS DOUBLE)) * 3) AS multi,
         least(1.0, length(text) / 40960.0) AS size_factor
  FROM s
),
decisions AS (
  SELECT
    CASE WHEN vwr < 0.30 THEN 'LOW'
         WHEN vwr >= 0.7 THEN 'HIGH'
         WHEN vwr >= 0.4 THEN 'MEDIUM'
         ELSE 'LOW' END AS quality_category,
    CASE WHEN sci_score >= 0.15 AND sci_score > 0.7 THEN 'nougat'
         WHEN sci_score >= 0.15 AND sci_score > 0.4 THEN 'qwen_vl'
         ELSE 'classic_ocr' END AS scientific_engine,
    CASE WHEN least(1.0, confidence_factor * 0.25 + layout * 0.20 + 0.0 * 0.15
                    + table_density * 0.15 + multi * 0.10 + (1.0 - vwr) * 0.10
                    + size_factor * 0.05) < 0.4 THEN 'classic_ocr'
         WHEN least(1.0, confidence_factor * 0.25 + layout * 0.20 + 0.0 * 0.15
                    + table_density * 0.15 + multi * 0.10 + (1.0 - vwr) * 0.10
                    + size_factor * 0.05) < 0.7 THEN 'minicpm_v'
         ELSE 'qwen_vl' END AS complexity_strategy
  FROM c
)
SELECT quality_category, scientific_engine, complexity_strategy, count(*) AS n
FROM decisions GROUP BY 1, 2, 3
"""


_def("routing_distribution", _routing_fn, _routing_duck_sql(), "documents")


# -- 27. content-type sniffing distribution (corpus decorated with each
#        payload flavor). Spark runs the pipeline's operator
#        (sniff.with_content_type, contains() prescans included); DuckDB
#        re-derives its regex ladder from the same regexes.
_SNIFF_DECORATE = """
SELECT doc_id, CASE CAST(doc_id % 5 AS INT)
  WHEN 0 THEN text
  WHEN 1 THEN '<html><body><p>' || text || '</p></body></html>'
  WHEN 2 THEN '# Heading' || chr(10) || text
  WHEN 3 THEN text || chr(10) || '- Page 3 -' || chr(10) || text
  ELSE '' END AS text
FROM documents
"""
_SNIFF_CASE = """
CASE WHEN text IS NULL OR trim(text) = '' THEN 'empty'
     WHEN {html} THEN 'html'
     WHEN {md} THEN 'markdown'
     WHEN {pdf} THEN 'pdf'
     ELSE 'plain' END
"""
_SNIFF_RES = {"html": _HTML_RE, "md": _MD_RE, "pdf": _PDF_RE}


def _sniff_sql() -> str:
    def m(p):
        return f"regexp_matches(text, '{p}')"
    case = _SNIFF_CASE.format(**{k: m(p) for k, p in _SNIFF_RES.items()})
    return f"""
WITH dec AS ({_SNIFF_DECORATE})
SELECT {case} AS content_type, count(*) AS n FROM dec GROUP BY 1
"""


def _sniff_fn(spark: SparkSession) -> DataFrame:
    return (sniff.with_content_type(spark.sql(_SNIFF_DECORATE))
            .groupBy("content_type").agg(F.count("*").alias("n")))


_def("content_type_distribution", _sniff_fn, _sniff_sql(), "documents")

# -- 28. PDF doc-type detector (document_detector.py extractible-ratio
#        classifier on paragraph blocks; decorated multi-paragraph corpus)
_PDFTYPE_DECORATE = """
SELECT doc_id, CASE CAST(doc_id % 4 AS INT)
  WHEN 0 THEN text
  WHEN 1 THEN 'ab' || chr(10) || chr(10) || 'cd' || chr(10) || chr(10) || 'ef'
  WHEN 2 THEN text || chr(10) || chr(10) || 'xx' || chr(10) || chr(10) || text || chr(10) || chr(10) || 'yy'
  ELSE text || chr(10) || chr(10) || text || chr(10) || chr(10) || text END AS text
FROM documents
"""


def _pdftype_fn(spark: SparkSession) -> DataFrame:
    dec = spark.sql(_PDFTYPE_DECORATE.replace("chr(10)", "'\\n'"))
    cols = routing_op.pdf_type_cols(F.col("text"))
    return (
        dec.withColumn("pdf_doc_type", cols["pdf_doc_type"])
        .groupBy("pdf_doc_type").agg(F.count("*").alias("n"))
    )


def _pdftype_duck_sql() -> str:
    blocks = (r"list_filter(regexp_split_to_array(text, '\n\n'), "
              r"b -> length(regexp_replace(b, '^\s+|\s+$', '', 'g')) > 0)")
    sampled = f"list_slice({blocks}, 1, 5)"
    return f"""
WITH dec AS ({_PDFTYPE_DECORATE}),
r AS (
  SELECT doc_id,
         len({sampled}) AS n,
         len(list_filter({sampled}, b -> length(b) >= 100)) AS extractible
  FROM dec
)
SELECT CASE WHEN n = 0 THEN 'EMPTY'
            WHEN CAST(extractible AS DOUBLE) / n >= 0.8 THEN 'TEXT_BASED'
            WHEN CAST(extractible AS DOUBLE) / n <= 0.2 THEN 'SCANNED'
            ELSE 'HYBRID' END AS pdf_doc_type,
       count(*) AS n
FROM r GROUP BY 1
"""
_def("pdf_type_distribution", _pdftype_fn, _pdftype_duck_sql(), "documents")


# -- 29. tool-call payload mining (operators/toolcalls.py over the
#        transcript `tool` column; reference carries tool bodies per turn).
#        The documents table has no tool column, so the query decorates it
#        with deterministic JSON bodies (incl. ~1/7 malformed → NULL
#        fields, and 1/3 NULL → filtered) and mines them. Spark runs the
#        operator (JVM from_json); DuckDB re-derives with json_extract.
def _tool_decorate(engine: str) -> str:
    str_t = "STRING" if engine == "spark" else "VARCHAR"
    return f"""
SELECT doc_id,
  CASE WHEN doc_id % 3 = 0 THEN NULL
       WHEN doc_id % 7 = 1 THEN '{{not json'
       ELSE '{{"tool": "' || CASE WHEN doc_id % 2 = 0 THEN 'search' ELSE 'fetch' END
            || '", "status": "' || CASE WHEN doc_id % 5 = 0 THEN 'error' ELSE 'ok' END
            || '", "call_id": ' || CAST(doc_id AS {str_t}) || '}}'
  END AS tool
FROM documents
"""


def _toolcalls_fn(spark: SparkSession) -> DataFrame:
    dec = spark.sql(_tool_decorate("spark"))
    calls = toolcalls.parse_tool_calls(dec, id_cols=("doc_id",))
    stats = toolcalls.tool_call_stats(calls)
    return stats.select(
        "tool_name", "tool_status",
        F.col("n_calls").cast("bigint").alias("n_calls"),
        F.col("n_distinct_ids").cast("bigint").alias("n_distinct_ids"),
    )


def _toolcalls_duck_sql() -> str:
    return f"""
WITH dec AS ({_tool_decorate("duckdb")}),
calls AS (
  SELECT doc_id,
         CASE WHEN json_valid(tool)
              THEN json_extract_string(tool, '$.tool') END AS tool_name,
         CASE WHEN json_valid(tool)
              THEN json_extract_string(tool, '$.status') END AS tool_status,
         CASE WHEN json_valid(tool)
              THEN CAST(json_extract(tool, '$.call_id') AS BIGINT) END AS call_id
  FROM dec WHERE tool IS NOT NULL
)
SELECT tool_name, tool_status,
       CAST(count(*) AS BIGINT) AS n_calls,
       CAST(count(DISTINCT call_id) AS BIGINT) AS n_distinct_ids
FROM calls GROUP BY tool_name, tool_status
"""


_def("tool_payload_extraction", _toolcalls_fn, _toolcalls_duck_sql(), "documents")


# -- 30. skew-safe conversation assembly (operators/skew.py two-phase
#        ordered concat) vs plain ordered string_agg: documents shaped as
#        transcripts (conversation = source, turn order = doc_id). The md5
#        of the assembled document pins byte-exact text equality.
def _assembly_duck_sql() -> str:
    return """
SELECT source AS conv_id,
       CAST(count(*) AS BIGINT) AS n_turns,
       md5(string_agg(text, chr(10) || chr(10) ORDER BY doc_id)) AS doc_md5
FROM documents GROUP BY source
"""


def _assembly_fn(spark: SparkSession) -> DataFrame:
    shaped = spark.table("documents").select(
        F.col("source").alias("conv_id"),
        F.col("doc_id").cast("int").alias("turn_idx"),
        "text",
    )
    out = skew.assemble_conversations(shaped, bucket_size=16)
    return out.select(
        "conv_id", F.col("n_turns").cast("bigint").alias("n_turns"),
        F.md5(F.col("doc_text")).alias("doc_md5"),
    )


_def("conversation_assembly", _assembly_fn, _assembly_duck_sql(), "documents")


# -- 31. multimodal plumbing (operators/multimodal.py): documents decorated
#        into a media table (payload = utf-8 bytes of text, type by id,
#        video duration from id). Spark runs the real mapInPandas UDFs
#        (fake decode — the codec itself is the documented stub); the
#        oracle re-derives the integer accounting: per-type byte totals
#        from extract_features and the 1→N frame fan-out from frame_sample.
_MEDIA_TYPES = "CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END"
_MEDIA_DUR = "CASE WHEN doc_id % 3 = 2 THEN (CAST(doc_id % 7 AS INT) + 1) * 1500 ELSE 0 END"


def _media_df(spark: SparkSession):
    return spark.table("documents").select(
        F.col("doc_id").alias("media_id"),
        F.expr(_MEDIA_TYPES).alias("media_type"),
        F.concat(F.expr(_MEDIA_TYPES), F.lit("/x-fake")).alias("mime"),
        F.lit(64).alias("width"), F.lit(48).alias("height"),
        F.expr(_MEDIA_DUR).cast("int").alias("duration_ms"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )


def _multimodal_fn(spark: SparkSession) -> DataFrame:
    media = _media_df(spark)
    feats = multimodal.extract_features(media, fake_decode=True)
    frames = multimodal.frame_sample(media, every_ms=1000, fake_decode=True)
    frame_counts = frames.groupBy("media_id").agg(F.count("*").alias("nf"))
    return (
        feats.join(frame_counts, on="media_id", how="left")
        .groupBy("media_type")
        .agg(F.count("*").cast("bigint").alias("n_media"),
             F.sum("n_bytes").cast("bigint").alias("total_bytes"),
             F.sum(F.coalesce(F.col("nf"), F.lit(0))).cast("bigint")
             .alias("total_frames"))
    )


def _multimodal_duck_sql() -> str:
    return f"""
WITH media AS (
  SELECT doc_id AS media_id, {_MEDIA_TYPES} AS media_type,
         octet_length(encode(text)) AS n_bytes,
         {_MEDIA_DUR} AS duration_ms
  FROM documents
)
SELECT media_type,
       CAST(count(*) AS BIGINT) AS n_media,
       CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
       CAST(sum(CASE WHEN media_type = 'video'
                     THEN greatest(1, duration_ms // 1000) ELSE 0 END) AS BIGINT)
         AS total_frames
FROM media GROUP BY media_type
"""


_def("multimodal_accounting", _multimodal_fn, _multimodal_duck_sql(), "documents")


# -- 32. feedback-loop analytics (reference FeedbackCollector,
#        src/core/rag/feedback_loop.py:414-519 — operators/feedback.py).
#        The feedback table is derived deterministically from `events`
#        (same mapping in both engines): view→explicit_rating with a score
#        from event_id%10 and a 1-5 rating from event_id%5, click→
#        click_through with 3 shown docs keyed off props and clicks on
#        even event_ids, error→flag, purchase→correction, signup→
#        dwell_time. Rates are single int/int divisions; the average
#        rating is double(exact-decimal-sum)/count.
_FB_TYPE = ("CASE event_type WHEN 'view' THEN 'explicit_rating' "
            "WHEN 'click' THEN 'click_through' WHEN 'error' THEN 'flag' "
            "WHEN 'purchase' THEN 'correction' ELSE 'dwell_time' END")
_FB_SCORE = ("CASE WHEN event_type = 'view' THEN "
             "(CASE WHEN event_id % 10 < 5 THEN 'negative' "
             "WHEN event_id % 10 < 9 THEN 'positive' ELSE 'neutral' END) "
             "ELSE NULL END")
_FB_RATING = ("CASE WHEN event_type = 'view' "
              "THEN CAST(1 + event_id % 5 AS DOUBLE) ELSE NULL END")
_FB_QUERY = "'q' || CAST(user_id % 20 AS STRING)"
_FB_QUERY_DUCK = "'q' || CAST(user_id % 20 AS VARCHAR)"
_FB_DOCK = "CAST(regexp_extract(props, '([0-9]+)', 1) AS INT)"


def _feedback_df(spark: SparkSession):
    ev = spark.table("events")
    shown = F.expr(
        f"transform(sequence(0, 2), i -> 'd' || CAST(({_FB_DOCK}) + i AS STRING))")
    clicked = F.expr(
        f"CASE WHEN event_id % 2 = 0 "
        f"THEN array('d' || CAST({_FB_DOCK} AS STRING)) "
        f"ELSE array() END")
    return ev.select(
        F.concat(F.lit("f"), F.col("event_id").cast("string")).alias("feedback_id"),
        F.expr(_FB_QUERY).alias("query_id"),
        F.expr(_FB_TYPE).alias("feedback_type"),
        F.expr(_FB_SCORE).alias("score"),
        F.expr(_FB_RATING).alias("numeric_rating"),
        F.when(F.expr(_FB_TYPE) == "click_through", shown)
        .otherwise(F.expr("array()")).alias("source_document_ids"),
        F.when(F.expr(_FB_TYPE) == "click_through", clicked)
        .otherwise(F.expr("array()")).alias("clicked_documents"),
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("user_id"),
        F.col("ts"),
    )


_FB_DUCK_BASE = f"""
feedback AS (
  SELECT 'f' || CAST(event_id AS VARCHAR) AS feedback_id,
         {_FB_QUERY_DUCK} AS query_id,
         {_FB_TYPE} AS feedback_type,
         {_FB_SCORE} AS score,
         {_FB_RATING} AS numeric_rating,
         event_id, props, ts
  FROM events
)"""


def _fb_stats_fn(spark: SparkSession) -> DataFrame:
    return feedback.feedback_statistics(_feedback_df(spark))


def _fb_stats_duck_sql() -> str:
    return f"""
WITH {_FB_DUCK_BASE}
SELECT CAST(count(*) AS BIGINT) AS total,
       CAST(sum(CASE WHEN score = 'positive' THEN 1 ELSE 0 END) AS BIGINT) AS positive,
       CAST(sum(CASE WHEN score = 'negative' THEN 1 ELSE 0 END) AS BIGINT) AS negative,
       CAST(sum(CASE WHEN score = 'neutral' THEN 1 ELSE 0 END) AS BIGINT) AS neutral,
       CAST(sum(CASE WHEN score = 'positive' THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS positive_rate,
       CAST(sum(CASE WHEN score = 'negative' THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS negative_rate,
       CAST(sum(CAST(numeric_rating AS DECIMAL(18,2))) AS DOUBLE)
         / count(numeric_rating) AS avg_numeric_rating,
       CAST(sum(CASE WHEN feedback_type = 'flag' THEN 1 ELSE 0 END) AS BIGINT) AS flags,
       CAST(sum(CASE WHEN feedback_type = 'flag' THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS flag_rate
FROM feedback
"""


_def("feedback_statistics", _fb_stats_fn, _fb_stats_duck_sql(), "events")


def _fb_problem_fn(spark: SparkSession) -> DataFrame:
    # rating rows only: diluting the groups with score-less click/flag rows
    # keeps every rate ~0.1 and the gate would compare 0 rows to 0 rows
    ratings = _feedback_df(spark).filter(
        F.col("feedback_type") == "explicit_rating")
    return feedback.problematic_queries(
        ratings, min_negative_rate=0.5, min_samples=3)


def _fb_problem_duck_sql() -> str:
    return f"""
WITH {_FB_DUCK_BASE},
grouped AS (
  SELECT query_id,
         CAST(count(*) AS BIGINT) AS total_feedback,
         CAST(sum(CASE WHEN score = 'negative' THEN 1 ELSE 0 END) AS BIGINT)
           AS negative_count
  FROM feedback WHERE feedback_type = 'explicit_rating' GROUP BY query_id
)
SELECT query_id, total_feedback, negative_count,
       CAST(negative_count AS DOUBLE) / total_feedback AS negative_rate
FROM grouped
WHERE total_feedback >= 3
  AND CAST(negative_count AS DOUBLE) / total_feedback >= 0.5
ORDER BY negative_rate DESC, query_id ASC
"""


_def("feedback_problem_queries", _fb_problem_fn, _fb_problem_duck_sql(), "events")


def _fb_ctr_fn(spark: SparkSession) -> DataFrame:
    return feedback.document_ctr(_feedback_df(spark), min_impressions=5)


def _fb_ctr_duck_sql() -> str:
    doc = f"'d' || CAST({_FB_DOCK} + i AS VARCHAR)"
    return f"""
WITH {_FB_DUCK_BASE},
ct AS (SELECT * FROM feedback WHERE feedback_type = 'click_through'),
shown AS (
  SELECT {doc} AS doc_id FROM ct CROSS JOIN (SELECT unnest(range(0, 3)) AS i)
),
imp AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS impressions FROM shown GROUP BY doc_id
),
clk AS (
  SELECT 'd' || CAST({_FB_DOCK} AS VARCHAR) AS doc_id,
         CAST(count(*) AS BIGINT) AS clicks
  FROM ct WHERE event_id % 2 = 0 GROUP BY 1
)
SELECT i.doc_id, i.impressions,
       CAST(COALESCE(c.clicks, 0) AS BIGINT) AS clicks,
       CAST(COALESCE(c.clicks, 0) AS DOUBLE) / i.impressions AS ctr
FROM imp i LEFT JOIN clk c USING (doc_id)
WHERE i.impressions >= 5
"""


_def("feedback_doc_ctr", _fb_ctr_fn, _fb_ctr_duck_sql(), "events")


# -- 33. deterministic stratified sampling (operators/sampling.py): keep a
#        doc iff the first 8 md5 hex digits of its salted key, as a
#        fraction of 16^8, fall below its language's rate. Membership is a
#        pure function of the key — reproducible across runs, partitions
#        and engines (this gate IS the cross-engine proof).
_SAMPLE_RATES = {"fr": 0.5, "en": 0.25, "de": 0.1}


def _sample_fn(spark: SparkSession) -> DataFrame:
    return sampling.stratified_sample(
        spark.table("documents"), strata_col="lang", rates=_SAMPLE_RATES,
        default_rate=0.0, key_cols=("doc_id",), salt="r3",
    ).select("doc_id", "lang")


def _sample_duck_sql() -> str:
    frac = ("CAST(CAST('0x' || substr(md5(concat_ws('|', 'r3', "
            "CAST(doc_id AS VARCHAR))), 1, 8) AS BIGINT) AS DOUBLE) "
            f"/ {float(16 ** 8)}")
    rate = "CASE lang WHEN 'fr' THEN 0.5 WHEN 'en' THEN 0.25 WHEN 'de' THEN 0.1 ELSE 0.0 END"
    return f"""
SELECT doc_id, lang FROM documents
WHERE ({frac}) < ({rate})
"""


_def("sample_stratified", _sample_fn, _sample_duck_sql(), "documents")


# -- 34. token-stream sequence packing (operators/packing.py): concat-and-
#        slice document token counts into 2048-token training sequences,
#        sharded by language, ordered by doc_id. Pure window arithmetic —
#        everything integer.
_PACK_BUDGET = 2048


def _pack_fn(spark: SparkSession) -> DataFrame:
    docs = spark.table("documents").select(
        "doc_id", "lang",
        F.floor(F.col("n_chars") / 4).cast("bigint").alias("token_count"))
    packed = packing.pack_chunks(
        docs, budget=_PACK_BUDGET, partition_col="lang",
        order_cols=("doc_id",))
    return packed.select("doc_id", "lang", "seq_index", "seq_token_offset")


def _pack_duck_sql() -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, lang, CAST(n_chars // 4 AS BIGINT) AS token_count
  FROM documents
), cum AS (
  SELECT doc_id, lang,
         CAST(COALESCE(sum(token_count) OVER (
           PARTITION BY lang ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cum_before
  FROM toks
)
SELECT doc_id, lang,
       CAST(cum_before // {_PACK_BUDGET} AS BIGINT) AS seq_index,
       CAST(cum_before - (cum_before // {_PACK_BUDGET}) * {_PACK_BUDGET} AS BIGINT)
         AS seq_token_offset
FROM cum
"""


_def("pack_sequences", _pack_fn, _pack_duck_sql(), "documents")


# -- 35c. PII redaction (operators/redact.py): the corpus has no PII, so
#         both engines append the same snippets to deterministic doc
#         subsets; the gate compares per-category counts AND the md5 of
#         the redacted text (pins replacements byte-for-byte). Dialect:
#         DuckDB regexp_replace needs the 'g' flag to match Spark's
#         replace-all semantics.
_PII_SNIPPET_A = (" contact jean.dupont+spam@example.org or call "
                  "+33 6 12 34 56 78 now")
_PII_SNIPPET_B = " card 4111111111111111 from host 192.168.0.1 today"


def _redact_fn(spark: SparkSession) -> DataFrame:
    docs = spark.table("documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0,
               F.concat(F.col("text"), F.lit(_PII_SNIPPET_A)))
        .when(F.col("doc_id") % 7 == 1,
              F.concat(F.col("text"), F.lit(_PII_SNIPPET_B)))
        .otherwise(F.col("text")).alias("text"))
    out = redact.with_redaction(docs)
    return out.select(
        "doc_id", "n_email", "n_card", "n_ipv4", "n_phone",
        F.md5(F.col("redacted_text")).alias("redacted_hash"))


def _redaction_duck() -> tuple[str, str]:
    """DuckDB twin of redact.with_redaction over ``text``: the n_<cat>
    count columns and the fully redacted expression."""
    staged = "text"
    counts = []
    for cat, pat, repl in REDACTIONS:
        counts.append(
            f"CAST(len(regexp_extract_all({staged}, '{pat}')) AS INT) AS n_{cat}")
        staged = f"regexp_replace({staged}, '{pat}', '{repl}', 'g')"
    return ", ".join(counts), staged


def _redact_duck_sql() -> str:
    counts, staged = _redaction_duck()
    return f"""
WITH enriched AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN text || '{_PII_SNIPPET_A}'
              WHEN doc_id % 7 = 1 THEN text || '{_PII_SNIPPET_B}'
              ELSE text END AS text
  FROM documents
)
SELECT doc_id,
       {counts},
       md5({staged}) AS redacted_hash
FROM enriched
"""


_def("pii_redaction", _redact_fn, _redact_duck_sql(), "documents")


# -- 35a. vector store end-to-end (operators/vectorstore.py): build a
#         store from the embeddings table, upsert reversed embeddings for
#         ids v0..v9 (latest version wins), then epsilon-cosine search
#         with vec 0's ORIGINAL embedding — the upserted rows must rank by
#         their NEW vectors. Rank-only output.
def _vstore_fn(spark: SparkSession) -> DataFrame:
    emb = spark.table("embeddings")
    store = emb.select(
        F.concat(F.lit("v"), F.col("vec_id").cast("string")).alias("id"),
        F.lit("").alias("text"),
        F.create_map().cast("map<string,string>").alias("metadata"),
        F.col("embedding"),
    )
    newb = emb.filter("vec_id < 10").select(
        F.concat(F.lit("v"), F.col("vec_id").cast("string")).alias("id"),
        F.lit("").alias("text"),
        F.create_map().cast("map<string,string>").alias("metadata"),
        F.reverse(F.col("embedding")).alias("embedding"),
    )
    resolved = vectorstore.upsert(store, newb)
    qrow = emb.filter("vec_id = 0").select("embedding").first()
    return vectorstore.search(
        resolved, [float(x) for x in qrow["embedding"]], k=10
    ).select("id", "rank")


def _vstore_duck_sql() -> str:
    cos = (f"({_dot_duck('r.embedding', 'q.embedding')}) / "
           f"((sqrt({_dot_duck('r.embedding', 'r.embedding')}) + 1e-10) * "
           f"(sqrt({_dot_duck('q.embedding', 'q.embedding')}) + 1e-10))")
    return f"""
WITH store AS (
  SELECT 'v' || CAST(vec_id AS VARCHAR) AS id, embedding, 0 AS version
  FROM embeddings
  UNION ALL
  SELECT 'v' || CAST(vec_id AS VARCHAR) AS id, list_reverse(embedding), 1
  FROM embeddings WHERE vec_id < 10
), resolved AS (
  SELECT id, embedding FROM (
    SELECT id, embedding,
           row_number() OVER (PARTITION BY id ORDER BY version DESC) AS rn
    FROM store) t
  WHERE rn = 1
)
SELECT id, CAST(row_number() OVER (ORDER BY ({cos}) DESC, r.id ASC) AS INT) AS rank
FROM resolved r CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
ORDER BY ({cos}) DESC, r.id ASC
LIMIT 10
"""


_def("vectorstore_upsert_search", _vstore_fn, _vstore_duck_sql(), "embeddings")


# -- 35b. mathematical-schema extraction (operators/schema_extract.py ↔
#         reference schema_extractor.py). The synthetic corpus has no
#         French math prose, so both engines append the same two fixed
#         snippets to deterministic doc subsets (doc_id%5∈{0,1}) and the
#         twin reimplements the extraction generically with DuckDB regexes
#         (backslashes: Spark side passes patterns via F.lit — no SQL
#         literal; DuckDB single-quoted literals keep backslashes raw).
_MATH_SNIPPET_A = (" Soit le cercle de centre A et de rayon 7. Le triangle "
                   "ABC et la droite (AB) coupent le segment [BC]. asymptote")
_MATH_SNIPPET_B = (" Voir Figure 3 et le tableau. "
                   "\\\\x = y + 2 longer equation\\\\ et la courbe C")


def _schema_fn(spark: SparkSession) -> DataFrame:
    docs = spark.table("documents").select("doc_id", "text")
    enriched = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(F.col("text"), F.lit(_MATH_SNIPPET_A)))
        .when(F.col("doc_id") % 5 == 1,
              F.concat(F.col("text"), F.lit(_MATH_SNIPPET_B)))
        .otherwise(F.col("text")).alias("text"))
    return schema_extract.extract_math_schemas(enriched)


def _schema_duck_sql() -> str:
    def refs(inst: str) -> str:
        return ("CAST(len(list_filter(string_split(text, chr(10)), "
                f"ln -> contains(lower(ln), lower({inst})))) AS INT)")

    def fam(pat: str, sid: str, stype: str, desc: str, conf: float,
            inst: str) -> str:
        return f"""
SELECT doc_id, {sid} AS schema_id, '{stype}' AS schema_type,
       {desc} AS description, CAST({conf} AS DOUBLE) AS confidence,
       {refs(inst)} AS n_references
FROM (SELECT doc_id, text, unnest(regexp_extract_all(text, '{pat}')) AS m
      FROM enriched)"""

    g = lambda i, pat=None: f"regexp_extract(m, '{pat}', {i})"  # noqa: E731
    parts = [
        fam(CIRCLE_RE,
            f"'circle_' || {g(1, CIRCLE_RE)} || '_' || {g(2, CIRCLE_RE)}",
            "geometric",
            f"'Cercle de centre ' || {g(1, CIRCLE_RE)} || ' et de rayon ' || {g(2, CIRCLE_RE)}",
            0.9, f"'cercle de centre ' || {g(1, CIRCLE_RE)}"),
        fam(TRIANGLE_RE, f"'triangle_' || {g(1, TRIANGLE_RE)}", "geometric",
            f"'Triangle ' || {g(1, TRIANGLE_RE)}", 0.8, "m"),
        fam(LINE_RE, f"'line_' || {g(1, LINE_RE)}", "geometric",
            f"'Droite (' || {g(1, LINE_RE)} || ')'", 0.7, "m"),
        fam(SEGMENT_RE, f"'segment_' || {g(1, SEGMENT_RE)}", "geometric",
            f"'Segment [' || {g(1, SEGMENT_RE)} || ']'", 0.7, "m"),
        fam(CURVE_RE, f"'curve_' || {g(1, CURVE_RE)}", "graph",
            f"'Courbe ' || {g(1, CURVE_RE)}", 0.8, "m"),
        fam(FIGURE_RE, f"'figure_' || {g(1, FIGURE_RE)}", "figure",
            "m", 0.8, "m"),
        # LaTeX equations keep the raw match index even for filtered-out
        # short equations
        f"""
SELECT doc_id, 'equation_' || CAST(i AS VARCHAR) AS schema_id,
       'algebraic' AS schema_type, 'Équation: ' || m AS description,
       CAST(0.9 AS DOUBLE) AS confidence, {refs('m')} AS n_references
FROM (SELECT doc_id, text, unnest(regexp_extract_all(text, '{LATEX_RE}')) AS m,
             unnest(range(1, len(regexp_extract_all(text, '{LATEX_RE}')) + 1)) AS i
      FROM enriched)
WHERE length(trim(regexp_extract(m, '{LATEX_RE}', 1))) > 5""",
        f"""
SELECT doc_id, 'asymptote' AS schema_id, 'graph' AS schema_type,
       'Asymptote' AS description, CAST(0.7 AS DOUBLE) AS confidence,
       {refs("'asymptote'")} AS n_references
FROM enriched WHERE contains(text, 'asymptote')""",
        f"""
SELECT doc_id, 'table' AS schema_id, 'table' AS schema_type,
       'Tableau de variation' AS description, CAST(0.6 AS DOUBLE) AS confidence,
       {refs("'tableau'")} AS n_references
FROM enriched WHERE contains(text, 'tableau')""",
    ]
    union = "\nUNION ALL\n".join(parts)
    return f"""
WITH enriched AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN text || '{_MATH_SNIPPET_A}'
              WHEN doc_id % 5 = 1 THEN text || '{_MATH_SNIPPET_B}'
              ELSE text END AS text
  FROM documents
)
{union}
"""


_def("math_schema_extraction", _schema_fn, _schema_duck_sql(), "documents")


# -- 35. ML strategy trainer end-to-end (rows-only: iterative training is
#        not SQL-expressible — the driver records a rows-only check and
#        the unit suite pins semantics). Labels come from the published
#        model over documents; the trained weights must reproduce that
#        labeling, so every row reports correct == n.
def _trainer_fn(spark: SparkSession) -> DataFrame:
    # the raw docs all land in one class — synthesize structural variety
    # deterministically so training sees all three labels
    base = spark.table("documents").select("doc_id", "text")
    text = (
        F.when(F.col("doc_id") % 3 == 1,
               F.concat(F.lit("# Heading\n## Sub\n- item\n- item\n"),
                        F.col("text"), F.lit(" "), F.col("text"),
                        F.lit(" "), F.col("text"), F.lit(" "), F.col("text")))
        .when(F.col("doc_id") % 3 == 2,
              F.concat_ws(" ", *([F.col("text")] * 6)))
        .otherwise(F.col("text"))
    )
    labeled = ml_strategy.with_ml_strategy(
        base.select("doc_id", text.alias("text"))
    ).select("text", F.col("ml_strategy").alias("label"))
    weights, _epochs = ml_trainer.train_strategy_classifier(labeled, epochs=25)
    return ml_trainer.evaluate(labeled, weights)


_def("ml_trainer_eval", _trainer_fn, None, "documents")


# -- 36. BPE trainer pair-count round (operators/bpe_trainer.py): the
#        per-round aggregate that drives merge selection, oracle-gated.
#        Dialect: the oracle pre-tokenizer is ASCII `[a-z]+` on lowered
#        text (identical semantics in Java regex and RE2; the production
#        pre-tokenizer PRETOKEN_JAVA uses (?U)\w, pinned against the
#        Python kernel by tests instead). The Spark side routes through
#        the real operator (char symbol arrays → pair_counts); the DuckDB
#        twin re-derives pairs as 2-char substrings.
def _bpe_pairs_fn(spark: SparkSession) -> DataFrame:
    words = spark.table("documents").select(
        F.explode(F.regexp_extract_all(F.lower(F.col("text")),
                                       F.lit("[a-z]+"), F.lit(0))).alias("w"))
    vocab = (words.groupBy("w").agg(F.count("*").cast("bigint").alias("cnt"))
             .select(F.filter(F.split("w", ""),
                              lambda c: c != F.lit("")).alias("symbols"),
                     "cnt"))
    return (bpe_trainer.pair_counts(vocab)
            .select(F.concat("a", "b").alias("pair"), "n")
            .orderBy(F.desc("n"), F.asc("pair")).limit(20))


_BPE_PAIRS_DUCK = """
WITH words AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
  FROM documents
), pairs AS (
  SELECT unnest(list_transform(range(1, length(w)),
                               i -> substr(w, i, 2))) AS pair
  FROM words
)
SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
FROM pairs
GROUP BY pair
ORDER BY n DESC, pair ASC
LIMIT 20
"""

_def("bpe_pair_counts", _bpe_pairs_fn, _BPE_PAIRS_DUCK, "documents")


# -- 36b. BPE trainer end-to-end (rows-only: iterative argmax-per-round
#         training is not SQL-expressible; unit tests pin the exact merge
#         sequence on a known corpus + partition independence). Returns
#         the ordered merges trained from the documents corpus.
def _bpe_train_fn(spark: SparkSession) -> DataFrame:
    merges = bpe_trainer.train_from_corpus(
        spark.table("documents"), n_merges=12)
    return literal_table(spark,
                         [(i, a, b) for i, (a, b) in enumerate(merges)],
                         "rank int, a string, b string")


_def("bpe_train_merges", _bpe_train_fn, None, "documents")


# -- 37. error-taxonomy rollup (operators/metrics.py error_taxonomy): the
#        reference's volume-test errors_by_type classification
#        (/root/reference/tests/volume_testing.py:543-560). The corpus has
#        no failures, so both engines seed the same deterministic error
#        strings on a doc_id-keyed subset; strings are chosen to cover
#        every branch AND the ladder precedence ("ocr" outranks "pdf").
_ERROR_SEEDS = (
    "OCR failed: tesseract binary not found",
    "PDF parsing error at page 3",
    "ocr fallback on pdf page",          # precedence: OCR before PARSING
    "OutOfMemoryError: java heap space",
    "task timeout after 300s",
    "unsupported encoding: latin-9",
    "language detection failed",
    "unexpected null payload",           # OTHER_ERROR
)


def _error_taxonomy_fn(spark: SparkSession) -> DataFrame:
    seeded = F.when(F.col("doc_id") % 5 == 0,
                    F.element_at(F.array(*[F.lit(s) for s in _ERROR_SEEDS]),
                                 (F.col("doc_id") % 8 + 1).cast("int")))
    df = spark.table("documents").select(seeded.alias("error"))
    return metrics.error_taxonomy(df).orderBy("category")


def _error_taxonomy_duck_sql() -> str:
    seeds = ", ".join("'" + s.replace("'", "''") + "'" for s in _ERROR_SEEDS)
    ladder = " ".join(
        "WHEN " + " OR ".join(f"contains(lower(error), '{n}')"
                              for n in needles)
        + f" THEN '{cat}'"
        for cat, needles in ERROR_TAXONOMY)
    return f"""
WITH seeded AS (
  SELECT CASE WHEN doc_id % 5 = 0
              THEN ([{seeds}])[CAST(doc_id % 8 + 1 AS INT)]
         END AS error
  FROM documents
)
SELECT CASE {ladder} ELSE '{ERROR_OTHER}' END AS category,
       CAST(COUNT(*) AS BIGINT) AS n_errors
FROM seeded
WHERE error IS NOT NULL
GROUP BY 1
ORDER BY category
"""


_def("error_taxonomy", _error_taxonomy_fn, _error_taxonomy_duck_sql(), "documents")


# -- 38. composed corpus curation (operators/curation.py): exact dedup →
#        PII redaction → token estimate → sequence packing as ONE flow,
#        end-to-end oracle-gated. Both engines seed the same duplicates
#        (docs with doc_id % 10 == 9 copy the text of doc_id - 9 — so the
#        dedup stage is non-vacuous and the canonical keeps the lower id)
#        and the same PII snippets as the pii_redaction entry.
_CURATE_BUDGET = 1024


def _curate_fn(spark: SparkSession) -> DataFrame:
    docs = spark.table("documents").alias("d")
    donors = spark.table("documents").select(
        F.col("doc_id").alias("_donor_id"), F.col("text").alias("_donor_text"))
    seeded = (
        docs.join(donors, F.col("d.doc_id") - 9 == F.col("_donor_id"), "left")
        .select(
            F.col("d.doc_id").alias("doc_id"), F.col("d.lang").alias("lang"),
            F.when((F.col("d.doc_id") % 10 == 9) & F.col("_donor_text").isNotNull(),
                   F.col("_donor_text"))
            .when(F.col("d.doc_id") % 7 == 0,
                  F.concat(F.col("d.text"), F.lit(_PII_SNIPPET_A)))
            .when(F.col("d.doc_id") % 7 == 1,
                  F.concat(F.col("d.text"), F.lit(_PII_SNIPPET_B)))
            .otherwise(F.col("d.text")).alias("text"))
    )
    out = curation.curate_corpus(seeded, budget=_CURATE_BUDGET)
    return out.select(
        "doc_id", "lang", "n_email", "n_card", "n_ipv4", "n_phone",
        F.md5("redacted_text").alias("redacted_hash"),
        "token_count", "seq_index", "seq_token_offset")


def _curate_duck_sql() -> str:
    counts, staged = _redaction_duck()
    return f"""
WITH seeded AS (
  SELECT d.doc_id, d.lang,
         CASE WHEN d.doc_id % 10 = 9 AND dn.text IS NOT NULL THEN dn.text
              WHEN d.doc_id % 7 = 0 THEN d.text || '{_PII_SNIPPET_A}'
              WHEN d.doc_id % 7 = 1 THEN d.text || '{_PII_SNIPPET_B}'
              ELSE d.text END AS text
  FROM documents d LEFT JOIN documents dn ON d.doc_id - 9 = dn.doc_id
), canon AS (
  SELECT doc_id, lang, text FROM (
    SELECT doc_id, lang, text,
           row_number() OVER (PARTITION BY md5(text)
                              ORDER BY doc_id ASC) AS rn
    FROM seeded) t
  WHERE rn = 1
), red AS (
  SELECT doc_id, lang, {counts}, {staged} AS redacted_text
  FROM canon
), toks AS (
  SELECT *, CAST(length(redacted_text) // {CHARS_PER_TOKEN} AS BIGINT)
              AS token_count
  FROM red
), cum AS (
  SELECT *, CAST(COALESCE(sum(token_count) OVER (
              PARTITION BY lang ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
              AS cum_before
  FROM toks
)
SELECT doc_id, lang, n_email, n_card, n_ipv4, n_phone,
       md5(redacted_text) AS redacted_hash, token_count,
       CAST(cum_before // {_CURATE_BUDGET} AS BIGINT) AS seq_index,
       CAST(cum_before - (cum_before // {_CURATE_BUDGET}) * {_CURATE_BUDGET}
            AS BIGINT) AS seq_token_offset
FROM cum
"""


_def("curate_corpus", _curate_fn, _curate_duck_sql(), "documents")


# -- 39. exact n-gram eval-decontamination (operators/dedupe.py
#        ngram_decontaminate): the GPT-3-style verbatim 13-gram collision
#        check. The "benchmark" is the doc_id % 50 == 3 subset of the
#        corpus itself, so every benchmark doc exactly contaminates its
#        source (n_shared = its distinct 13-gram count) and the gate is
#        non-vacuous on exact counts, not just row presence.
_DECON_N = 13


def _gram_list_expr_duck(n: int, words: str = "w") -> str:
    """DuckDB n-word-gram list over a bound words array — single source
    for every decontamination twin (two hand-maintained copies had to
    stay in lockstep with dedupe.distinct_ngrams — review-found)."""
    cat = " || ' ' || ".join(f"{words}[i+{j}]" for j in range(n))
    return (f"CASE WHEN len({words}) >= {n} THEN "
            f"list_transform(range(1, len({words}) - {n - 2}), "
            f"i -> {cat}) ELSE [] END")


def _ngram_decon_fn(spark: SparkSession) -> DataFrame:
    docs = spark.table("documents")
    bench = docs.filter("doc_id % 50 = 3")
    return dedupe.ngram_decontaminate(docs, bench, n=_DECON_N).orderBy(
        "corpus_id", "benchmark_id")


def _ngram_decon_duck_sql() -> str:
    grams = _gram_list_expr_duck(_DECON_N)
    words = _words_expr("text", "duckdb")
    return f"""
WITH wrds AS (
  SELECT doc_id, {words} AS w FROM documents
), cg AS (
  SELECT doc_id AS corpus_id, unnest(list_distinct({grams})) AS gram
  FROM wrds
), bg AS (
  SELECT doc_id AS benchmark_id, unnest(list_distinct({grams})) AS gram
  FROM wrds WHERE doc_id % 50 = 3
)
SELECT corpus_id, benchmark_id, CAST(COUNT(*) AS BIGINT) AS n_shared
FROM cg JOIN bg USING (gram)
GROUP BY corpus_id, benchmark_id
ORDER BY corpus_id, benchmark_id
"""


_def("decontaminate_ngram_overlap", _ngram_decon_fn, _ngram_decon_duck_sql(),
     "documents")


# -- 40. per-source quota cap (operators/sampling.py cap_per_key): at most
#        n docs per source, kept rows = the n smallest salted hashes
#        within the key — deterministic, reproducible, order-independent.
def _cap_fn(spark: SparkSession) -> DataFrame:
    return sampling.cap_per_key(
        spark.table("documents"), key_col="source", n=5,
        order_cols=("doc_id",), salt="r4").select("doc_id", "source")


_CAP_DUCK = """
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5(concat_ws('|', 'r4', CAST(doc_id AS VARCHAR))) ASC,
                    doc_id ASC) AS rn
  FROM documents) t
WHERE rn <= 5
"""

_def("sample_cap_per_source", _cap_fn, _CAP_DUCK, "documents")


# -- 41. Gopher-style repetition signals (operators/quality_signals.py):
#        duplicate-line and top-2-gram accounting as INTEGER numerators/
#        denominators (the oracle discipline — no float fractions cross
#        the gate). Duplicated lines are seeded on doc_id % 6 == 0 so
#        the dup-line branch is non-vacuous.
_REP_SEED = "\nrepeated line alpha\nrepeated line alpha"


def _repsig_fn(spark: SparkSession) -> DataFrame:
    seeded = spark.table("documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 6 == 0,
               F.concat(F.col("text"), F.lit(_REP_SEED)))
        .otherwise(F.col("text")).alias("text"))
    return quality_signals.repetition_signals(seeded)


def _repsig_duck_sql() -> str:
    words = _words_expr("text", "duckdb")
    grams2 = ("CASE WHEN len(w) >= 2 THEN "
              "list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]) "
              "ELSE [] END")
    seed = _REP_SEED.replace("\n", "' || chr(10) || '")
    return f"""
WITH seeded AS (
  SELECT doc_id,
         CASE WHEN doc_id % 6 = 0 THEN text || '{seed}'
              ELSE text END AS text
  FROM documents
), base AS (
  SELECT doc_id, CAST(length(text) AS BIGINT) AS total_chars, text
  FROM seeded
), lns AS (
  SELECT doc_id,
         unnest(list_filter(string_split(text, chr(10)), ln -> ln != ''))
           AS line
  FROM base
), lg AS (
  SELECT doc_id, line, COUNT(*) AS c FROM lns GROUP BY doc_id, line
), ls AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_lines,
         CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT)
           AS n_dup_lines,
         CAST(SUM(CASE WHEN c >= 2 THEN c * length(line) ELSE 0 END)
              AS BIGINT) AS dup_line_chars
  FROM lg GROUP BY doc_id
), wrds AS (
  SELECT doc_id, {words} AS w FROM base
), grams AS (
  SELECT doc_id, unnest({grams2}) AS gram FROM wrds
), gg AS (
  SELECT doc_id, gram, COUNT(*) AS c FROM grams GROUP BY doc_id, gram
), tc AS (
  SELECT doc_id, MAX(c) AS top_c FROM gg GROUP BY doc_id
), top AS (
  SELECT g.doc_id, CAST(MAX(g.c) AS BIGINT) AS top2_count,
         MIN(g.gram) AS g2
  FROM gg g JOIN tc ON g.doc_id = tc.doc_id AND g.c = tc.top_c
  GROUP BY g.doc_id
)
SELECT b.doc_id, b.total_chars,
       COALESCE(ls.n_lines, 0) AS n_lines,
       COALESCE(ls.n_dup_lines, 0) AS n_dup_lines,
       COALESCE(ls.dup_line_chars, 0) AS dup_line_chars,
       COALESCE(top.top2_count, 0) AS top2_count,
       COALESCE(CAST(top.top2_count * length(top.g2) AS BIGINT), 0)
         AS top2_chars
FROM base b
LEFT JOIN ls ON b.doc_id = ls.doc_id
LEFT JOIN top ON b.doc_id = top.doc_id
"""


_def("repetition_signals", _repsig_fn, _repsig_duck_sql(), "documents")


# -- 42. domain-mixture sampling (operators/sampling.py mixture_sample):
#        target-composition downsampling; rate arithmetic written with
#        identical literals and operation order in both engines so the
#        float comparison at the membership boundary is bit-identical
#        (the same discipline as sample_stratified).
_MIX_SHARES = {"fr": 0.5, "en": 0.4}
_MIX_BUDGET = 200


def _mix_fn(spark: SparkSession) -> DataFrame:
    return sampling.mixture_sample(
        spark.table("documents"), key_col="lang", shares=_MIX_SHARES,
        budget=_MIX_BUDGET, key_cols=("doc_id",), salt="r4mix",
    ).select("doc_id", "lang")


def _mix_duck_sql() -> str:
    frac = ("CAST(CAST('0x' || substr(md5(concat_ws('|', 'r4mix', "
            "CAST(doc_id AS VARCHAR))), 1, 8) AS BIGINT) AS DOUBLE) "
            f"/ {float(16 ** 8)}")
    case = ("CASE lang "
            + " ".join(f"WHEN '{k}' THEN {float(s)}"
                       for k, s in sorted(_MIX_SHARES.items()))
            + " ELSE 0.0 END")
    return f"""
WITH cnt AS (
  SELECT lang, CAST(COUNT(*) AS DOUBLE) AS n FROM documents GROUP BY lang
)
SELECT doc_id, lang
FROM documents JOIN cnt USING (lang)
WHERE ({frac}) < least(1.0, ({float(_MIX_BUDGET)} * ({case})) / n)
"""


_def("sample_mixture", _mix_fn, _mix_duck_sql(), "documents")


# -- 43. repeated-span mining (operators/dedupe.py repeated_spans): locate
#        verbatim 20-word runs shared across documents, with positions.
#        A 20-word boilerplate sentence is seeded onto doc_id % 9 == 2
#        docs so the span table is non-vacuous with KNOWN positions; the
#        corpus may contribute additional organic repeats (both engines
#        must agree on those too).
_SPAN_SEED = ("this document is provided as is without warranty of any "
              "kind whatsoever by the publisher and may be redistributed "
              "freely")  # exactly 20 words
_SPAN_N = 20


def _span_seeded(spark: SparkSession) -> DataFrame:
    """documents with the seed sentence appended to doc_id % 9 == 2."""
    return spark.table("documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 9 == 2,
               F.concat(F.col("text"), F.lit(" " + _SPAN_SEED)))
        .otherwise(F.col("text")).alias("text"))


# the twins of _span_seeded and of repeated_spans' occurrence table
_SPAN_SEEDED_CTE = f"""
WITH seeded AS (
  SELECT doc_id,
         CASE WHEN doc_id % 9 = 2 THEN text || ' {_SPAN_SEED}'
              ELSE text END AS text
  FROM documents
)"""
_SPAN_GRAMS = (f"list_transform(range(1, len(w) - {_SPAN_N - 2}), "
               f"i -> {{'p': i - 1, 'g': array_to_string("
               f"list_slice(w, i, i + {_SPAN_N - 1}), ' ')}})")
_SPAN_OCC_CTE = f"""occ AS (
  SELECT doc_id, s['p'] AS word_pos, md5(s['g']) AS gram_md5
  FROM (SELECT doc_id, unnest(CASE WHEN len(w) >= {_SPAN_N}
                              THEN {_SPAN_GRAMS} ELSE [] END) AS s
        FROM wrds) t
)"""


def _spans_fn(spark: SparkSession) -> DataFrame:
    return dedupe.repeated_spans(_span_seeded(spark), n=_SPAN_N).orderBy(
        "doc_id", "word_pos", "gram_md5")


def _spans_duck_sql() -> str:
    words = _words_expr("text", "duckdb")
    return f"""{_SPAN_SEEDED_CTE}, wrds AS (
  SELECT doc_id, {words} AS w FROM seeded
), {_SPAN_OCC_CTE}, dfreq AS (
  SELECT gram_md5, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM occ GROUP BY gram_md5
  HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND 1000
)
SELECT occ.doc_id, CAST(occ.word_pos AS INT) AS word_pos,
       occ.gram_md5, dfreq.n_docs
FROM occ JOIN dfreq USING (gram_md5)
ORDER BY doc_id, word_pos, gram_md5
"""


_def("repeated_span_mining", _spans_fn, _spans_duck_sql(), "documents")


# -- 43b. span cutting (operators/dedupe.py cut_repeated_spans): the
#         curation ACTION on the span report — every non-canonical
#         occurrence's window removed from the word stream, one copy
#         kept corpus-wide. Gate compares md5 of the rebuilt text
#         (byte-exact). Struct MIN picks the canonical occurrence —
#         lexicographic (doc_id, word_pos) in both engines.
def _spans_cut_fn(spark: SparkSession) -> DataFrame:
    seeded = _span_seeded(spark)
    spans = dedupe.repeated_spans(seeded, n=_SPAN_N)
    out = dedupe.cut_repeated_spans(seeded, spans, n=_SPAN_N)
    return out.select("doc_id", F.md5("text").alias("cut_hash"))


def _spans_cut_duck_sql() -> str:
    words = _words_expr("text", "duckdb")
    return f"""{_SPAN_SEEDED_CTE}, wrds AS (
  -- w = lowered stream (span matching); wo = original-case stream
  -- (reconstruction) — position-aligned, lower() never moves whitespace
  SELECT doc_id, {words} AS w,
         list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS wo
  FROM seeded
), {_SPAN_OCC_CTE}, dfreq AS (
  SELECT gram_md5 FROM occ GROUP BY gram_md5
  HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND 1000
), spans AS (
  SELECT occ.* FROM occ JOIN dfreq USING (gram_md5)
), canon AS (
  SELECT gram_md5,
         MIN(struct_pack(d := doc_id, p := word_pos)) AS c
  FROM spans GROUP BY gram_md5
), tagged AS (
  SELECT s.doc_id, s.word_pos,
         (s.doc_id = canon.c['d'] AND s.word_pos = canon.c['p']) AS is_canon
  FROM spans s JOIN canon USING (gram_md5)
), cuts AS (
  SELECT doc_id,
         list(DISTINCT word_pos) FILTER (WHERE NOT is_canon) AS cut_starts,
         COALESCE(list(DISTINCT word_pos) FILTER (WHERE is_canon), [])
           AS keep_starts
  FROM tagged
  GROUP BY doc_id
  HAVING COUNT(*) FILTER (WHERE NOT is_canon) > 0
)
SELECT w.doc_id,
       md5(CASE WHEN cuts.cut_starts IS NULL
                THEN COALESCE(array_to_string(w.wo, ' '), '')
                ELSE COALESCE(array_to_string(
                  list_filter(w.wo, (x, i) ->
                    len(list_filter(cuts.cut_starts,
                        s -> (i - 1) >= s AND (i - 1) < s + {_SPAN_N})) = 0
                    OR len(list_filter(cuts.keep_starts,
                        s -> (i - 1) >= s AND (i - 1) < s + {_SPAN_N})) > 0),
                  ' '), '')
           END) AS cut_hash
FROM wrds w LEFT JOIN cuts ON w.doc_id = cuts.doc_id
"""


_def("repeated_span_cut", _spans_cut_fn, _spans_cut_duck_sql(), "documents")


# -- 44. C4-style cleaning (operators/quality_signals.py c4_clean): the
#        published line/page rules, byte-exact on the cleaned text.
#        'lorem ipsum' / '{' page poisons are seeded deterministically.
#        Dialect: last-char extraction is substring(s,-1,1) in Spark but
#        right(s,1) in DuckDB (negative substr start is Postgres-empty).
def _c4_fn(spark: SparkSession) -> DataFrame:
    seeded = spark.table("documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 13 == 5,
               F.concat(F.col("text"), F.lit(" Lorem Ipsum dolor.")))
        .when(F.col("doc_id") % 17 == 4,
              F.concat(F.col("text"), F.lit(" {json: artifact}")))
        .otherwise(F.col("text")).alias("text"))
    out = quality_signals.c4_clean(seeded)
    return out.select("doc_id", F.md5("clean_text").alias("clean_hash"),
                      "n_kept", "n_dropped", "n_sentences", "c4_keep")


def _c4_duck_sql() -> str:
    terms = ", ".join("'" + t.replace("'", "''") + "'" for t in C4_TERMINALS)
    line_ok = (
        f"right(trim(ln), 1) IN ({terms}) "
        f"AND len(list_filter(regexp_split_to_array(trim(ln), '\\s+'), "
        f"w -> w != '')) >= {C4_MIN_LINE_WORDS} "
        f"AND NOT contains(lower(ln), 'javascript')")
    return f"""
WITH seeded AS (
  SELECT doc_id,
         CASE WHEN doc_id % 13 = 5 THEN text || ' Lorem Ipsum dolor.'
              WHEN doc_id % 17 = 4 THEN text || ' {{json: artifact}}'
              ELSE text END AS text
  FROM documents
), base AS (
  -- COALESCE mirrors the operator's NULL-text zero-fill (c4_clean
  -- treats NULL as '' so counts are 0, never F.size(NULL) = -1)
  SELECT doc_id, COALESCE(text, '') AS text,
         list_filter(string_split(COALESCE(text, ''), chr(10)),
                     ln -> ln != '') AS lines
  FROM seeded
), cleaned AS (
  SELECT doc_id, text, lines,
         list_filter(lines, ln -> {line_ok}) AS kept
  FROM base
), shaped AS (
  SELECT doc_id, text,
         COALESCE(array_to_string(kept, chr(10)), '') AS clean_text,
         CAST(len(kept) AS BIGINT) AS n_kept,
         CAST(len(lines) - len(kept) AS BIGINT) AS n_dropped
  FROM cleaned
)
SELECT doc_id, md5(clean_text) AS clean_hash, n_kept, n_dropped,
       CAST(len(regexp_extract_all(clean_text, '[.!?]')) AS BIGINT)
         AS n_sentences,
       (NOT contains(lower(text), 'lorem ipsum')
        AND NOT contains(text, '{{')
        AND len(regexp_extract_all(clean_text, '[.!?]'))
            >= {C4_MIN_SENTENCES}) AS c4_keep
FROM shaped
"""


_def("c4_clean", _c4_fn, _c4_duck_sql(), "documents")


# -- 45. SFT pair mining (operators/sft.py): documents shaped into
#        transcripts (source = conversation, contiguous per-conv turn
#        index via row_number, role cycling user/assistant/tool), then
#        consecutive user→assistant pairs extracted. Hashes pin prompt/
#        response bytes; contiguity means a tool turn between them
#        disqualifies the pair in BOTH engines identically. The shaping
#        is single-sourced (one Spark helper + one SQL CTE) across the
#        pair and multi-turn entries — four hand-synced copies is how
#        twins silently diverge.
def _turn_idx() -> Column:
    """0-based turn index of a document within its source, by doc_id."""
    w = Window.partitionBy("source").orderBy(F.asc("doc_id"))
    return (F.row_number().over(w) - 1).cast("int")


def _doc_turns(spark: SparkSession, *cols) -> DataFrame:
    """The documents table shaped as transcripts: conv_id = source,
    turn_idx = ``_turn_idx()``, then ``cols``."""
    return spark.table("documents").select(
        F.col("source").alias("conv_id"), _turn_idx().alias("turn_idx"),
        *cols)


def _cycled_role() -> Column:
    """user → assistant → tool by turn index."""
    return F.element_at(
        F.array(F.lit("user"), F.lit("assistant"), F.lit("tool")),
        (_turn_idx() % 3 + 1).cast("int"))


def _sft_turns_df(spark: SparkSession) -> DataFrame:
    return _doc_turns(spark, _cycled_role().alias("role"), "text")


_SFT_TURNS_CTE = """
turns AS (
  SELECT source AS conv_id,
         CAST(row_number() OVER w - 1 AS INT) AS turn_idx,
         (['user', 'assistant', 'tool'])[CAST((row_number() OVER w - 1) % 3
                                              + 1 AS INT)] AS role,
         text
  FROM documents
  WINDOW w AS (PARTITION BY source ORDER BY doc_id ASC)
)"""


# candidate pairs: each turn with the next turn's role, text and index
_SFT_PAIR_CTES = f"""
WITH {_SFT_TURNS_CTE}, cand AS (
  SELECT conv_id, turn_idx, role, text AS prompt,
         lead(role) OVER w2 AS nrole,
         lead(text) OVER w2 AS response,
         lead(turn_idx) OVER w2 AS nidx
  FROM turns
  WINDOW w2 AS (PARTITION BY conv_id ORDER BY turn_idx ASC)
)"""


def _sft_fn(spark: SparkSession) -> DataFrame:
    pairs = sft.sft_pairs(_sft_turns_df(spark))
    return pairs.select(
        "conv_id", "turn_idx",
        F.md5("prompt").alias("prompt_hash"),
        F.md5("response").alias("response_hash"),
        "prompt_chars", "response_chars")


_SFT_DUCK = f"""{_SFT_PAIR_CTES}
SELECT conv_id, turn_idx, md5(prompt) AS prompt_hash,
       md5(response) AS response_hash,
       CAST(COALESCE(length(prompt), 0) AS BIGINT) AS prompt_chars,
       CAST(COALESCE(length(response), 0) AS BIGINT) AS response_chars
FROM cand
WHERE role = 'user' AND nrole = 'assistant' AND nidx = turn_idx + 1
"""

_def("sft_pairs", _sft_fn, _SFT_DUCK, "documents")


# -- 45b. multi-turn SFT assembly (operators/sft.py sft_multiturn): the
#         truncated-history variant — prompt = last N turns as
#         'role: text' lines. Context arrays are explicitly sorted by
#         turn index in both engines (frame iteration order is not a
#         contract anywhere).
_SFT_CTX = 4


def _sft_mt_fn(spark: SparkSession) -> DataFrame:
    out = sft.sft_multiturn(_sft_turns_df(spark),
                            max_context_turns=_SFT_CTX)
    return out.select("conv_id", "turn_idx",
                      F.md5("prompt").alias("prompt_hash"),
                      F.md5("response").alias("response_hash"),
                      "n_context_turns")


_SFT_MT_DUCK = f"""
WITH {_SFT_TURNS_CTE}, cand AS (
  SELECT conv_id, turn_idx, role, text AS response,
         list_sort(list(struct_pack(i := turn_idx, r := role, t := text))
                   OVER (PARTITION BY conv_id ORDER BY turn_idx ASC
                         ROWS BETWEEN {_SFT_CTX} PRECEDING AND 1 PRECEDING))
           AS ctx
  FROM turns
)
SELECT conv_id, turn_idx,
       md5(array_to_string(
         list_transform(ctx, s -> COALESCE(s['r'], '') || ': '
                                  || COALESCE(s['t'], '')),
         chr(10))) AS prompt_hash,
       md5(response) AS response_hash,
       CAST(len(ctx) AS INT) AS n_context_turns
FROM cand
WHERE role = 'assistant' AND len(ctx) >= 1
  AND ctx[-1]['r'] = 'user' AND ctx[-1]['i'] = turn_idx - 1
"""

_def("sft_multiturn", _sft_mt_fn, _SFT_MT_DUCK, "documents")


# -- 45c. composed SFT curation (operators/curation.py curate_sft): the
#         full RLHF data-prep flow — pair mining → 13-gram benchmark
#         decontamination → Gopher repetition filter → fixed-budget
#         packing — end-to-end in both engines. The benchmark is the
#         doc_id % 31 == 7 document subset, so examples whose prompt or
#         response IS a benchmark doc's text are contaminated by
#         construction (non-vacuous at exact counts). Budget 512 makes
#         packing wrap within shards at sf0.01.
_CSFT_BUDGET = 512
_CSFT_N = 13


def _curate_sft_fn(spark: SparkSession) -> DataFrame:
    bench = spark.table("documents").filter("doc_id % 31 = 7")
    out = curation.curate_sft(_sft_turns_df(spark), bench,
                              ngram_n=_CSFT_N, budget=_CSFT_BUDGET)
    return out.select(
        "conv_id", "turn_idx",
        F.md5("prompt").alias("prompt_hash"),
        F.md5("response").alias("response_hash"),
        "token_count", "shard", "seq_index", "seq_token_offset")


def _curate_sft_duck_sql() -> str:
    cat = " || ' ' || ".join(f"w[i+{j}]" for j in range(_CSFT_N))
    grams = (f"CASE WHEN len(w) >= {_CSFT_N} THEN "
             f"list_transform(range(1, len(w) - {_CSFT_N - 2}), "
             f"i -> {cat}) ELSE [] END")
    ex_words = _words_expr("example_text", "duckdb")
    doc_words = _words_expr("text", "duckdb")
    grams2 = ("CASE WHEN len(w) >= 2 THEN "
              "list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]) "
              "ELSE [] END")
    return f"""{_SFT_PAIR_CTES}, ex AS (
  SELECT conv_id, turn_idx,
         conv_id || ':' || lpad(CAST(turn_idx AS VARCHAR), 6, '0')
           AS example_id,
         prompt, response,
         prompt || chr(10) || chr(10) || response AS example_text
  FROM cand
  WHERE role = 'user' AND nrole = 'assistant' AND nidx = turn_idx + 1
), exw AS (
  SELECT example_id, {ex_words} AS w FROM ex
), exg AS (
  SELECT example_id, unnest(list_distinct({grams})) AS gram FROM exw
), bw AS (
  SELECT doc_id, {doc_words} AS w FROM documents WHERE doc_id % 31 = 7
), bg AS (
  SELECT DISTINCT unnest(list_distinct({grams})) AS gram FROM bw
), flagged AS (
  SELECT DISTINCT example_id FROM exg JOIN bg USING (gram)
), clean AS (
  SELECT ex.* FROM ex ANTI JOIN flagged USING (example_id)
), base AS (
  SELECT example_id, CAST(length(example_text) AS BIGINT) AS total_chars,
         example_text
  FROM clean
), lns AS (
  SELECT example_id,
         unnest(list_filter(string_split(example_text, chr(10)),
                            ln -> ln != '')) AS line
  FROM base
), lg AS (
  SELECT example_id, line, COUNT(*) AS c FROM lns GROUP BY example_id, line
), ls AS (
  SELECT example_id,
         CAST(SUM(CASE WHEN c >= 2 THEN c * length(line) ELSE 0 END)
              AS BIGINT) AS dup_line_chars
  FROM lg GROUP BY example_id
), w2g AS (
  SELECT example_id, {_words_expr('example_text', 'duckdb')} AS w FROM base
), g2 AS (
  SELECT example_id, unnest({grams2}) AS gram FROM w2g
), gg AS (
  SELECT example_id, gram, COUNT(*) AS c FROM g2 GROUP BY example_id, gram
), tc AS (
  SELECT example_id, MAX(c) AS top_c FROM gg GROUP BY example_id
), top AS (
  SELECT g.example_id, CAST(MAX(g.c) AS BIGINT) AS top2_count,
         MIN(g.gram) AS g2m
  FROM gg g JOIN tc ON g.example_id = tc.example_id AND g.c = tc.top_c
  GROUP BY g.example_id
), sig AS (
  SELECT b.example_id, b.total_chars,
         COALESCE(ls.dup_line_chars, 0) AS dup_line_chars,
         COALESCE(CAST(top.top2_count * length(top.g2m) AS BIGINT), 0)
           AS top2_chars
  FROM base b
  LEFT JOIN ls ON b.example_id = ls.example_id
  LEFT JOIN top ON b.example_id = top.example_id
), keptids AS (
  SELECT example_id FROM sig
  WHERE dup_line_chars * 1000000 <= 300000 * total_chars
    AND top2_chars * 1000000 <= 200000 * total_chars
), kept AS (
  SELECT clean.* FROM clean SEMI JOIN keptids USING (example_id)
), toks AS (
  SELECT *, CAST(length(example_text) // 4 AS BIGINT) AS token_count,
         substr(md5(conv_id), 1, 1) AS shard
  FROM kept
), cum AS (
  SELECT *, CAST(COALESCE(SUM(token_count) OVER (
              PARTITION BY shard ORDER BY example_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cum_before
  FROM toks
)
SELECT conv_id, turn_idx, md5(prompt) AS prompt_hash,
       md5(response) AS response_hash, token_count, shard,
       CAST(cum_before // {_CSFT_BUDGET} AS BIGINT) AS seq_index,
       CAST(cum_before - (cum_before // {_CSFT_BUDGET}) * {_CSFT_BUDGET}
            AS BIGINT) AS seq_token_offset
FROM cum
"""


_def("curate_sft", _curate_sft_fn, _curate_sft_duck_sql(), "documents")


# -- 45c-bis. SFT curation manifest (operators/curation.py
#             sft_curation_report): the per-shard audit rollup of 45c —
#             the twin AGGREGATES the full curate_sft twin as a
#             subquery (one source, the semantic_dedup embedding rule).
def _curate_sft_report_fn(spark: SparkSession) -> DataFrame:
    # REUSE the curate_sft entry verbatim (its projection keeps every
    # column the report needs) — a parameter change there must grade
    # this manifest too, never a silently different pipeline
    return curation.sft_curation_report(_curate_sft_fn(spark))


def _curate_sft_report_duck_sql() -> str:
    return f"""
SELECT shard,
       CAST(COUNT(*) AS BIGINT) AS n_examples,
       CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS n_conversations,
       CAST(SUM(token_count) AS BIGINT) AS n_tokens,
       CAST(MAX(seq_index) + 1 AS BIGINT) AS n_sequences
FROM ({_curate_sft_duck_sql()}) ex
GROUP BY shard
"""


_def("curate_sft_report", _curate_sft_report_fn, _curate_sft_report_duck_sql(),
     "documents")


# -- 45d. conversation lint (operators/convlint.py lint_conversations):
#         transcript-table integrity before mining — index gaps (seeded
#         by dropping doc_id % 37 == 1 AFTER indexing), NULL roles
#         (% 41 == 2), NULL texts (% 43 == 3), and role-transition
#         validity against the documented chat state machine (the
#         user→assistant→tool cycle makes tool→user transitions bad by
#         construction, so the branch is non-vacuous corpus-wide).
def _lint_turns_df(spark: SparkSession) -> DataFrame:
    role = F.when(F.col("doc_id") % 41 == 2, F.lit(None).cast("string")) \
        .otherwise(_cycled_role())
    text = F.when(F.col("doc_id") % 43 == 3,
                  F.lit(None).cast("string")).otherwise(F.col("text"))
    return (_doc_turns(spark, role.alias("role"), text.alias("text"), "doc_id")
            .filter(F.col("doc_id") % 37 != 1)     # index gaps
            .drop("doc_id"))


def _lint_fn(spark: SparkSession) -> DataFrame:
    return convlint.lint_conversations(_lint_turns_df(spark))


def _lint_duck_sql() -> str:
    roles = ", ".join(f"'{r}'" for r in ROLES)
    pairs = ", ".join(f"'{a}>{b}'" for a, b in VALID_TRANSITIONS)
    return f"""
WITH shaped AS (
  SELECT source AS conv_id,
         CAST(row_number() OVER w - 1 AS INT) AS turn_idx,
         CASE WHEN doc_id % 41 = 2 THEN NULL
              ELSE (['user', 'assistant', 'tool'])[
                CAST((row_number() OVER w - 1) % 3 + 1 AS INT)] END AS role,
         CASE WHEN doc_id % 43 = 3 THEN NULL ELSE text END AS text,
         doc_id
  FROM documents
  WINDOW w AS (PARTITION BY source ORDER BY doc_id ASC)
), kept AS (
  SELECT conv_id, turn_idx, role, text FROM shaped WHERE doc_id % 37 <> 1
), lagged AS (
  SELECT conv_id, turn_idx, role, text,
         lag(role) OVER w2 AS prev_role,
         row_number() OVER w2 AS rn
  FROM kept
  WINDOW w2 AS (PARTITION BY conv_id ORDER BY turn_idx ASC)
), marked AS (
  SELECT conv_id, turn_idx,
         CASE WHEN text IS NULL THEN 1 ELSE 0 END AS null_text,
         CASE WHEN role IN ({roles}) THEN 0 ELSE 1 END AS bad_role,
         CASE WHEN rn = 1 THEN 0
              WHEN role IN ({roles}) AND prev_role IN ({roles})
                   AND (prev_role || '>' || role) IN ({pairs}) THEN 0
              ELSE 1 END AS bad_trans,
         CASE WHEN rn = 1 THEN
           (CASE WHEN role IN ('system', 'user') THEN 1 ELSE 0 END)
         END AS starts_valid
  FROM lagged
), agg AS (
  SELECT conv_id,
         CAST(count(*) AS BIGINT) AS n_turns,
         CAST(count(*) - count(DISTINCT turn_idx) AS BIGINT) AS n_dup_idx,
         CAST(max(turn_idx) - min(turn_idx) + 1
              - count(DISTINCT turn_idx) AS BIGINT) AS index_gaps,
         CAST(sum(null_text) AS BIGINT) AS n_null_text,
         CAST(sum(bad_role) AS BIGINT) AS n_bad_role,
         CAST(sum(bad_trans) AS BIGINT) AS n_bad_transitions,
         (max(starts_valid) = 1) AS starts_valid
  FROM marked GROUP BY conv_id
)
SELECT *,
       (n_dup_idx = 0 AND index_gaps = 0 AND n_null_text = 0
        AND n_bad_role = 0 AND n_bad_transitions = 0 AND starts_valid)
         AS lint_ok
FROM agg
"""


_def("conversation_lint", _lint_fn, _lint_duck_sql(), "documents")


# -- 45e. context-budget truncation (operators/convlint.py
#         truncate_history): newest-first running token sum per
#         conversation; rows annotated with kept (suffix fits budget OR
#         newest turn). Budget 96 makes the flag flip mid-conversation
#         at sf0.01's text lengths.
_TRUNC_BUDGET = 96


def _trunc_fn(spark: SparkSession) -> DataFrame:
    out = convlint.truncate_history(_sft_turns_df(spark),
                                    budget_tokens=_TRUNC_BUDGET)
    return out.select("conv_id", "turn_idx", "turn_tokens",
                      "suffix_tokens", "kept")


def _trunc_duck_sql() -> str:
    toks = "COALESCE(length(text), 0) // 4"
    return f"""
WITH {_SFT_TURNS_CTE}
SELECT conv_id, turn_idx,
       CAST({toks} AS BIGINT) AS turn_tokens,
       CAST(SUM({toks}) OVER w3 AS BIGINT) AS suffix_tokens,
       (SUM({toks}) OVER w3 <= {_TRUNC_BUDGET}
        OR row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx DESC)
           = 1) AS kept
FROM turns
WINDOW w3 AS (PARTITION BY conv_id ORDER BY turn_idx DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


_def("truncate_history", _trunc_fn, _trunc_duck_sql(), "documents")


# -- 45f. learned quality filter (operators/quality_model.py): the
#         shipped linear model's integer score over every document —
#         model-based curation (GPT-3/LLaMA-style classifier filtering)
#         with the engine's integer-only oracle discipline. Garbage is
#         seeded (digit/punct noise on doc_id % 23 == 6, >15-char token
#         runs on % 29 == 8) so the drop branch is non-vacuous.
_QM_NOISE = " 0x9A$@! 77##%% 123456 @@@)(*&^ 999 $$$"
_QM_LONGTOK = " pneumonoultramicroscopicsilicovolcanoconiosis" * 3


def _qm_fn(spark: SparkSession) -> DataFrame:
    seeded = spark.table("documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 23 == 6,
               F.concat(F.col("text"), F.lit(_QM_NOISE * 4)))
        .when(F.col("doc_id") % 29 == 8,
              F.concat(F.col("text"), F.lit(_QM_LONGTOK)))
        .otherwise(F.col("text")).alias("text"))
    return quality_model.with_quality_score(seeded).select(
        "doc_id", "qm_score", "qm_keep")


def _qm_duck_sql() -> str:
    stop_body = "|".join(QM_STOPWORDS)
    w = PUBLISHED_WEIGHTS
    noise = (_QM_NOISE * 4).replace("'", "''")
    longtok = _QM_LONGTOK.replace("'", "''")
    feats = {
        "bias": "1",
        "n_words": ("len(list_filter(regexp_split_to_array(t, '\\s+'), "
                    "x -> x != ''))"),
        "n_stop": (f"len(regexp_extract_all(lower(t), "
                   f"'\\b(?:{stop_body})\\b'))"),
        "n_terminal": "len(regexp_extract_all(t, '[.!?]'))",
        "n_punct": r"len(regexp_extract_all(t, '[^A-Za-z0-9\s]'))",
        "n_digit": "len(regexp_extract_all(t, '[0-9]'))",
        "n_upper": "len(regexp_extract_all(t, '[A-Z]'))",
        "n_long": ("len(list_filter(regexp_split_to_array(t, '\\s+'), "
                   "x -> length(x) > 15))"),
    }
    score = " + ".join(f"({w[n]}) * CAST({feats[n]} AS BIGINT)"
                       for n in ("bias", "n_words", "n_stop", "n_terminal",
                                 "n_punct", "n_digit", "n_upper", "n_long")
                       if w[n])
    return f"""
WITH seeded AS (
  SELECT doc_id,
         CASE WHEN doc_id % 23 = 6 THEN text || '{noise}'
              WHEN doc_id % 29 = 8 THEN text || '{longtok}'
              ELSE text END AS text
  FROM documents
), base AS (
  SELECT doc_id, COALESCE(text, '') AS t FROM seeded
)
SELECT doc_id, CAST({score} AS BIGINT) AS qm_score,
       (CAST({score} AS BIGINT) > 0) AS qm_keep
FROM base
"""


_def("quality_model_scores", _qm_fn, _qm_duck_sql(), "documents")


# -- 45g. reference-corpus familiarity (operators/lm_filter.py): the
#         CCNet-style LM quality step with integer discipline — the
#         doc_id % 5 == 0 subset plays the trusted reference corpus, the
#         rest is scored against its bigram table. OOV garbage is seeded
#         on doc_id % 19 == 4 so the n_known = 0 branch is non-vacuous.
_LM_GARBAGE = "zqx9 vvk2 qqj7 xxp3 zzr8 wwm1 kkt4 yyn6"


def _lmfam_fn(spark: SparkSession) -> DataFrame:
    seeded = spark.table("documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 19 == 4, F.lit(_LM_GARBAGE))
        .otherwise(F.col("text")).alias("text"))
    ref = lm_filter.bigram_counts(seeded.filter("doc_id % 5 = 0"))
    return lm_filter.lm_familiarity(seeded.filter("doc_id % 5 <> 0"), ref)


def _lmfam_duck_sql() -> str:
    words = _words_expr("text", "duckdb")
    grams2 = ("CASE WHEN len(w) >= 2 THEN "
              "list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]) "
              "ELSE [] END")
    return f"""
WITH seeded AS (
  SELECT doc_id,
         CASE WHEN doc_id % 19 = 4 THEN '{_LM_GARBAGE}'
              ELSE text END AS text
  FROM documents
), refw AS (
  SELECT doc_id, {words} AS w FROM seeded WHERE doc_id % 5 = 0
), refg AS (
  SELECT unnest({grams2}) AS bigram FROM refw
), ref AS (
  SELECT bigram, CAST(COUNT(*) AS BIGINT) AS cnt FROM refg GROUP BY bigram
), docw AS (
  SELECT doc_id, {words} AS w FROM seeded WHERE doc_id % 5 <> 0
), docg AS (
  SELECT doc_id, unnest({grams2}) AS bigram FROM docw
), sc AS (
  SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(SUM(CASE WHEN r.cnt IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_known,
         CAST(SUM(CASE WHEN r.cnt IS NOT NULL THEN LEAST(r.cnt, 1000)
                       ELSE 0 END) AS BIGINT) AS known_hits
  FROM docg d LEFT JOIN ref r USING (bigram) GROUP BY d.doc_id
)
SELECT s.doc_id, COALESCE(sc.n_bigrams, 0) AS n_bigrams,
       COALESCE(sc.n_known, 0) AS n_known,
       COALESCE(sc.known_hits, 0) AS known_hits
FROM (SELECT doc_id FROM seeded WHERE doc_id % 5 <> 0) s
LEFT JOIN sc ON s.doc_id = sc.doc_id
"""


_def("lm_familiarity", _lmfam_fn, _lmfam_duck_sql(), "documents")


# -- 45h. mixture epoch plan (operators/sampling.py mixture_plan): the
#         integer accounting that precedes mixture_sample — how many
#         full passes + remainder tokens a budget buys per domain under
#         ppm weights. 'zh' is deliberately absent from the weights
#         (planned out → zeros), covering the weight-0 branch.
_PLAN_WEIGHTS = {"en": 500000, "fr": 200000, "es": 200000, "de": 100000}
_PLAN_BUDGET = 40_000


def _plan_fn(spark: SparkSession) -> DataFrame:
    docs = spark.table("documents").select(
        "doc_id", "lang",
        F.expr("length(text) div 4").cast("bigint").alias("token_count"))
    return sampling.mixture_plan(docs, "lang", _PLAN_WEIGHTS, _PLAN_BUDGET)


def _plan_duck_sql() -> str:
    vals = ", ".join(f"('{k}', {v})"
                     for k, v in sorted(_PLAN_WEIGHTS.items()))
    return f"""
WITH totals AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(COALESCE(length(text) // 4, 0)) AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang
), wtable(lang, ppm) AS (
  VALUES {vals}
), weighted AS (
  -- FULL OUTER, matching the operator: a weighted domain with zero
  -- corpus rows still surfaces as a zero-supply plan row
  SELECT COALESCE(t.lang, w.lang) AS lang,
         CAST(COALESCE(t.n_docs, 0) AS BIGINT) AS n_docs,
         CAST(COALESCE(t.n_tokens, 0) AS BIGINT) AS n_tokens,
         CAST(COALESCE(w.ppm, 0) AS BIGINT) AS weight_ppm
  FROM totals t FULL OUTER JOIN wtable w ON t.lang = w.lang
), alloc AS (
  SELECT *,
         CAST((CAST({_PLAN_BUDGET} AS BIGINT) * weight_ppm) // 1000000
              AS BIGINT) AS allocated_tokens
  FROM weighted
)
SELECT lang, n_docs, n_tokens, weight_ppm, allocated_tokens,
       CAST(CASE WHEN n_tokens > 0 THEN allocated_tokens // n_tokens
                 ELSE 0 END AS BIGINT) AS full_epochs,
       CAST(allocated_tokens
            - (CASE WHEN n_tokens > 0 THEN allocated_tokens // n_tokens
                    ELSE 0 END) * n_tokens AS BIGINT) AS remainder_tokens
FROM alloc
"""


_def("mixture_plan", _plan_fn, _plan_duck_sql(), "documents")


# -- 45c. preference-pair mining (operators/sft.py preference_pairs): the
#         DPO data-prep step over the synthetic feedback frame — per
#         query, chosen = max-rated candidate, rejected = min-rated,
#         emitted when the DECIMAL gap ≥ 1.0; ties resolve to the lowest
#         feedback_id via the portable max-then-min-among-ties shape.
def _dpo_fn(spark: SparkSession) -> DataFrame:
    return sft.preference_pairs(_feedback_df(spark)).orderBy("query_id")


_DPO_DUCK = f"""
WITH {_FB_DUCK_BASE},
rated AS (
  SELECT query_id, feedback_id,
         CAST(numeric_rating AS DECIMAL(18,2)) AS r
  FROM feedback WHERE numeric_rating IS NOT NULL
), ext AS (
  SELECT query_id, MAX(r) AS max_r, MIN(r) AS min_r
  FROM rated GROUP BY query_id
), chosen AS (
  SELECT rated.query_id, MIN(feedback_id) AS chosen_id,
         MAX(r) AS chosen_rating
  FROM rated JOIN ext USING (query_id)
  WHERE r = max_r GROUP BY rated.query_id
), rejected AS (
  SELECT rated.query_id, MIN(feedback_id) AS rejected_id,
         MAX(r) AS rejected_rating
  FROM rated JOIN ext USING (query_id)
  WHERE r = min_r GROUP BY rated.query_id
)
SELECT query_id, chosen_id, rejected_id,
       CAST(chosen_rating AS DOUBLE) AS chosen_rating,
       CAST(rejected_rating AS DOUBLE) AS rejected_rating
FROM chosen JOIN rejected USING (query_id)
WHERE chosen_rating - rejected_rating >= CAST(1.0 AS DECIMAL(18,2))
  AND chosen_id <> rejected_id
ORDER BY query_id
"""

_def("preference_pairs", _dpo_fn, _DPO_DUCK, "events")


# -- 46. engine-native retrieval cache (pipeline/cache.py ↔ reference
#        redis_cache.py:35-264): replay a deterministic event history —
#        base sets, newer versions, bulk tombstones, a prefix clear with
#        later revival — through the REAL parquet-backed cache, then
#        as-of read at now=90. The twin resolves the same history in
#        pure SQL (latest-event-per-key window with the del>set tie
#        rank, TTL bound, clear/revive join). Values are md5 hex — no
#        encoding or float hazards.
def _scratch_dir(prefix: str) -> str:
    """A temp directory for an entry's staged table, removed when the
    process exits (the returned frame reads from it until then)."""
    path = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def _cache_fn(spark: SparkSession) -> DataFrame:
    docs = spark.table("documents")
    path = os.path.join(_scratch_dir("rs_cache_oracle_"), "store")
    # all four set families land in ONE multi-prefix append (per-row
    # prefix/ts columns) — the event replay is oracle setup, and six
    # sequential write jobs dominated the query's bench cost (r6)
    sets = (docs.select(F.lit("chunk").alias("prefix"), "doc_id",
                        F.md5("text").alias("value"),
                        (F.col("doc_id") % 97).alias("ts"))
            .unionByName(docs.filter("doc_id % 5 = 0").select(
                F.lit("chunk").alias("prefix"), "doc_id",
                F.md5(F.concat(F.col("text"), F.lit("v2"))).alias("value"),
                (F.col("doc_id") % 97 + 40).alias("ts")))
            .unionByName(docs.filter("doc_id < 50").select(
                F.lit("aux").alias("prefix"), "doc_id",
                F.md5("text").alias("value"), F.lit(10).alias("ts")))
            .unionByName(docs.filter("doc_id < 10").select(
                F.lit("aux").alias("prefix"), "doc_id",
                F.md5(F.concat(F.col("text"), F.lit("r"))).alias("value"),
                F.lit(35).alias("ts"))))
    cache.put_df(sets, path, F.col("prefix"),
                 cache.bulk_key_col(F.col("prefix"), "doc_id"),
                 F.col("value"), ttl=60, now=F.col("ts"))
    cache.delete_df(docs.filter("doc_id % 11 = 0"), path, "chunk",
                    cache.bulk_key_col("chunk", "doc_id"), now=88)
    # FUTURE-dated tombstones (backfill shape): must be invisible to
    # the as-of read at now=90 — pins the review-found as-of bound
    cache.delete_df(docs.filter("doc_id % 13 = 0"), path, "chunk",
                    cache.bulk_key_col("chunk", "doc_id"), now=120)
    cache.clear_prefix_mark(spark, path, "aux", now=30)
    return (cache.resolve(spark, path, now=90)
            .select("key", "value", "ts").orderBy("key"))


def _cache_duck_sql() -> str:
    # 'v' = bulk_key_col's non-NULL field tag (doc_id is never NULL here)
    def k(prefix: str) -> str:
        return (f"'rs:{prefix}:' || md5('{prefix}' || chr(31) || "
                f"'v' || CAST(doc_id AS VARCHAR))")

    return f"""
WITH ev AS (
  SELECT {k('chunk')} AS key, 'chunk' AS prefix, md5(text) AS value,
         CAST(doc_id % 97 AS BIGINT) AS ts, CAST(60 AS BIGINT) AS ttl,
         'set' AS op
  FROM documents
  UNION ALL
  SELECT {k('chunk')}, 'chunk', md5(text || 'v2'),
         CAST(doc_id % 97 + 40 AS BIGINT), 60, 'set'
  FROM documents WHERE doc_id % 5 = 0
  UNION ALL
  SELECT {k('chunk')}, 'chunk', NULL, 88, 0, 'del'
  FROM documents WHERE doc_id % 11 = 0
  UNION ALL
  SELECT {k('chunk')}, 'chunk', NULL, 120, 0, 'del'
  FROM documents WHERE doc_id % 13 = 0
  UNION ALL
  SELECT {k('aux')}, 'aux', md5(text), 10, 60, 'set'
  FROM documents WHERE doc_id < 50
  UNION ALL
  SELECT {k('aux')}, 'aux', md5(text || 'r'), 35, 60, 'set'
  FROM documents WHERE doc_id < 10
), visible AS (
  -- the as-of bound: events stamped after now=90 do not exist for
  -- this read (the del at ts=120 is a FUTURE event here)
  SELECT * FROM ev WHERE ts <= 90
), clears AS (
  SELECT 'aux' AS prefix, CAST(30 AS BIGINT) AS clear_ts
), latest AS (
  SELECT key, prefix, ts, ttl, value, op FROM (
    SELECT *, row_number() OVER (
      PARTITION BY key
      ORDER BY ts DESC,
               CASE WHEN op = 'del' THEN 1 ELSE 0 END DESC,
               ttl DESC, value DESC) AS rn
    FROM visible) t
  WHERE rn = 1
)
SELECT l.key AS key, l.value AS value, l.ts AS ts
FROM latest l LEFT JOIN clears c ON l.prefix = c.prefix
WHERE l.op = 'set' AND l.ts + l.ttl > 90
  AND (c.clear_ts IS NULL OR l.ts > c.clear_ts)
ORDER BY key
"""


_def("cache_asof_read", _cache_fn, _cache_duck_sql(), "documents")


# -- 47. deterministic RAG context assembly (operators/rag_chain.py ↔
#        reference chain.py:28-36 + the 'stuff' chain): synthetic
#        retrieval output (query_id = doc_id % 19, rank by doc_id),
#        top-k=4 under a 120-token budget, stuff-joined context, prompt
#        substitution. Hashes only — contexts embed full document text.
_RAG_K = 4
_RAG_BUDGET = 120


def _rag_hits(spark: SparkSession, *cols) -> DataFrame:
    """Synthetic retrieval output: query_id = doc_id % 19, text, ``cols``,
    rank by doc_id."""
    w = Window.partitionBy(F.col("doc_id") % 19).orderBy("doc_id")
    return spark.table("documents").select(
        (F.col("doc_id") % 19).alias("query_id"), "text", *cols,
        F.row_number().over(w).alias("rank"))


def _ragctx_fn(spark: SparkSession) -> DataFrame:
    hits = _rag_hits(spark)
    ctx = rag_chain.assemble_context(
        hits, k=_RAG_K, token_budget=_RAG_BUDGET)
    question = F.concat(F.lit("question "), F.col("query_id"))
    return ctx.select(
        "query_id",
        F.col("n_sources").cast("bigint").alias("n_sources"),
        F.col("context_tokens").cast("bigint").alias("context_tokens"),
        F.md5("context").alias("context_hash"),
        F.md5(rag_chain.rag_prompt(F.col("context"), question))
        .alias("prompt_hash")).orderBy("query_id")


def _ragctx_duck_sql() -> str:
    head, _, rest = DEFAULT_RAG_PROMPT.partition("{context}")
    mid, _, tail = rest.partition("{question}")

    def lit(s: str) -> str:
        return "e'" + (s.replace("\\", "\\\\").replace("'", "\\'")
                       .replace("\n", "\\n")) + "'"

    return f"""
WITH hits AS (
  SELECT doc_id % 19 AS query_id, text,
         row_number() OVER (PARTITION BY doc_id % 19
                            ORDER BY doc_id) AS rank
  FROM documents
), topk AS (
  SELECT * FROM hits WHERE rank <= {_RAG_K}
), cum AS (
  SELECT query_id, rank, text,
         sum(length(text) // 4) OVER (
           PARTITION BY query_id ORDER BY rank) AS cum_toks
  FROM topk
), kept AS (
  SELECT * FROM cum WHERE rank = 1 OR cum_toks <= {_RAG_BUDGET}
), ctx AS (
  SELECT query_id,
         CAST(count(*) AS BIGINT) AS n_sources,
         CAST(sum(length(text) // 4) AS BIGINT) AS context_tokens,
         string_agg(text, e'\\n\\n' ORDER BY rank) AS context
  FROM kept GROUP BY query_id
)
SELECT query_id, n_sources, context_tokens,
       md5(context) AS context_hash,
       md5({lit(head)} || context || {lit(mid)} ||
           'question ' || CAST(query_id AS VARCHAR) || {lit(tail)})
       AS prompt_hash
FROM ctx
ORDER BY query_id
"""


_def("rag_context_assembly", _ragctx_fn, _ragctx_duck_sql(), "documents")


# -- 48. format_answer parity at scale (chain.py:183-228): the full
#        RÉPONSE/SOURCES/STATISTIQUES block per query over the same
#        synthetic hits, literal timings, md5 output.
def _ragfmt_fn(spark: SparkSession) -> DataFrame:
    hits = _rag_hits(
        spark, F.concat(F.lit("doc_"), F.col("doc_id")).alias("source_name"),
        (F.col("doc_id") % 7).alias("page"))
    cits = (rag_chain.citations(hits, k=_RAG_K)
            .groupBy("query_id")
            .agg(F.array_sort(F.collect_list(F.struct(
                "rank", "line", "preview"))).alias("srcs")))
    fmt = rag_chain.format_answer_col(
        F.concat(F.lit("Réponse pour "), F.col("query_id")),
        F.expr("transform(srcs, s -> struct(s.line, s.preview))"),
        F.lit("0.12"), F.lit("0.34"), F.lit("0.46"), F.size("srcs"))
    return (cits.select("query_id",
                        F.size("srcs").cast("bigint").alias("num_sources"),
                        F.md5(fmt).alias("answer_hash"))
            .orderBy("query_id"))


def _ragfmt_duck_sql() -> str:
    bar = "=" * 80
    return f"""
WITH hits AS (
  SELECT doc_id % 19 AS query_id, text,
         'doc_' || CAST(doc_id AS VARCHAR) AS source_name,
         doc_id % 7 AS page,
         row_number() OVER (PARTITION BY doc_id % 19
                            ORDER BY doc_id) AS rank
  FROM documents
), cit AS (
  SELECT query_id, rank,
         '[' || CAST(rank AS VARCHAR) || '] ' || source_name ||
           ' (page ' || CAST(page AS VARCHAR) || ')' AS line,
         substr(replace(text, chr(10), ' '), 1, 200) || '...' AS preview
  FROM hits WHERE rank <= {_RAG_K}
), src AS (
  SELECT query_id, CAST(count(*) AS BIGINT) AS num_sources,
         string_agg(e'\\n' || line || e'\\n    ' || preview,
                    e'\\n' ORDER BY rank) AS block
  FROM cit GROUP BY query_id
)
SELECT query_id, num_sources,
       md5('{bar}' || e'\\n' || 'RÉPONSE' || e'\\n' || '{bar}' || e'\\n'
           || 'Réponse pour ' || CAST(query_id AS VARCHAR) || e'\\n'
           || e'\\n'
           || '{bar}' || e'\\n' || 'SOURCES' || e'\\n' || '{bar}'
           || e'\\n' || block || e'\\n'
           || e'\\n' || '{bar}' || e'\\n' || 'STATISTIQUES' || e'\\n'
           || '{bar}' || e'\\n'
           || 'Retrieval time: 0.12s' || e'\\n'
           || 'Generation time: 0.34s' || e'\\n'
           || 'Total time: 0.46s' || e'\\n'
           || 'Sources used: ' || CAST(num_sources AS VARCHAR))
       AS answer_hash
FROM src
ORDER BY query_id
"""


_def("rag_answer_format", _ragfmt_fn, _ragfmt_duck_sql(), "documents")


# -- 49. multi-query retrieval, rank-fused (rag_extras.multi_query_search
#        ↔ reference retrievers.py:79-104 + RRF): deduped union of
#        per-expansion BM25 top-k lists under integer-quantized
#        reciprocal rank. Same fixed query/expansions as entry 23b.
def _mq_fn(spark: SparkSession) -> DataFrame:
    out = rag_extras.multi_query_search(
        spark.table("documents"), _EXPANSION_QUERY, _expander(),
        k_per_query=_EXPANSION_K_PER, final_k=_EXPANSION_FINAL_K)
    return out.select(
        "doc_id", F.col("n_lists").cast("int").alias("n_lists"),
        F.col("fused_score").cast("bigint").alias("fused_score"),
        F.col("rank").cast("bigint").alias("rank"))


def _mq_duck_sql() -> str:
    legs = _expansion_legs_duck(lambda i, score: f"""
  SELECT doc_id,
         row_number() OVER (ORDER BY ({score}) DESC, doc_id ASC) AS r
  FROM d{i} d CROSS JOIN s{i} s
  ORDER BY ({score}) DESC, doc_id ASC LIMIT {_EXPANSION_K_PER}
""")
    return f"""{legs},
fused AS (
  SELECT doc_id, CAST(count(*) AS INT) AS n_lists,
         CAST(sum({RRF_SCALE} // (60 + r)) AS BIGINT) AS fused_score
  FROM merged GROUP BY doc_id
)
SELECT doc_id, n_lists, fused_score,
       CAST(row_number() OVER (ORDER BY fused_score DESC, doc_id ASC)
            AS BIGINT) AS rank
FROM fused
ORDER BY fused_score DESC, doc_id ASC
LIMIT {_EXPANSION_FINAL_K}
"""


_def("rag_multi_query_fused", _mq_fn, _mq_duck_sql(), "documents")


# -- 50. contextual-compression retrieval (rag_extras.compression_retrieve
#        ↔ reference retrievers.py:105-143): greedy EmbeddingsRedundant-
#        Filter then EmbeddingsFilter over a deterministic candidate set
#        (queries = vec 0..3, candidates = vec_id % 4, rank by vec_id).
#        The twin replays the greedy walk as a recursive CTE over ranks;
#        cosines use the shared order-fixed fold in both engines.
#        Thresholds are tuned to the synthetic embeddings' CENTERED
#        cosine distribution (pairs: avg≈0, p90≈0.16, max≈0.40) so BOTH
#        filters fire; the operator's defaults stay reference-faithful.
_CMP_SIM = 0.05
_CMP_RED = 0.25


def _rerank_cands(spark: SparkSession) -> DataFrame:
    """The candidate set of the compression and MMR entries: queries are
    vec 0..3, candidates vec_id % 4 ranked by vec_id."""
    emb = spark.table("embeddings")
    queries_df = emb.filter("vec_id < 4").select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_embedding"))
    w = Window.partitionBy(F.col("vec_id") % 4).orderBy("vec_id")
    return (emb.filter("vec_id >= 4 AND vec_id < 200")
            .select((F.col("vec_id") % 4).alias("query_id"),
                    F.col("vec_id").alias("doc_id"), "embedding",
                    F.row_number().over(w).alias("rank"))
            .join(queries_df, on="query_id"))


def _compress_fn(spark: SparkSession) -> DataFrame:
    return (rag_extras.compression_retrieve(
        _rerank_cands(spark), sim_threshold=_CMP_SIM,
        redundancy_threshold=_CMP_RED)
        .orderBy("query_id", "rank"))


# the twin of _rerank_cands plus each candidate's cosine to its query
_RERANK_CAND_CTES = f"""cand AS (
  SELECT e.vec_id % 4 AS query_id, e.vec_id AS doc_id,
         e.embedding AS emb, q.embedding AS qemb,
         row_number() OVER (PARTITION BY e.vec_id % 4
                            ORDER BY e.vec_id) AS rank
  FROM embeddings e JOIN embeddings q ON q.vec_id = e.vec_id % 4
  WHERE e.vec_id >= 4 AND e.vec_id < 200
), scored AS (
  SELECT query_id, doc_id, rank, emb,
         {_cosine('emb', 'qemb')} AS qsim
  FROM cand
)"""


def _compress_duck_sql() -> str:
    return f"""
WITH RECURSIVE {_RERANK_CAND_CTES}, pairs AS (
  SELECT a.query_id, a.rank AS r_hi, b.rank AS r_lo,
         {_cosine('a.emb', 'b.emb')} AS cs
  FROM scored a JOIN scored b
    ON a.query_id = b.query_id AND b.rank < a.rank
), maxr AS (
  SELECT query_id, max(rank) AS mr FROM scored GROUP BY query_id
), sel AS (
  SELECT query_id, CAST(1 AS BIGINT) AS step,
         [CAST(1 AS BIGINT)] AS kept
  FROM scored WHERE rank = 1
  UNION ALL
  SELECT s.query_id, s.step + 1,
         CASE WHEN EXISTS (
                SELECT 1 FROM pairs p
                WHERE p.query_id = s.query_id AND p.r_hi = s.step + 1
                  AND list_contains(s.kept, p.r_lo)
                  AND p.cs > {_CMP_RED})
              THEN s.kept
              ELSE list_append(s.kept, s.step + 1) END
  FROM sel s JOIN maxr m ON m.query_id = s.query_id
  WHERE s.step < m.mr
), final AS (
  SELECT s.query_id, s.kept
  FROM sel s JOIN maxr m ON m.query_id = s.query_id AND s.step = m.mr
)
SELECT c.query_id, c.doc_id,
       CAST(row_number() OVER (PARTITION BY c.query_id
                               ORDER BY c.rank) AS BIGINT) AS rank
FROM scored c
JOIN final f ON c.query_id = f.query_id
            AND list_contains(f.kept, c.rank)
WHERE c.qsim >= {_CMP_SIM}
ORDER BY c.query_id, rank
"""


_def("rag_compression_retrieve", _compress_fn, _compress_duck_sql(), "embeddings")


# -- 51. distributed ingestion guard (pipeline/guards.guard_listing_df ↔
#        reference security.py:31-693, the 10^9-object listing form):
#        a synthetic listing derived from documents exercises every
#        quarantine reason — relative paths, traversal, outside-base,
#        oversized, bad extension, NULL size — and the fail-closed
#        NULL handling. The twin replays the same rules in SQL.
def _guard_fn(spark: SparkSession) -> DataFrame:
    docs = spark.table("documents")
    listing = docs.select(
        F.when(F.col("doc_id") % 11 == 0,
               F.concat(F.lit("corpus/in/rel_"), F.col("doc_id"),
                        F.lit(".txt")))                       # relative
        .when(F.col("doc_id") % 11 == 1,
              F.concat(F.lit("/corpus/in/../esc_"), F.col("doc_id"),
                       F.lit(".txt")))                        # traversal
        .when(F.col("doc_id") % 11 == 2,
              F.concat(F.lit("/corpus/out/o_"), F.col("doc_id"),
                       F.lit(".txt")))                        # outside
        .when(F.col("doc_id") % 11 == 3,
              F.concat(F.lit("/corpus/in/x_"), F.col("doc_id"),
                       F.lit(".exe")))                        # bad ext
        .otherwise(
            F.concat(F.lit("/corpus/in//d_"), F.col("doc_id"),
                     F.lit(".txt")))                          # ok (// ok)
        .alias("path"),
        F.when(F.col("doc_id") % 11 == 4, F.lit(None).cast("bigint"))
        .when(F.col("doc_id") % 11 == 5,
              F.lit(3 * 1024 * 1024).cast("bigint"))          # too big
        .otherwise((F.length("text")).cast("bigint")).alias("size_bytes"))
    out = guards.guard_listing_df(
        listing, "/corpus/in",
        guards.SecurityConfig(max_file_size_mb=1),
        allowed_extensions=("txt", "pdf"))
    return (out.groupBy("reason")
            .agg(F.count("*").cast("bigint").alias("n"),
                 F.sum(F.when(F.col("allowed"), F.col("size_bytes"))
                       .otherwise(0)).cast("bigint").alias("allowed_bytes"))
            .orderBy(F.coalesce("reason", F.lit("~live"))))


def _guard_duck_sql() -> str:
    return """
WITH listing AS (
  SELECT CASE
           WHEN doc_id % 11 = 0 THEN 'corpus/in/rel_' || CAST(doc_id AS VARCHAR) || '.txt'
           WHEN doc_id % 11 = 1 THEN '/corpus/in/../esc_' || CAST(doc_id AS VARCHAR) || '.txt'
           WHEN doc_id % 11 = 2 THEN '/corpus/out/o_' || CAST(doc_id AS VARCHAR) || '.txt'
           WHEN doc_id % 11 = 3 THEN '/corpus/in/x_' || CAST(doc_id AS VARCHAR) || '.exe'
           ELSE '/corpus/in//d_' || CAST(doc_id AS VARCHAR) || '.txt'
         END AS path,
         CASE WHEN doc_id % 11 = 4 THEN NULL
              WHEN doc_id % 11 = 5 THEN CAST(3 * 1024 * 1024 AS BIGINT)
              ELSE CAST(length(text) AS BIGINT) END AS size_bytes
  FROM documents
), annotated AS (
  SELECT path, size_bytes,
         CASE
           WHEN path IS NULL THEN 'null_path'
           WHEN size_bytes IS NULL THEN 'unknown_size'
           WHEN NOT path LIKE '/%' THEN 'relative_path'
           WHEN list_contains(list_filter(string_split(path, '/'),
                  s -> s <> '' AND s <> '.'), '..')
             THEN 'parent_traversal'
           WHEN NOT ('/' || array_to_string(list_filter(
                  string_split(path, '/'), s -> s <> '' AND s <> '.'),
                  '/') || '/') LIKE '/corpus/in/%'
             THEN 'outside_base_dir'
           WHEN size_bytes > 1 * 1024 * 1024 THEN 'file_too_large'
           WHEN lower(list_extract(string_split(path, '.'), -1))
                  NOT IN ('txt', 'pdf') THEN 'extension_not_allowed'
           ELSE NULL END AS reason
  FROM listing
)
SELECT reason, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN reason IS NULL THEN size_bytes ELSE 0 END)
            AS BIGINT) AS allowed_bytes
FROM annotated
GROUP BY reason
ORDER BY coalesce(reason, '~live')
"""


_def("ingest_guard_listing", _guard_fn, _guard_duck_sql(), "documents")


# -- 52. corpus-wide line dedup (operators/dedupe.py line_dedup): C4/CCNet
#        duplicated-line removal. The flat word-stream corpus is shaped
#        into 12-word lines (deterministic, identical in both dialects),
#        then every ≥5-word line that occurred earlier (lexicographic
#        (doc_id, line_idx)) is dropped and the doc rebuilt. The Spark
#        side is the scale shape — groupBy(hash).min(struct) first-
#        occurrence (map-side combinable, no window on a skewed hash
#        partition) + keyed join back; the twin uses a row_number window
#        (oracle-only). 206 of 2,477 lines sit in dup groups at sf0.01 —
#        non-vacuous by construction (the corpus's near-dup seeds).
_LD_K = 12          # words per shaped line
_LD_MIN_WORDS = 5   # exemption threshold inside line_dedup


def _line_dedup_fn(spark: SparkSession) -> DataFrame:
    k = _LD_K
    # bind the words array once (the 58× inlining lesson) before the
    # per-line transform references it k times
    bound = dedupe._bound_words(spark.table("documents"), "doc_id")
    lines = F.when(
        F.size("_w") > 0,
        F.transform(
            F.sequence(F.lit(0),
                       F.floor((F.size("_w") + (k - 1)) / F.lit(k))
                        .cast("int") - 1),
            lambda i: F.concat_ws(
                " ", F.slice(F.col("_w"), (i * k + 1).cast("int"), k))),
    ).otherwise(F.array().cast("array<string>"))
    shaped = bound.select(
        "doc_id", F.array_join(lines, "\n").alias("text"))
    out = dedupe.line_dedup(shaped, min_words=_LD_MIN_WORDS)
    return out.select(
        "doc_id", "n_lines", "n_kept", "n_dropped",
        F.md5("kept_text").alias("kept_md5"))


def _line_dedup_duck_sql() -> str:
    k, mw = _LD_K, _LD_MIN_WORDS
    words = _words_expr("text", "duckdb")
    line_words = _words_expr("line", "duckdb")
    return f"""
WITH w AS (
  SELECT doc_id, {words} AS w FROM documents
), shaped AS (
  SELECT doc_id,
         COALESCE(array_to_string(
           list_transform(range(0, (len(w) + {k - 1}) // {k}),
             i -> array_to_string(list_slice(w, i*{k}+1, i*{k}+{k}), ' ')),
           chr(10)), '') AS text
  FROM w
), ls AS (
  SELECT doc_id, string_split(text, chr(10)) AS ls FROM shaped
), ex AS (
  SELECT doc_id, unnest(ls) AS line,
         unnest(range(0, len(ls))) AS line_idx
  FROM ls
), marked AS (
  SELECT doc_id, line_idx, line,
         len({line_words}) >= {mw} AS eligible,
         md5(line) AS h
  FROM ex
), ranked AS (
  SELECT *,
         CASE WHEN eligible THEN row_number() OVER (
           PARTITION BY CASE WHEN eligible THEN h END
           ORDER BY doc_id, line_idx) END AS rn
  FROM marked
), kept AS (
  SELECT doc_id, line_idx, line,
         (NOT eligible) OR rn = 1 AS keep
  FROM ranked
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
       md5(COALESCE(string_agg(CASE WHEN keep THEN line END, chr(10)
                               ORDER BY line_idx), '')) AS kept_md5
FROM kept
GROUP BY doc_id
"""


_def("line_dedup", _line_dedup_fn, _line_dedup_duck_sql(), "documents")


# -- 53. per-conversation dialogue statistics (operators/convlint.py
#        conversation_stats): turn-taking metrics — role counts, run-length
#        encoding (longest same-role streak, switch count), first/last
#        speaker, exact-integer word accounting. Transcript shaping: the
#        documents table grouped by source, roles assigned by doc_id % 5
#        (2 user / 2 assistant / 1 tool) so runs and switches are both
#        non-trivial (consecutive doc_ids within a source repeat residues
#        often enough for multi-turn runs).
def _conv_stats_shaped(spark: SparkSession) -> DataFrame:
    role = (F.when(F.col("doc_id") % 5 < 2, "user")
            .when(F.col("doc_id") % 5 < 4, "assistant")
            .otherwise("tool"))
    return _doc_turns(spark, role.alias("role"), "text")


def _conv_stats_fn(spark: SparkSession) -> DataFrame:
    return convlint.conversation_stats(_conv_stats_shaped(spark))


def _conv_stats_duck_sql() -> str:
    words = _words_expr("COALESCE(text, '')", "duckdb")
    role_sums = ",\n       ".join(
        f"CAST(sum(CASE WHEN run_role = '{r}' THEN run_len ELSE 0 END) "
        f"AS BIGINT) AS n_{r}"
        for r in ("user", "assistant", "tool", "system"))
    return f"""
WITH shaped AS (
  SELECT source AS conv_id,
         CAST(row_number() OVER w - 1 AS INT) AS turn_idx,
         CASE WHEN doc_id % 5 < 2 THEN 'user'
              WHEN doc_id % 5 < 4 THEN 'assistant'
              ELSE 'tool' END AS role,
         text
  FROM documents
  WINDOW w AS (PARTITION BY source ORDER BY doc_id ASC)
), t AS (
  SELECT conv_id, turn_idx, role,
         len({words}) AS n_words_turn,
         CASE WHEN row_number() OVER w2 = 1 THEN 1
              WHEN role IS DISTINCT FROM lag(role) OVER w2 THEN 1
              ELSE 0 END AS changed
  FROM shaped
  WINDOW w2 AS (PARTITION BY conv_id ORDER BY turn_idx ASC, role ASC)
), runs0 AS (
  SELECT *, sum(changed) OVER (
    PARTITION BY conv_id ORDER BY turn_idx ASC, role ASC) AS run_id
  FROM t
), per_run AS (
  SELECT conv_id, run_id,
         count(*) AS run_len, sum(n_words_turn) AS run_words,
         min(role) AS run_role,
         min(turn_idx) AS run_min_idx, max(turn_idx) AS run_max_idx
  FROM runs0 GROUP BY conv_id, run_id
)
SELECT conv_id,
       CAST(sum(run_len) AS BIGINT) AS n_turns,
       {role_sums},
       CAST(sum(run_words) AS BIGINT) AS n_words,
       CAST(count(*) - 1 AS BIGINT) AS n_role_switches,
       CAST(max(run_len) AS BIGINT) AS longest_run,
       arg_min(run_role, run_min_idx) AS first_role,
       arg_max(run_role, run_max_idx) AS last_role,
       CAST(sum(run_words) AS DOUBLE) / sum(run_len) AS avg_words
FROM per_run
GROUP BY conv_id
"""


_def("conversation_stats", _conv_stats_fn, _conv_stats_duck_sql(), "documents")


# -- 54. SQ8 scalar-quantized ANN (operators/similarity.py sq8_topk):
#        per-dimension min/max calibration → 8-bit affine codes → ranking
#        by the DEQUANTIZED-space dot product (code-space dot would
#        reorder results through the affine shift). min/max calibration
#        is order-independent exact, the quantize/dequantize arithmetic
#        repeats the identical IEEE-double expression shape, and the dot
#        is the pinned left-fold — so ranks match; output is rank-only
#        (the float-tier convention).
def _sq8_fn(spark: SparkSession) -> DataFrame:
    vectors = spark.table("embeddings")
    return similarity.sq8_topk(vectors, vectors.filter("vec_id < 8"), k=5)


def _sq8_duck_sql() -> str:
    quant = ("CASE WHEN p.maxs[j+1] - p.mins[j+1] = 0 THEN 0 "
             "ELSE CAST(least(255, greatest(0, "
             "floor((CAST(e.embedding[j+1] AS DOUBLE) - p.mins[j+1]) "
             "/ (p.maxs[j+1] - p.mins[j+1]) * 255.0))) AS BIGINT) END")
    deq = ("p.mins[j+1] + CAST(c.code[j+1] AS DOUBLE) "
           "* ((p.maxs[j+1] - p.mins[j+1]) / 255.0)")
    return f"""
WITH dims AS (
  SELECT pos, min(CAST(x AS DOUBLE)) AS mn, max(CAST(x AS DOUBLE)) AS mx
  FROM (SELECT unnest(embedding) AS x,
               unnest(range(0, len(embedding))) AS pos
        FROM embeddings) u
  GROUP BY pos
), params AS (
  SELECT list(mn ORDER BY pos) AS mins, list(mx ORDER BY pos) AS maxs
  FROM dims
), codes AS (
  SELECT e.vec_id,
         list_transform(range(0, len(e.embedding)), j -> {quant}) AS code
  FROM embeddings e, params p
), deq AS (
  SELECT c.vec_id,
         list_transform(range(0, len(c.code)), j -> {deq}) AS vhat
  FROM codes c, params p
), scored AS (
  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
         {_dot_duck('q.vhat', 'v.vhat')} AS score
  FROM deq q JOIN deq v
    ON q.vec_id < 8 AND v.vec_id <> q.vec_id
)
{_topk_per_query_duck("scored", "score DESC", 5)}"""


_def("ann_sq8_topk", _sq8_fn, _sq8_duck_sql(), "embeddings")


# -- 55. topic segmentation (operators/convlint.py topic_segments):
#        TextTiling-style lexical-cohesion cuts over the shaped transcript
#        (documents grouped by source, ordered by doc_id). The boundary
#        test is the pure-integer comparison 100·|A∩B| < pct·|A∪B| — no
#        float Jaccard crosses the engine boundary. pct=50 splits this
#        corpus's adjacent-turn cohesion distribution ~1:3 (measured),
#        so both branches are exercised conversation-wide.
def _topic_seg_fn(spark: SparkSession) -> DataFrame:
    return convlint.topic_segments(_doc_turns(spark, "text"), threshold_pct=50)


def _topic_seg_duck_sql() -> str:
    words = _words_expr("COALESCE(text, '')", "duckdb")
    return f"""
WITH shaped AS (
  SELECT source AS conv_id,
         CAST(row_number() OVER w - 1 AS INT) AS turn_idx,
         list_distinct({words}) AS ws
  FROM documents
  WINDOW w AS (PARTITION BY source ORDER BY doc_id ASC)
), l AS (
  SELECT conv_id, turn_idx, ws,
         lag(ws) OVER (PARTITION BY conv_id ORDER BY turn_idx ASC) AS pw
  FROM shaped
), marked AS (
  SELECT conv_id, turn_idx,
         CASE WHEN pw IS NULL THEN FALSE
              ELSE 100 * len(list_intersect(pw, ws))
                   < 50 * (len(pw) + len(ws) - len(list_intersect(pw, ws)))
         END AS is_shift
  FROM l
)
SELECT conv_id,
       CAST(count(*) AS BIGINT) AS n_turns,
       CAST(sum(CASE WHEN is_shift THEN 1 ELSE 0 END) + 1 AS BIGINT)
         AS n_segments,
       COALESCE(list_sort(list(turn_idx) FILTER (WHERE is_shift)), [])
         AS boundaries,
       CAST(count(*) AS DOUBLE)
         / (sum(CASE WHEN is_shift THEN 1 ELSE 0 END) + 1) AS avg_segment_len
FROM marked
GROUP BY conv_id
"""


_def("topic_segments", _topic_seg_fn, _topic_seg_duck_sql(), "documents")


# -- 56. MMR diversified reranking (rag_extras.mmr_rerank — langchain
#        search_type="mmr" semantics over the reference's retriever
#        candidate shape): greedy argmax of lam*qsim - (1-lam)*max-cos-
#        to-selected, ties on rank asc. Same deterministic candidate
#        shaping as the compression oracle. The twin UNROLLS the k greedy
#        steps as plain window-argmax CTEs (no recursion, no correlated
#        lambdas); all cosines are the shared order-fixed fold, products
#        commute bit-exactly, and max-over-selected is order-independent,
#        so scores are bit-identical across engines. Output is rank-only.
_MMR_LAM = 0.5
_MMR_K = 5


def _mmr_fn(spark: SparkSession) -> DataFrame:
    return (rag_extras.mmr_rerank(_rerank_cands(spark), lambda_mult=_MMR_LAM,
                                  k=_MMR_K)
            .orderBy("query_id", "rank"))


def _mmr_duck_sql() -> str:
    lam, k = _MMR_LAM, _MMR_K

    parts = [f"""
WITH {_RERANK_CAND_CTES}, pairs AS (
  SELECT a.query_id, a.rank AS r_a, b.rank AS r_b,
         {_cosine('a.emb', 'b.emb')} AS cs
  FROM scored a JOIN scored b
    ON a.query_id = b.query_id AND a.rank <> b.rank
), k1 AS (
  SELECT query_id, rank, 1 AS step FROM (
    SELECT query_id, rank,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY qsim DESC, rank) AS rn
    FROM scored) WHERE rn = 1
), kept1 AS (SELECT * FROM k1)"""]
    for i in range(2, k + 1):
        parts.append(f""", k{i} AS (
  SELECT query_id, rank, {i} AS step FROM (
    SELECT c.query_id, c.rank,
           row_number() OVER (
             PARTITION BY c.query_id
             ORDER BY {lam!r} * c.qsim - {1.0 - lam!r} * pen.mx DESC,
                      c.rank) AS rn
    FROM scored c
    JOIN (SELECT p.query_id, p.r_a AS rank, max(p.cs) AS mx
          FROM pairs p JOIN kept{i - 1} kp
            ON kp.query_id = p.query_id AND kp.rank = p.r_b
          GROUP BY p.query_id, p.r_a) pen
      ON pen.query_id = c.query_id AND pen.rank = c.rank
    LEFT JOIN kept{i - 1} kx
      ON kx.query_id = c.query_id AND kx.rank = c.rank
    WHERE kx.rank IS NULL) WHERE rn = 1
), kept{i} AS (SELECT * FROM kept{i - 1} UNION ALL SELECT * FROM k{i})""")
    parts.append(f"""
SELECT s.query_id, s.doc_id, CAST(kf.step AS BIGINT) AS rank
FROM kept{k} kf
JOIN scored s ON s.query_id = kf.query_id AND s.rank = kf.rank
ORDER BY s.query_id, rank
""")
    return "".join(parts)


_def("rag_mmr_rerank", _mmr_fn, _mmr_duck_sql(), "embeddings")


# -- 57. HLL distinct sketch (operators/sketches.py): per-source
#        distinct-word cardinality estimate. Registers are md5-hex
#        arithmetic (substr/regexp/CASE — integers and strings only);
#        the harmonic denominator is an exact bigint of 2^(29-rho)
#        terms; the single float step is one pinned-literal division +
#        floor (correctly-rounded IEEE, identical both engines). The
#        non-twin check is the hashlib replica + accuracy bound in
#        tests/test_sketches.py.
def _hll_fn(spark: SparkSession) -> DataFrame:
    words = (spark.table("documents")
             .select("source",
                     F.explode(F.expr(
                         _words_expr("COALESCE(text, '')", "spark")))
                     .alias("w")))
    return (sketches.hll_estimate(words, "w", ("source",))
            .orderBy("source"))


def _hll_duck_sql() -> str:
    m, scale = 256, _RHO_BITS + 1
    alpha_num = _alpha(m) * m * m * float(1 << scale)
    lz4 = lz4_case_sql("_f")
    words = _words_expr("COALESCE(text, '')", "duckdb")
    return f"""
WITH w AS (
  SELECT source, md5(CAST(u.w AS VARCHAR)) AS _h
  FROM documents, unnest({words}) AS u(w)
), t AS (
  SELECT source, substr(_h, 1, 2) AS bucket, substr(_h, 3, 7) AS _t
  FROM w
), nz AS (
  SELECT source, bucket, _t,
         length(regexp_extract(_t, '^0*', 0)) AS _nz
  FROM t
), rho0 AS (
  SELECT source, bucket, _nz, substr(_t, _nz + 1, 1) AS _f FROM nz
), regs AS (
  SELECT source, bucket,
         max(CAST(IF(_nz = 7, {scale}, 4 * _nz + {lz4} + 1) AS INT))
           AS rho
  FROM rho0 GROUP BY source, bucket
), agg AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_present,
         CAST(sum(CAST(1 AS BIGINT) << ({scale} - rho)) AS BIGINT)
           AS s_present
  FROM regs GROUP BY source
)
SELECT source,
       CAST({m} AS BIGINT) AS n_buckets,
       CAST({m} - n_present AS BIGINT) AS n_zero_registers,
       CAST(floor({alpha_num!r} / CAST(
         s_present + ({m} - n_present) * (CAST(1 AS BIGINT) << {scale})
       AS DOUBLE)) AS BIGINT) AS est_hll
FROM agg
ORDER BY source
"""


_def("distinct_hll", _hll_fn, _hll_duck_sql(), "documents")


# -- 58. corpus snapshot diff (operators/snapshot.py): row-level
#        added/removed/changed/unchanged between two simulated corpus
#        snapshots (old = doc_id < 400 as-is; new = doc_id >= 100 with
#        every 7th doc's text suffixed — concat, not case-mapping, so no
#        engine-specific string semantics enter the fixture). The twin
#        replays the digest (md5 of null-tagged per-column md5s) and the
#        full outer join verbatim.
def _snapdiff_fn(spark: SparkSession) -> DataFrame:
    docs = spark.table("documents")
    old = docs.filter("doc_id < 400").select("doc_id", "text")
    new = (docs.filter("doc_id >= 100")
           .select("doc_id",
                   F.expr("IF(doc_id % 7 = 0, concat(text, ' v2'), text)")
                   .alias("text")))
    return (snapshot.snapshot_diff(old, new, ("doc_id",), ("text",))
            .orderBy("doc_id"))


_SNAPDIFF_DUCK = """
WITH o AS (
  SELECT doc_id,
         md5(IF(text IS NULL, 'n', md5(CAST(text AS VARCHAR)))) AS ho
  FROM documents WHERE doc_id < 400
), nw AS (
  SELECT doc_id,
         md5(IF(t IS NULL, 'n', md5(CAST(t AS VARCHAR)))) AS hn
  FROM (SELECT doc_id,
               CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END
                 AS t
        FROM documents WHERE doc_id >= 100)
)
SELECT COALESCE(o.doc_id, nw.doc_id) AS doc_id,
       CASE WHEN o.ho IS NULL THEN 'added'
            WHEN nw.hn IS NULL THEN 'removed'
            WHEN o.ho = nw.hn THEN 'unchanged'
            ELSE 'changed' END AS status
FROM o FULL OUTER JOIN nw ON o.doc_id = nw.doc_id
ORDER BY doc_id
"""


_def("corpus_diff", _snapdiff_fn, _SNAPDIFF_DUCK, "documents")


# -- 59. rank-aware retrieval evaluation (retrieval.ranked_eval): MRR@k
#        / precision@k / recall@k numerators in exact integer ppm over a
#        deterministic fixture — rankings are md5-ordered (pseudo-random
#        but engine-identical), judgments a modular rule that leaves
#        some queries with unretrieved relevant docs (recall < 1) and
#        some retrieved docs unjudged. The metric arithmetic (integer
#        div, NULL-when-unjudged) is the surface under oracle test; the
#        ann_recall_report oracle already covers approx-vs-exact sets.
_REVAL_K = 10


def _eval_fixture(spark: SparkSession) -> tuple[DataFrame, DataFrame]:
    """(results, qrels) of the rank-metric entries: 8 queries, each
    ranking 15 of doc_id < 120 in md5 order; a doc_id < 150 is relevant
    when (3·doc_id + query_id) % 11 == 0."""
    docs = spark.table("documents").select("doc_id")
    qs = spark.range(8).select(F.col("id").alias("query_id"))
    results = top_k(
        qs.crossJoin(docs.filter("doc_id < 120")).withColumn("_m", F.expr(
            "md5(concat(CAST(query_id AS STRING), ':', "
            "CAST(doc_id AS STRING)))")),
        15, ["_m", "doc_id"], by=["query_id"], rank="rank",
    ).select("query_id", "doc_id", "rank")
    qrels = (qs.crossJoin(docs.filter("doc_id < 150"))
             .filter("(doc_id * 3 + query_id) % 11 = 0")
             .select("query_id", "doc_id"))
    return results, qrels


def _reval_fn(spark: SparkSession) -> DataFrame:
    results, qrels = _eval_fixture(spark)
    return (retrieval.ranked_eval(results, qrels, k=_REVAL_K)
            .orderBy("query_id"))


# the twin of _eval_fixture
_EVAL_FIXTURE_CTES = """
WITH qs AS (
  SELECT CAST(i AS BIGINT) AS query_id FROM range(0, 8) t(i)
), results AS (
  SELECT query_id, doc_id, rank FROM (
    SELECT q.query_id, d.doc_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY md5(CAST(q.query_id AS VARCHAR) || ':'
                          || CAST(d.doc_id AS VARCHAR)), d.doc_id)
             AS rank
    FROM qs q, documents d WHERE d.doc_id < 120)
  WHERE rank <= 15
), qrels AS (
  SELECT q.query_id, d.doc_id
  FROM qs q, documents d
  WHERE d.doc_id < 150 AND (d.doc_id * 3 + q.query_id) % 11 = 0
)"""


_REVAL_DUCK = f"""{_EVAL_FIXTURE_CTES}, hits AS (
  SELECT r.query_id,
         CAST(sum(CASE WHEN j.doc_id IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_rel_ret,
         CAST(min(CASE WHEN j.doc_id IS NOT NULL THEN r.rank END)
              AS BIGINT) AS first_rel_rank
  FROM results r LEFT JOIN qrels j
    ON j.query_id = r.query_id AND j.doc_id = r.doc_id
  WHERE r.rank <= {_REVAL_K}
  GROUP BY r.query_id
), uni AS (
  SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel
  FROM qrels GROUP BY query_id
)
SELECT COALESCE(u.query_id, h.query_id) AS query_id,
       COALESCE(u.n_rel, 0) AS n_rel,
       COALESCE(h.n_rel_ret, 0) AS n_rel_ret,
       h.first_rel_rank,
       CAST(COALESCE(1000000 // h.first_rel_rank, 0) AS BIGINT)
         AS rr_ppm,
       CAST((1000000 * COALESCE(h.n_rel_ret, 0)) // {_REVAL_K} AS BIGINT)
         AS p_at_k_ppm,
       CASE WHEN COALESCE(u.n_rel, 0) > 0
            THEN CAST((1000000 * COALESCE(h.n_rel_ret, 0)) // u.n_rel
                      AS BIGINT) END AS recall_ppm
FROM uni u FULL OUTER JOIN hits h ON u.query_id = h.query_id
ORDER BY query_id
"""


_def("retrieval_eval", _reval_fn, _REVAL_DUCK, "documents")


# -- 60. budgeted greedy selection (sampling.select_to_budget): per-
#        source "take best until the token budget is spent" prefix-cap
#        walk — quality proxy = n_chars % 97 (pseudo-random but engine-
#        identical), tokens = n_chars // 4 (the pack oracle's proxy),
#        budget 900 (binds: per-source totals run ~2,000). Pure window cumsum; all integers.
def _budget_fn(spark: SparkSession) -> DataFrame:
    shaped = (spark.table("documents")
              .select("source", "doc_id",
                      (F.col("n_chars") % 97).cast("bigint").alias("q"),
                      F.expr("n_chars div 4").cast("bigint")
                      .alias("tokens")))
    return (sampling.select_to_budget(shaped, 900, "q", "tokens")
            .orderBy("source", "cum_tokens"))


_BUDGET_DUCK = """
SELECT source, doc_id, q, tokens, cum_tokens FROM (
  SELECT source, doc_id,
         CAST(n_chars % 97 AS BIGINT) AS q,
         CAST(n_chars // 4 AS BIGINT) AS tokens,
         CAST(sum(n_chars // 4) OVER (
           PARTITION BY source
           ORDER BY n_chars % 97 DESC, doc_id ASC
           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
  FROM documents)
WHERE cum_tokens <= 900
ORDER BY source, cum_tokens
"""


_def("budget_select", _budget_fn, _BUDGET_DUCK, "documents")


# -- 61. bloom-prefiltered decontamination (dedupe.bloom_decontaminate):
#        the 100-TB shape of decontaminate_ngram_overlap — benchmark
#        grams folded into a driver-built bloom literal, corpus grams
#        screened MAP-SIDE, only survivors exact-verified. m = 4096 bits
#        deliberately small so false positives are plentiful and the
#        precision accounting (n_exact_shared = 0 rows) is non-vacuous.
#        The twin realizes the SAME bit set as a position TABLE (a bloom
#        bit array IS the set of positions): membership = three semi
#        joins; the hex→int position math is the shared engine-neutral
#        _hex_positions fold.
_BLOOM_M, _BLOOM_K = 1 << 12, 3


def _bloom_fn(spark: SparkSession) -> DataFrame:
    docs = spark.table("documents")
    bench = docs.filter("doc_id % 50 = 3")
    return (dedupe.bloom_decontaminate(
        docs, bench, n=_DECON_N, m_bits=_BLOOM_M, k=_BLOOM_K)
        .orderBy("corpus_id"))


def _bloom_duck_sql() -> str:
    grams = _gram_list_expr_duck(_DECON_N)
    words = _words_expr("text", "duckdb")
    p = _hex_positions("_h", _BLOOM_M, _BLOOM_K)
    return f"""
WITH wrds AS (
  SELECT doc_id, {words} AS w FROM documents
), cg AS (
  SELECT doc_id AS corpus_id, unnest(list_distinct({grams})) AS gram
  FROM wrds
), bgd AS (
  SELECT DISTINCT unnest(list_distinct({grams})) AS gram
  FROM wrds WHERE doc_id % 50 = 3
), bh AS (
  SELECT md5(CAST(gram AS VARCHAR)) AS _h FROM bgd
), bpos AS (
  SELECT DISTINCT pos FROM (
    SELECT {p[0]} AS pos FROM bh
    UNION ALL SELECT {p[1]} FROM bh
    UNION ALL SELECT {p[2]} FROM bh)
), ch AS (
  SELECT corpus_id, gram, md5(CAST(gram AS VARCHAR)) AS _h FROM cg
), cp AS (
  SELECT corpus_id, gram, {p[0]} AS p0, {p[1]} AS p1, {p[2]} AS p2
  FROM ch
), cand AS (
  SELECT cp.corpus_id, cp.gram
  FROM cp
  JOIN bpos b0 ON b0.pos = cp.p0
  JOIN bpos b1 ON b1.pos = cp.p1
  JOIN bpos b2 ON b2.pos = cp.p2
)
SELECT c.corpus_id,
       CAST(count(*) AS BIGINT) AS n_candidate_grams,
       CAST(sum(CASE WHEN e.gram IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_exact_shared
FROM cand c LEFT JOIN bgd e ON e.gram = c.gram
GROUP BY c.corpus_id
ORDER BY c.corpus_id
"""


_def("bloom_decontaminate", _bloom_fn, _bloom_duck_sql(), "documents")


# -- 62. count-min word-frequency sketch (sketches.cms_build/cms_query):
#        counters over the corpus word stream (width 1024 × depth 3),
#        point-queried with doc 0's distinct words plus two absent
#        probes. Counters and estimates are pure integers; the hash is
#        the same engine-neutral instr fold as the bloom tier. The twin
#        realizes posexplode as a 3-way UNION ALL with literal row
#        indices. Non-twin checks (overcount bound, Counter-replica
#        equality) live in tests/test_sketches.py.
_CMS_W, _CMS_D = 1024, 3


def _cms_fn(spark: SparkSession) -> DataFrame:
    docs = spark.table("documents")
    words = docs.select(F.explode(F.expr(
        _words_expr("COALESCE(text, '')", "spark"))).alias("w"))
    cms = sketches.cms_build(words, "w", width=_CMS_W, depth=_CMS_D)
    probes = (docs.filter("doc_id = 0")
              .select(F.explode(F.expr(
                  _words_expr("COALESCE(text, '')", "spark")))
                  .alias("w"))
              .unionByName(spark.range(2).select(
                  F.concat(F.lit("zz_absent_probe_"), F.col("id"))
                  .alias("w"))))
    return (sketches.cms_query(cms, probes, "w",
                               width=_CMS_W, depth=_CMS_D)
            .orderBy("value"))


def _cms_duck_sql() -> str:
    words = _words_expr("COALESCE(text, '')", "duckdb")
    p = _hex_positions("_h", _CMS_W, _CMS_D)
    pos_union = " UNION ALL ".join(
        f"SELECT value, {i} AS row_idx, {p[i]} AS bucket FROM qh"
        for i in range(_CMS_D))
    cpos_union = " UNION ALL ".join(
        f"SELECT {i} AS row_idx, {p[i]} AS bucket FROM wh"
        for i in range(_CMS_D))
    return f"""
WITH w AS (
  SELECT unnest({words}) AS w FROM documents
), wh AS (
  SELECT md5(CAST(w AS VARCHAR)) AS _h FROM w
), cms AS (
  SELECT row_idx, bucket, CAST(count(*) AS BIGINT) AS cnt
  FROM ({cpos_union})
  GROUP BY row_idx, bucket
), q AS (
  SELECT DISTINCT value FROM (
    SELECT unnest({words}) AS value FROM documents WHERE doc_id = 0
    UNION ALL
    SELECT 'zz_absent_probe_' || CAST(i AS VARCHAR) FROM range(0, 2) t(i))
), qh AS (
  SELECT value, md5(CAST(value AS VARCHAR)) AS _h FROM q
)
SELECT value,
       CAST(min(COALESCE(c.cnt, 0)) AS BIGINT) AS est_count
FROM ({pos_union}) qp
LEFT JOIN cms c ON c.row_idx = qp.row_idx AND c.bucket = qp.bucket
GROUP BY value
ORDER BY value
"""


_def("cms_word_counts", _cms_fn, _cms_duck_sql(), "documents")


# -- 63. hard-negative mining (similarity.hard_negatives): top-20 exact
#        cosine ranking anti-joined against a modular judgment rule,
#        keeping the 5 most similar NON-relevant docs per query — the
#        contrastive-training negatives. Rank-only output; the twin
#        replays ranking + anti-join + re-rank.
def _hardneg_fn(spark: SparkSession) -> DataFrame:
    vectors = spark.table("embeddings")
    queries_df = vectors.filter("vec_id < 8")
    ranked = similarity.brute_force_topk(vectors, queries_df, k=20).select(
        "query_id", "neighbor_id", "rank")
    qrels = (vectors.selectExpr("vec_id AS neighbor_id")
             .crossJoin(queries_df.selectExpr("vec_id AS query_id"))
             .filter("(neighbor_id * 5 + query_id) % 13 = 0"))
    return (similarity.hard_negatives(ranked, qrels, k=5)
            .orderBy("query_id", "neg_rank"))


def _hardneg_duck_sql() -> str:
    cos = _cosine()
    return f"""
WITH sims AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         {cos} AS sim
  FROM embeddings a JOIN embeddings b
    ON a.vec_id < 8 AND b.vec_id <> a.vec_id
), ranked AS (
  SELECT query_id, neighbor_id, rank FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY sim DESC, neighbor_id ASC) AS rank
    FROM sims) r
  WHERE rank <= 20
), neg AS (
  SELECT r.query_id, r.neighbor_id, r.rank
  FROM ranked r
  WHERE NOT EXISTS (
    SELECT 1 FROM embeddings e
    WHERE e.vec_id = r.neighbor_id
      AND (r.neighbor_id * 5 + r.query_id) % 13 = 0)
)
SELECT query_id, neighbor_id, neg_rank FROM (
  SELECT query_id, neighbor_id,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY rank ASC, neighbor_id ASC)
              AS BIGINT) AS neg_rank
  FROM neg) t
WHERE neg_rank <= 5
ORDER BY query_id, neg_rank
"""


_def("hard_negatives", _hardneg_fn, _hardneg_duck_sql(), "embeddings")


# -- 64. PMI collocations (lm_filter.pmi_collocations): top-50 bigrams
#        by observed/expected frequency ratio in integer ppm. The ppm
#        value is two correctly-rounded IEEE ops (divide, multiply) on
#        exactly-representable integer products + floor — bit-identical
#        across engines; ranking ties break on the bigram string.
def _pmi_fn(spark: SparkSession) -> DataFrame:
    return lm_filter.pmi_collocations(
        spark.table("documents"), min_count=5, top_n=50)


def _pmi_duck_sql() -> str:
    words = _words_expr("text", "duckdb")
    return f"""
WITH wrds AS (
  SELECT doc_id, {words} AS w FROM documents
), uni AS (
  SELECT u.w AS w, CAST(count(*) AS BIGINT) AS c
  FROM wrds, unnest(w) AS u(w)
  GROUP BY u.w
), bg AS (
  SELECT doc_id,
         unnest(CASE WHEN len(w) >= 2 THEN
                  list_transform(range(1, len(w)),
                                 i -> w[i] || ' ' || w[i+1])
                ELSE [] END) AS bigram
  FROM wrds
), bc AS (
  SELECT bigram, CAST(count(*) AS BIGINT) AS cnt
  FROM bg GROUP BY bigram HAVING count(*) >= 5
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_total FROM bg
), scored AS (
  SELECT b.bigram, b.cnt,
         string_split(b.bigram, ' ')[1] AS w1,
         string_split(b.bigram, ' ')[2] AS w2
  FROM bc b
), joined AS (
  SELECT s.bigram, s.cnt, u1.c AS c1, u2.c AS c2, t.n_total
  FROM scored s
  JOIN uni u1 ON u1.w = s.w1
  JOIN uni u2 ON u2.w = s.w2
  CROSS JOIN tot t
)
SELECT CAST(row_number() OVER (ORDER BY pmi_ratio_ppm DESC, bigram ASC)
            AS BIGINT) AS rank,
       bigram, cnt AS c_xy, c1, c2, pmi_ratio_ppm
FROM (
  SELECT bigram, cnt, c1, c2,
         CAST(floor(CAST(cnt AS DOUBLE) * CAST(n_total AS DOUBLE)
                    / (CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE))
                    * 1000000.0) AS BIGINT)
           AS pmi_ratio_ppm
  FROM joined)
ORDER BY pmi_ratio_ppm DESC, bigram ASC
LIMIT 50
"""


_def("pmi_collocations", _pmi_fn, _pmi_duck_sql(), "documents")


# -- 65. as-of join (operators/asof.py): latest prior view per click,
#        per user — the temporal-join primitive. The Spark side is the
#        union-tag + window-last algorithm (one shuffle, linear per
#        key); the twin is DuckDB's NATIVE ASOF LEFT JOIN — two
#        independent implementations of the same public algorithm.
#        The fixture has no (user, ts) view ties at either SF (checked),
#        so tie semantics cannot diverge. Timestamps are emitted as
#        epoch MICROS (bigint): a NULLABLE raw timestamp column turns
#        into pandas object dtype on the Spark side ('None' strings
#        after normalize) while DuckDB stays datetime64 — integer
#        micros sidestep the representation trap entirely (the NTZ →
#        TIMESTAMP cast is identity under the session's pinned UTC).
def _asof_fn(spark: SparkSession) -> DataFrame:
    ev = spark.table("events")
    clicks = ev.filter("event_type = 'click'").select(
        "event_id", "ts", "user_id")
    views = ev.filter("event_type = 'view'").select(
        "event_id", "ts", "user_id", "value")
    return (asof_join(clicks, views, right_cols=("event_id", "value"),
                      by=("user_id",), right_tiebreak="event_id")
            .select("event_id",
                    F.expr("unix_micros(CAST(ts AS TIMESTAMP))")
                    .alias("ts_us"),
                    "user_id", "event_id_asof", "value",
                    F.expr("unix_micros(CAST(ts_asof AS TIMESTAMP))")
                    .alias("ts_asof_us"))
            .orderBy("event_id"))


_ASOF_DUCK = """
SELECT l.event_id, epoch_us(l.ts) AS ts_us, l.user_id,
       r.event_id AS event_id_asof, r.value,
       epoch_us(r.ts) AS ts_asof_us
FROM (SELECT event_id, ts, user_id FROM events
      WHERE event_type = 'click') l
ASOF LEFT JOIN (SELECT event_id, ts, user_id, value FROM events
                WHERE event_type = 'view') r
  ON l.user_id = r.user_id AND l.ts >= r.ts
ORDER BY l.event_id
"""


_def("asof_click_view", _asof_fn, _ASOF_DUCK, "events")


# -- 66. exact phrase search over the positional inverted index
#        (operators/index.py phrase_search): the anchor-join algorithm —
#        a posting of phrase term i votes for anchor pos-i; an anchor
#        holding all k distinct i's is a verbatim occurrence. The term
#        filter runs before the only shuffle; (doc, anchor) cardinality
#        is bounded by the phrase's rarest term, not corpus size. The
#        fixture phrase 'slow hash batch' occurs at both SFs (8 hits /
#        5 docs at sf0.01, 6/6 at sf0.1). Twin: independent DuckDB
#        construction via range-transform position structs.
_PHRASE = ("slow", "hash", "batch")


def _phrase_fn(spark: SparkSession) -> DataFrame:
    # explicit top_n ≥ any SF's hit count (fixture hits are single-digit
    # per 5k docs; the bound engages the partial-top-k plan shape without
    # changing a row — r6 VERDICT task 1)
    return phrase_search(spark.table("documents"), list(_PHRASE),
                         top_n=1_000_000)


def _phrase_duck_sql() -> str:
    words = _words_expr("text", "duckdb")
    values = ", ".join(f"('{w}', {i})" for i, w in enumerate(_PHRASE))
    return f"""
WITH w AS (
  SELECT doc_id, {words} AS ws FROM documents
), post AS (
  SELECT doc_id, unnest(list_transform(range(1, len(ws) + 1),
      i -> struct_pack(pos := i - 1, term := ws[i]))) AS p
  FROM w
), flat AS (
  SELECT doc_id, p.pos AS pos, p.term AS term FROM post
), phr AS (
  SELECT * FROM (VALUES {values}) AS t(term, i)
), votes AS (
  SELECT f.doc_id, f.pos - p.i AS anchor, p.i
  FROM flat f JOIN phr p ON f.term = p.term
  WHERE f.pos - p.i >= 0
), occ AS (
  SELECT doc_id, anchor FROM votes
  GROUP BY doc_id, anchor
  HAVING count(DISTINCT i) = {len(_PHRASE)}
), cnt AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_occurrences
  FROM occ GROUP BY doc_id
)
SELECT doc_id, n_occurrences,
       CAST(row_number() OVER (ORDER BY n_occurrences DESC, doc_id ASC)
            AS BIGINT) AS rank
FROM cnt
ORDER BY rank
"""


_def("phrase_search", _phrase_fn, _phrase_duck_sql(), "documents")


# -- 67. turn grounding (operators/grounding.py): per assistant turn, the
#        share of its DISTINCT bigrams that appear in an EARLIER user turn
#        of the same conversation — the echo/parroting signal a transcript
#        curation filter keys on. Shaping shared with conversation_stats.
#        Exactness: integer gram counts; ppm = floor of one double
#        division of exact integers (correctly rounded identically in
#        both engines); zero-bigram turns emit NULL ppm in both.
def _grounding_fn(spark: SparkSession) -> DataFrame:
    return turn_grounding(_conv_stats_shaped(spark))


def _grounding_duck_sql() -> str:
    words = _words_expr("COALESCE(text, '')", "duckdb")
    return f"""
WITH shaped AS (
  SELECT source AS conv_id,
         CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id ASC) - 1
              AS INT) AS turn_idx,
         CASE WHEN doc_id % 5 < 2 THEN 'user'
              WHEN doc_id % 5 < 4 THEN 'assistant'
              ELSE 'tool' END AS role,
         text
  FROM documents
), w AS (
  SELECT conv_id, turn_idx, role, {words} AS ws FROM shaped
), grams AS (
  SELECT DISTINCT conv_id, turn_idx, role, gram FROM (
    SELECT conv_id, turn_idx, role,
           unnest(CASE WHEN len(ws) >= 2 THEN
                    list_transform(range(1, len(ws)),
                                   i -> ws[i] || ' ' || ws[i+1])
                  ELSE [] END) AS gram
    FROM w) t
), uf AS (
  SELECT conv_id, gram, min(turn_idx) AS first_user_idx
  FROM grams WHERE role = 'user' GROUP BY conv_id, gram
), m AS (
  SELECT a.conv_id, a.turn_idx,
         CASE WHEN u.first_user_idx < a.turn_idx THEN 1 ELSE 0 END
           AS is_grounded
  FROM (SELECT conv_id, turn_idx, gram FROM grams
        WHERE role = 'assistant') a
  LEFT JOIN uf u ON a.conv_id = u.conv_id AND a.gram = u.gram
), per_turn AS (
  SELECT conv_id, turn_idx, count(*) AS n_bigrams,
         sum(is_grounded) AS n_grounded
  FROM m GROUP BY conv_id, turn_idx
)
SELECT aa.conv_id, aa.turn_idx,
       CAST(COALESCE(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       CAST(COALESCE(p.n_grounded, 0) AS BIGINT) AS n_grounded,
       CAST(CASE WHEN COALESCE(p.n_bigrams, 0) > 0
                 THEN floor(1000000 * COALESCE(p.n_grounded, 0)
                            / p.n_bigrams) END AS BIGINT) AS grounded_ppm
FROM (SELECT DISTINCT conv_id, turn_idx FROM shaped
      WHERE role = 'assistant') aa
LEFT JOIN per_turn p
  ON aa.conv_id = p.conv_id AND aa.turn_idx = p.turn_idx
ORDER BY aa.conv_id, aa.turn_idx
"""


_def("turn_grounding", _grounding_fn, _grounding_duck_sql(), "documents")


# -- 68. directed n-gram containment (operators/dedupe.py
#        containment_pairs): Broder's containment |A∩B|/|A| over distinct
#        shingle sets — the doc-IN-doc detector Jaccard resemblance
#        misses (a quote inside a 100× longer doc). Same shared-shingle
#        candidate join as ngram_jaccard_top_pairs; both directions in
#        exact ppm; top-20 by strongest direction.
def _containment_duck_sql() -> str:
    return f"""{_shingle_sets_duck()}, pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS inter,
         CAST(min(a.n_sh) AS BIGINT) AS na,
         CAST(min(b.n_sh) AS BIGINT) AS nb
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, inter, na, nb,
       CAST(floor(1000000 * inter / na) AS BIGINT) AS contain_a_in_b_ppm,
       CAST(floor(1000000 * inter / nb) AS BIGINT) AS contain_b_in_a_ppm
FROM pairs
ORDER BY greatest(floor(1000000 * inter / na),
                  floor(1000000 * inter / nb)) DESC,
         doc_a ASC, doc_b ASC
LIMIT 20
"""


def _containment_fn(spark: SparkSession) -> DataFrame:
    pairs = dedupe.containment_pairs(spark.table("documents"))
    return (pairs.orderBy(
        F.desc(F.greatest("contain_a_in_b_ppm", "contain_b_in_a_ppm")),
        F.asc("doc_a"), F.asc("doc_b")).limit(20))


_def("dedup_containment", _containment_fn, _containment_duck_sql(), "documents")


# -- 69. SCD2 dimension history (operators/snapshot.py scd2_history):
#        Kimball type-2 validity intervals from the append-only event
#        log — per user, the discretized value tier on click events,
#        consecutive same-state observations collapsed, expiry = next
#        CHANGE's start. Timestamps emitted as epoch micros (the as-of
#        join representation lesson). Total per-key order via the
#        event_id tiebreak; attribute comparisons are NULL-safe
#        (IS DISTINCT FROM) in both engines.
def _scd2_fn(spark: SparkSession) -> DataFrame:
    src = (spark.table("events").filter("event_type = 'click'")
           .select("user_id", "ts", "event_id",
                   F.expr("CAST(floor(value / 25.0) AS INT)").alias("state")))
    return scd2_history(src, ["user_id"], "state", tiebreak_col="event_id")


_SCD2_DUCK = """
WITH src AS (
  SELECT user_id, ts, event_id,
         CAST(floor(value / 25.0) AS INT) AS state
  FROM events WHERE event_type = 'click'
), flagged AS (
  SELECT *, CASE WHEN row_number() OVER w = 1
                      OR state IS DISTINCT FROM lag(state) OVER w
                 THEN 1 ELSE 0 END AS chg
  FROM src WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
), changes AS (
  SELECT * FROM flagged WHERE chg = 1
)
SELECT user_id, state AS attr_value,
       epoch_us(ts) AS valid_from_us,
       epoch_us(lead(ts) OVER w2) AS valid_to_us,
       (lead(ts) OVER w2 IS NULL) AS is_current
FROM changes
WINDOW w2 AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
ORDER BY user_id, valid_from_us
"""


_def("scd2_user_state", _scd2_fn, _SCD2_DUCK, "events")


# -- 70. curriculum schedule (operators/sampling.py curriculum_order):
#        round-robin interleave over ntile difficulty buckets so every
#        training-stream prefix sees the full difficulty spectrum;
#        within-bucket order is the key hash (deterministic shuffle).
#        ntile remainder semantics are identical in both engines; ties
#        are totally ordered by (difficulty, hash, doc_id).
_CURR_FRAC = ("CAST(CAST('0x' || substr(md5(concat_ws('|', '{salt}', "
              "CAST(doc_id AS VARCHAR))), 1, 8) AS BIGINT) AS DOUBLE) "
              f"/ {float(16 ** 8)}")


def _curriculum_fn(spark: SparkSession) -> DataFrame:
    return sampling.curriculum_order(
        spark.table("documents").select("doc_id", "n_chars"),
        "n_chars", n_buckets=8)


def _curriculum_duck_sql() -> str:
    frac = _CURR_FRAC.format(salt="curriculum")
    return f"""
WITH base AS (
  SELECT doc_id, n_chars, {frac} AS tie FROM documents
), b AS (
  SELECT doc_id, n_chars, tie,
         CAST(ntile(8) OVER (ORDER BY n_chars ASC, tie ASC, doc_id ASC) - 1
              AS INT) AS bucket
  FROM base
)
SELECT doc_id, n_chars, bucket,
       CAST((row_number() OVER (PARTITION BY bucket
                                ORDER BY tie ASC, doc_id ASC) - 1) * 8
            + bucket AS BIGINT) AS schedule_pos
FROM b
ORDER BY schedule_pos
"""


_def("curriculum_schedule", _curriculum_fn, _curriculum_duck_sql(), "documents")


# -- 71. systematic weighted sampling (operators/sampling.py
#        systematic_weighted_sample): deterministic SUS over integer
#        weights — n equally spaced pointers on the Σw wheel in hash
#        order; hits per row via exact bigint ceil-division (Spark DIV /
#        DuckDB //; DuckDB's sum is HUGEINT so the products are exact
#        there too, and the Spark side carries an in-plan overflow
#        assert). Σ(sws_hits) = n exactly at any SF.
_SWS_N = 50


def _sws_fn(spark: SparkSession) -> DataFrame:
    docs = spark.table("documents").select(
        "doc_id", (F.col("n_chars") + 1).cast("bigint").alias("w"))
    return (sampling.systematic_weighted_sample(docs, _SWS_N, "w")
            .orderBy("doc_id"))


def _sws_duck_sql() -> str:
    frac = _CURR_FRAC.format(salt="sws")
    return f"""
WITH base AS (
  SELECT doc_id, CAST(n_chars + 1 AS BIGINT) AS w, {frac} AS tie
  FROM documents
), c AS (
  SELECT doc_id, w,
         sum(w) OVER (ORDER BY tie ASC, doc_id ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         sum(w) OVER () AS total
  FROM base
)
SELECT doc_id, w,
       CAST(((cum * {_SWS_N} + total - 1) // total)
            - (((cum - w) * {_SWS_N} + total - 1) // total) AS BIGINT)
         AS sws_hits
FROM c
WHERE ((cum * {_SWS_N} + total - 1) // total)
      - (((cum - w) * {_SWS_N} + total - 1) // total) > 0
ORDER BY doc_id
"""


_def("weighted_sample_sus", _sws_fn, _sws_duck_sql(), "documents")


# -- 72. boundary stitching (operators/dedupe.py stitch_pairs): shard-
#        reassembly candidates — A's last 3 words equal B's first 3
#        words. The join key is one fixed-width boundary per doc side
#        (body text never shuffles); hot boilerplate boundaries are
#        df-capped on each side independently. 8 pairs at sf0.01, 892
#        at sf0.1 (probed), both engines.
_STITCH_K, _STITCH_CAP = 3, 20


def _stitch_fn(spark: SparkSession) -> DataFrame:
    return (dedupe.stitch_pairs(spark.table("documents"), k=_STITCH_K,
                                max_boundary_df=_STITCH_CAP)
            .orderBy("doc_a", "doc_b", "boundary"))


def _stitch_duck_sql() -> str:
    words = _words_expr("text", "duckdb")
    k, cap = _STITCH_K, _STITCH_CAP
    return f"""
WITH w AS (
  SELECT doc_id, {words} AS ws FROM documents
), keyed AS (
  SELECT doc_id,
         array_to_string(ws[1:{k}], ' ') AS head_key,
         array_to_string(ws[-{k}:], ' ') AS tail_key
  FROM w WHERE len(ws) >= 2 * {k}
), heads AS (
  SELECT doc_id AS doc_b, head_key AS boundary FROM keyed
), tails AS (
  SELECT doc_id AS doc_a, tail_key AS boundary FROM keyed
), h2 AS (
  SELECT * FROM heads WHERE boundary NOT IN (
    SELECT boundary FROM heads GROUP BY boundary HAVING count(*) > {cap})
), t2 AS (
  SELECT * FROM tails WHERE boundary NOT IN (
    SELECT boundary FROM tails GROUP BY boundary HAVING count(*) > {cap})
)
SELECT t2.doc_a, h2.doc_b, t2.boundary
FROM t2 JOIN h2 USING (boundary)
WHERE t2.doc_a != h2.doc_b
ORDER BY t2.doc_a, h2.doc_b, t2.boundary
"""


_def("stitch_boundaries", _stitch_fn, _stitch_duck_sql(), "documents")


# -- 73. exact grouped percentiles (operators/metrics.py exact_quantiles):
#        per-language length distribution at p50/p90/p99 — quantile_disc
#        semantics with the rank position (n·p + 99) DIV 100 in pure
#        bigint, so both engines pick the identical element. The twin is
#        the same rank construction, NOT DuckDB's quantile_disc builtin —
#        builtin interpolation conventions differ; the rank math is the
#        portable contract.
def _quantiles_fn(spark: SparkSession) -> DataFrame:
    return exact_quantiles(spark.table("documents"), "n_chars",
                           group_cols=("lang",), percents=(50, 90, 99))


_QUANTILES_DUCK = """
WITH ranked AS (
  SELECT lang, CAST(n_chars AS BIGINT) AS v,
         row_number() OVER (PARTITION BY lang ORDER BY n_chars ASC) AS r,
         count(*) OVER (PARTITION BY lang) AS n
  FROM documents
)
SELECT lang, CAST(max(n) AS BIGINT) AS n,
       max(CASE WHEN r = (n * 50 + 99) // 100 THEN v END) AS p50,
       max(CASE WHEN r = (n * 90 + 99) // 100 THEN v END) AS p90,
       max(CASE WHEN r = (n * 99 + 99) // 100 THEN v END) AS p99
FROM ranked
GROUP BY lang
ORDER BY lang
"""


_def("length_quantiles", _quantiles_fn, _QUANTILES_DUCK, "documents")


# -- 74. right-to-be-forgotten rewrite (pipeline/maintenance.py
#        forget_rewrite): physically rewrite a scratch copy of events
#        without the deletion-request users (user_id % 97 = 0), under
#        the maintenance crash contract, then aggregate the SURVIVING
#        table — the oracle recomputes the survivors in SQL, so a
#        logical-only delete (or an over-delete) hash-mismatches.
def _forget_fn(spark: SparkSession) -> DataFrame:
    path = os.path.join(_scratch_dir("rs_forget_oracle_"), "t")
    spark.table("events").write.parquet(path)
    forget = (spark.table("events")
              .filter("user_id % 97 = 0").select("user_id").distinct())
    acc = forget_rewrite(spark, path, "user_id", forget)
    survivors = spark.read.parquet(path)
    return (survivors.groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.countDistinct("user_id").alias("n_users"),
                 F.expr("CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)")
                 .alias("total_value"),
                 F.lit(acc["n_removed"]).cast("bigint")
                 .alias("n_removed_total"))
            .orderBy("event_type"))


_FORGET_DUCK = """
WITH survivors AS (
  SELECT * FROM events WHERE user_id NOT IN (
    SELECT DISTINCT user_id FROM events WHERE user_id % 97 = 0)
), removed AS (
  SELECT CAST(count(*) AS BIGINT) AS n_removed_total
  FROM events WHERE user_id % 97 = 0
)
SELECT event_type,
       count(*) AS n,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       r.n_removed_total
FROM survivors CROSS JOIN removed r
GROUP BY event_type, r.n_removed_total
ORDER BY event_type
"""


_def("forget_rewrite_accounting", _forget_fn, _FORGET_DUCK, "events")


# -- 75. composed pretraining-stream curation (operators/curation.py
#        curate_pretrain_stream): exact-dedup canonical keep → token
#        gate (>=20) → per-source quota (15 of 25/250 per source — the
#        cap BINDS at both SFs) → curriculum interleave (8 ntile
#        buckets) → per-lang 2048-token packing in schedule order. The
#        twin replays all five stages in one SQL chain; every stage is
#        individually oracle-gated elsewhere, this pins the COMPOSITION
#        (stage order, column threading, window key handoffs).
_PRETRAIN_CAP, _PRETRAIN_MIN, _PRETRAIN_NB, _PRETRAIN_BUDGET = 15, 20, 8, 2048


def _pretrain_fn(spark: SparkSession) -> DataFrame:
    return curate_pretrain_stream(
        spark.table("documents").select("doc_id", "text", "lang", "source"),
        min_tokens=_PRETRAIN_MIN, per_source_cap=_PRETRAIN_CAP,
        n_buckets=_PRETRAIN_NB, budget=_PRETRAIN_BUDGET)


def _pretrain_duck_sql() -> str:
    frac = _CURR_FRAC.format(salt="curriculum")
    return f"""
WITH canon AS (
  SELECT doc_id, text, lang, source FROM (
    SELECT doc_id, text, lang, source,
           row_number() OVER (PARTITION BY md5(text)
                              ORDER BY doc_id ASC) AS rn
    FROM documents) t WHERE rn = 1
), toks AS (
  SELECT doc_id, lang, source,
         CAST(length(text) // {CHARS_PER_TOKEN} AS BIGINT) AS token_count
  FROM canon WHERE length(text) // {CHARS_PER_TOKEN} >= {_PRETRAIN_MIN}
), quota AS (
  SELECT doc_id, lang, source, token_count FROM (
    SELECT *, row_number() OVER (
      PARTITION BY source
      ORDER BY md5(concat_ws('|', 'quota', CAST(doc_id AS VARCHAR))) ASC,
               doc_id ASC) AS qrn
    FROM toks) q WHERE qrn <= {_PRETRAIN_CAP}
), tied AS (
  SELECT *, {frac} AS tie FROM quota
), b AS (
  SELECT *, CAST(ntile({_PRETRAIN_NB}) OVER (
              ORDER BY token_count ASC, tie ASC, doc_id ASC) - 1 AS INT)
              AS bucket
  FROM tied
), sched AS (
  SELECT doc_id, lang, source, token_count, bucket,
         CAST((row_number() OVER (PARTITION BY bucket
                                  ORDER BY tie ASC, doc_id ASC) - 1)
              * {_PRETRAIN_NB} + bucket AS BIGINT) AS schedule_pos
  FROM b
), cum AS (
  SELECT *, CAST(COALESCE(sum(token_count) OVER (
              PARTITION BY lang ORDER BY schedule_pos
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cum_before
  FROM sched
)
SELECT doc_id, lang, source, token_count, bucket, schedule_pos,
       CAST(cum_before // {_PRETRAIN_BUDGET} AS BIGINT) AS seq_index,
       CAST(cum_before - (cum_before // {_PRETRAIN_BUDGET})
            * {_PRETRAIN_BUDGET} AS BIGINT) AS seq_token_offset
FROM cum
"""


_def("curate_pretrain_stream", _pretrain_fn, _pretrain_duck_sql(), "documents")


# -- 76. skew diagnostic (operators/skew.py skew_report + heavy_keys):
#        the measurement that decides whether with_salt is needed
#        before a 10^12-row shuffle. Run over a deliberately skewed
#        shaping of events (user_id DIV squared residue), emitting the
#        hot-key list cross-joined with the one-row report. All
#        integers; the mean is DIV-floored FIRST so no intermediate
#        exceeds 1e6·max_count (the naive 1e6·max·n_keys wraps bigint
#        at trillion-row scale — same family as the mixture_plan and
#        SUS guards).
def _skew_fn(spark: SparkSession) -> DataFrame:
    # quadratic residue shaping: key = (user_id*user_id) % 101 — a
    # deterministic non-uniform key distribution (residues collide)
    shaped = spark.table("events").select(
        F.expr("pmod(user_id * user_id, 101)").cast("bigint")
        .alias("conv_id"))
    hot = heavy_keys(shaped, multiplier=1)
    report = skew_report(shaped)
    return (hot.crossJoin(report)
            .select("conv_id", "key_count", "mean_x_ppm", "n_rows",
                    "n_keys", "max_count", "p50_count", "p99_count",
                    "skew_factor_ppm", "recommended_salts")
            .orderBy(F.desc("key_count"), F.asc("conv_id")))


_SKEW_DUCK = """
WITH shaped AS (
  SELECT CAST((user_id * user_id) % 101 AS BIGINT) AS conv_id FROM events
), counts AS (
  SELECT conv_id, CAST(count(*) AS BIGINT) AS key_count
  FROM shaped GROUP BY conv_id
), ranked AS (
  SELECT *, row_number() OVER (ORDER BY key_count ASC) AS r,
         count(*) OVER () AS nk
  FROM counts
), rep AS (
  SELECT CAST(sum(key_count) AS BIGINT) AS n_rows,
         CAST(max(nk) AS BIGINT) AS n_keys,
         CAST(max(key_count) AS BIGINT) AS max_count,
         CAST(max(CASE WHEN r = (nk * 50 + 99) // 100
                       THEN key_count END) AS BIGINT) AS p50_count,
         CAST(max(CASE WHEN r = (nk * 99 + 99) // 100
                       THEN key_count END) AS BIGINT) AS p99_count
  FROM ranked
), rep2 AS (
  SELECT *, greatest(1, n_rows // n_keys) AS mean FROM rep
)
SELECT c.conv_id, c.key_count,
       CAST((1000000 * c.key_count) // r.mean AS BIGINT) AS mean_x_ppm,
       r.n_rows, r.n_keys, r.max_count, r.p50_count, r.p99_count,
       CAST((1000000 * r.max_count) // r.mean AS BIGINT) AS skew_factor_ppm,
       CAST((r.max_count + r.mean - 1) // r.mean AS BIGINT)
         AS recommended_salts
FROM counts c CROSS JOIN rep2 r
WHERE c.key_count > 1 * r.mean
ORDER BY c.key_count DESC, c.conv_id ASC
"""


_def("skew_diagnostic", _skew_fn, _SKEW_DUCK, "events")


# -- 77. boolean term search (operators/index.py terms_search): AND
#        semantics over the postings index, scored by total tf — the
#        cheap pre-screen a phrase query runs at scale. Same terms as
#        the phrase fixture so the two tiers are directly comparable
#        (AND matches ⊇ phrase matches).
def _terms_fn(spark: SparkSession) -> DataFrame:
    # explicit top_n ≥ any SF's hit count (same rationale as _phrase_fn)
    return terms_search(spark.table("documents"), list(_PHRASE),
                        top_n=1_000_000)


def _terms_duck_sql() -> str:
    words = _words_expr("text", "duckdb")
    in_list = ", ".join(f"'{w}'" for w in sorted(set(_PHRASE)))
    return f"""
WITH post AS (
  SELECT doc_id, unnest({words}) AS term FROM documents
), hits AS (
  SELECT doc_id,
         CAST(count(DISTINCT term) AS BIGINT) AS n_matched_terms,
         CAST(count(*) AS BIGINT) AS total_tf
  FROM post WHERE term IN ({in_list})
  GROUP BY doc_id
  HAVING count(DISTINCT term) = {len(set(_PHRASE))}
)
SELECT doc_id, n_matched_terms, total_tf,
       CAST(row_number() OVER (ORDER BY total_tf DESC, doc_id ASC)
            AS BIGINT) AS rank
FROM hits
ORDER BY rank
"""


_def("terms_search_all", _terms_fn, _terms_duck_sql(), "documents")


# -- 78. ordered funnel (operators/sessions.py funnel): per user, the
#        earliest strictly-increasing view → click → purchase chain —
#        greedy-earliest is exact for existence (taking the minimal
#        timestamp at each step maximizes remaining options). One
#        filtered min-aggregate per step joined back on the user key;
#        epoch-micro outputs.
def _funnel_fn(spark: SparkSession) -> DataFrame:
    return funnel(spark.table("events"), ["view", "click", "purchase"])


_FUNNEL_DUCK = """
WITH base AS (
  SELECT user_id, event_type AS t, epoch_us(ts) AS us FROM events
), users AS (
  SELECT DISTINCT user_id FROM base
), s1 AS (
  SELECT user_id, min(us) AS step1_us FROM base
  WHERE t = 'view' GROUP BY user_id
), s2 AS (
  SELECT b.user_id, min(b.us) AS step2_us
  FROM base b JOIN s1 ON b.user_id = s1.user_id
  WHERE b.t = 'click' AND b.us > s1.step1_us
  GROUP BY b.user_id
), s3 AS (
  SELECT b.user_id, min(b.us) AS step3_us
  FROM base b JOIN s2 ON b.user_id = s2.user_id
  WHERE b.t = 'purchase' AND b.us > s2.step2_us
  GROUP BY b.user_id
)
SELECT u.user_id, s1.step1_us, s2.step2_us, s3.step3_us,
       CAST((CASE WHEN s1.step1_us IS NOT NULL THEN 1 ELSE 0 END)
          + (CASE WHEN s2.step2_us IS NOT NULL THEN 1 ELSE 0 END)
          + (CASE WHEN s3.step3_us IS NOT NULL THEN 1 ELSE 0 END)
          AS INT) AS n_steps,
       (s3.step3_us IS NOT NULL) AS converted
FROM users u
LEFT JOIN s1 ON u.user_id = s1.user_id
LEFT JOIN s2 ON u.user_id = s2.user_id
LEFT JOIN s3 ON u.user_id = s3.user_id
ORDER BY u.user_id
"""


_def("funnel_view_click_purchase", _funnel_fn, _FUNNEL_DUCK, "events")


# -- 79. cohort retention (operators/sessions.py cohort_retention):
#        weekly cohorts by pure integer epoch arithmetic (epoch_us DIV
#        7·86400·1e6) — never calendar date_trunc, whose week-start and
#        timezone conventions differ across engines. Offset 0 is the
#        cohort definition (always 1e6 ppm).
def _cohort_fn(spark: SparkSession) -> DataFrame:
    return cohort_retention(spark.table("events"), period_days=7)


_COHORT_DUCK = """
WITH activity AS (
  SELECT DISTINCT user_id AS u,
         epoch_us(ts) // 604800000000 AS p
  FROM events
), firsts AS (
  SELECT u, min(p) AS cohort FROM activity GROUP BY u
), sizes AS (
  SELECT cohort, CAST(count(*) AS BIGINT) AS n_cohort
  FROM firsts GROUP BY cohort
), active AS (
  SELECT f.cohort, a.p - f.cohort AS off,
         CAST(count(DISTINCT a.u) AS BIGINT) AS n_active
  FROM activity a JOIN firsts f ON a.u = f.u
  GROUP BY f.cohort, a.p - f.cohort
)
SELECT CAST(a.cohort AS BIGINT) AS cohort_period,
       CAST(a.off AS BIGINT) AS period_offset,
       a.n_active, s.n_cohort,
       CAST((1000000 * a.n_active) // s.n_cohort AS BIGINT)
         AS retention_ppm
FROM active a JOIN sizes s ON a.cohort = s.cohort
ORDER BY cohort_period, period_offset
"""


_def("cohort_retention_weekly", _cohort_fn, _COHORT_DUCK, "events")


# -- 80. event transition matrix (operators/sessions.py
#        transition_matrix): first-order Markov counts between
#        consecutive same-user events, row-normalized in exact integer
#        ppm; |types|² output regardless of corpus size.
def _trans_fn(spark: SparkSession) -> DataFrame:
    return transition_matrix(spark.table("events"))


_TRANS_DUCK = """
WITH pairs AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts ASC, event_id ASC)
           AS from_type,
         event_type AS to_type
  FROM events
), counts AS (
  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
  FROM pairs WHERE from_type IS NOT NULL
  GROUP BY from_type, to_type
), totals AS (
  SELECT from_type, CAST(sum(n) AS BIGINT) AS row_total
  FROM counts GROUP BY from_type
)
SELECT c.from_type, c.to_type, c.n, t.row_total,
       CAST((1000000 * c.n) // t.row_total AS BIGINT) AS p_ppm
FROM counts c JOIN totals t ON c.from_type = t.from_type
ORDER BY c.from_type, c.to_type
"""


_def("event_transition_matrix", _trans_fn, _TRANS_DUCK, "events")


# -- 81. nDCG@k (operators/retrieval.py ndcg_eval): the graded rank
#        metric whose log2 discounts are irreducibly float — so the
#        discounts and ideal prefix sums are PYTHON-COMPUTED LITERALS
#        embedded in both plans (identical bit patterns, repr round-
#        trip), DCG is an order-fixed fold over rank-sorted hits, and
#        the one division lands in floor-ppm. Same md5-ordered fixture
#        as retrieval_eval.
_NDCG_K = 10


def _ndcg_fn(spark: SparkSession) -> DataFrame:
    results, qrels = _eval_fixture(spark)
    return retrieval.ndcg_eval(results, qrels, k=_NDCG_K)


def _ndcg_duck_sql() -> str:
    discounts = [1.0 / math.log2(i + 1) for i in range(1, _NDCG_K + 1)]
    prefix = []
    acc = 0.0
    for d in discounts:
        acc += d
        prefix.append(acc)
    disc = "[" + ", ".join(repr(d) for d in discounts) + "]"
    ideal = "[" + ", ".join(repr(p) for p in prefix) + "]"
    return f"""{_EVAL_FIXTURE_CTES}, hits AS (
  SELECT r.query_id,
         CAST(count(*) AS BIGINT) AS n_rel_ret,
         list_sort(list(r.rank)) AS ranks
  FROM results r JOIN qrels j
    ON j.query_id = r.query_id AND j.doc_id = r.doc_id
  WHERE r.rank <= {_NDCG_K}
  GROUP BY r.query_id
), uni AS (
  SELECT u.query_id, CAST(COALESCE(j.n_rel, 0) AS BIGINT) AS n_rel
  FROM (SELECT DISTINCT query_id FROM results
        UNION SELECT DISTINCT query_id FROM qrels) u
  LEFT JOIN (SELECT query_id, count(*) AS n_rel
             FROM qrels GROUP BY query_id) j
    ON u.query_id = j.query_id
), scored AS (
  SELECT u.query_id, u.n_rel,
         COALESCE(h.n_rel_ret, 0) AS n_rel_ret,
         COALESCE(list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
                        list_transform(h.ranks, r -> {disc}[r])),
           (a, v) -> a + v), 0.0) AS dcg,
         CASE WHEN u.n_rel > 0
              THEN {ideal}[least(u.n_rel, {_NDCG_K})] END AS idcg
  FROM uni u LEFT JOIN hits h ON u.query_id = h.query_id
)
SELECT query_id, n_rel, CAST(n_rel_ret AS BIGINT) AS n_rel_ret,
       CAST(floor(1000000 * dcg / idcg) AS BIGINT) AS ndcg_ppm
FROM scored
ORDER BY query_id
"""


_def("ndcg_at_k", _ndcg_fn, _ndcg_duck_sql(), "documents")


# -- 82. distribution drift (operators/snapshot.py distribution_drift):
#        language-mix shift between a half-corpus "old" snapshot and the
#        full refresh — total variation in exact ppm (PSI needs runtime
#        ln; TV is the integer-exact drift alarm). Vanished/appeared
#        buckets survive the full outer join with share 0.
def _drift_fn(spark: SparkSession) -> DataFrame:
    docs = spark.table("documents")
    return distribution_drift(docs.filter("doc_id % 2 = 0"), docs, "lang")


_DRIFT_DUCK = """
WITH old_c AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_old
  FROM documents WHERE doc_id % 2 = 0 GROUP BY lang
), old_t AS (SELECT sum(n_old) AS t FROM old_c),
new_c AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_new
  FROM documents GROUP BY lang
), new_t AS (SELECT sum(n_new) AS t FROM new_c),
old_s AS (
  SELECT lang, n_old,
         CAST(floor(1000000.0 * CAST(n_old AS DOUBLE)
                    / CAST((SELECT t FROM old_t) AS DOUBLE)) AS BIGINT)
           AS share_old_ppm
  FROM old_c
), new_s AS (
  SELECT lang, n_new,
         CAST(floor(1000000.0 * CAST(n_new AS DOUBLE)
                    / CAST((SELECT t FROM new_t) AS DOUBLE)) AS BIGINT)
           AS share_new_ppm
  FROM new_c
), merged AS (
  SELECT COALESCE(o.lang, n.lang) AS lang,
         COALESCE(o.n_old, 0) AS n_old, COALESCE(n.n_new, 0) AS n_new,
         COALESCE(o.share_old_ppm, 0) AS share_old_ppm,
         COALESCE(n.share_new_ppm, 0) AS share_new_ppm,
         CAST(abs(COALESCE(n.share_new_ppm, 0)
                  - COALESCE(o.share_old_ppm, 0)) AS BIGINT)
           AS abs_delta_ppm
  FROM old_s o FULL OUTER JOIN new_s n
    ON o.lang IS NOT DISTINCT FROM n.lang
)
SELECT lang, n_old, n_new, share_old_ppm, share_new_ppm, abs_delta_ppm,
       CAST((SELECT sum(abs_delta_ppm) FROM merged) // 2 AS BIGINT) AS tv_ppm
FROM merged
ORDER BY lang
"""


_def("distribution_drift_langs", _drift_fn, _DRIFT_DUCK, "documents")


# -- 83. join-cardinality prediction (operators/snapshot.py
#        join_cardinality): exact |A ⋈ B| = Σ cA(k)·cB(k) from per-key
#        counts BEFORE any row shuffles — the skew-planning number —
#        with the top contributing keys. clicks ⋈ views on user_id.
def _joincard_fn(spark: SparkSession) -> DataFrame:
    ev = spark.table("events")
    return join_cardinality(ev.filter("event_type = 'click'"),
                            ev.filter("event_type = 'view'"),
                            "user_id", top_n=10)


_JOINCARD_DUCK = """
WITH ca AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS c_left
  FROM events WHERE event_type = 'click' GROUP BY user_id
), cb AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS c_right
  FROM events WHERE event_type = 'view' GROUP BY user_id
), per_key AS (
  SELECT ca.user_id, ca.c_left, cb.c_right,
         CAST(ca.c_left * cb.c_right AS BIGINT) AS pairs
  FROM ca JOIN cb ON ca.user_id = cb.user_id
), tot AS (SELECT CAST(sum(pairs) AS BIGINT) AS total_pairs FROM per_key)
SELECT p.user_id, p.c_left, p.c_right, p.pairs, t.total_pairs,
       CAST(floor(1000000.0 * CAST(p.pairs AS DOUBLE)
                  / CAST(t.total_pairs AS DOUBLE)) AS BIGINT) AS share_ppm
FROM per_key p CROSS JOIN tot t
ORDER BY p.pairs DESC, p.user_id ASC
LIMIT 10
"""


_def("join_cardinality_topkeys", _joincard_fn, _JOINCARD_DUCK, "events")


# -- 84. edit-distance near-dup (operators/dedupe.py
#        edit_distance_pairs): Levenshtein ≤ 20 over prefix-12 +
#        length-band candidates — the OCR-noise/typo variant the
#        shingle family under-detects (one flip per word destroys every
#        3-shingle at edit cost 1 each). UNIT TRAP (review-found,
#        measured): Spark's DP counts CODEPOINTS, DuckDB's counts BYTES
#        ('é'→'e' = 1 vs 2) — so BOTH sides gate to ASCII docs
#        (length = octet_length, the regex-free check), where the DPs
#        agree exactly; a non-ASCII corpus refresh therefore narrows
#        the gate instead of hash-breaking it. 25 close pairs at
#        sf0.01, 256 at sf0.1 (probed; the fixture is all-ASCII today).
def _editdist_fn(spark: SparkSession) -> DataFrame:
    ascii_docs = spark.table("documents").filter(
        "length(text) = octet_length(text)")
    return (dedupe.edit_distance_pairs(ascii_docs)
            .orderBy("doc_a", "doc_b"))


_EDITDIST_DUCK = """
WITH d AS (
  SELECT doc_id, text, substr(lower(text), 1, 12) AS pfx,
         length(text) AS L
  FROM documents
  WHERE length(text) = strlen(text)
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(levenshtein(a.text, b.text) AS BIGINT) AS distance
FROM d a JOIN d b
  ON a.pfx = b.pfx AND abs(a.L - b.L) <= 20 AND a.doc_id < b.doc_id
WHERE levenshtein(a.text, b.text) <= 20
ORDER BY doc_a, doc_b
"""


_def("dedup_edit_distance", _editdist_fn, _EDITDIST_DUCK, "documents")


# -- 85. data-quality expectations (operators/expectations.py): the
#        dbt-test/Great-Expectations contract gate as ONE aggregation
#        pass — every row-local rule is a conditional count in a single
#        aggregate (plan-asserted single scan), uniqueness adds one
#        grouped agg. The ruleset below makes each rule outcome
#        non-vacuous on events (the range rule binds; event_id is
#        actually unique so that rule proves the zero path).
_EXPECT_RULES = [
    {"type": "not_null", "col": "user_id"},
    {"type": "unique", "cols": ["event_id"]},
    {"type": "accepted_values", "col": "event_type",
     "values": ["click", "view", "purchase", "signup", "error"]},
    {"type": "range", "col": "value", "lo": 0.0, "hi": 50.0},
    {"type": "regex", "col": "event_type", "pattern": "^[a-z]+$"},
]


def _expect_fn(spark: SparkSession) -> DataFrame:
    return expectations_report(spark.table("events"), _EXPECT_RULES)


_EXPECT_DUCK = """
WITH rl AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS v0,
         CAST(sum(CASE WHEN event_type IS NULL OR event_type NOT IN
                       ('click', 'view', 'purchase', 'signup', 'error')
                  THEN 1 ELSE 0 END) AS BIGINT) AS v2,
         CAST(sum(CASE WHEN value IS NULL OR value < 0.0 OR value > 50.0
                  THEN 1 ELSE 0 END) AS BIGINT) AS v3,
         CAST(sum(CASE WHEN event_type IS NOT NULL
                       AND NOT regexp_matches(event_type, '^[a-z]+$')
                  THEN 1 ELSE 0 END) AS BIGINT) AS v4
  FROM events
), uq AS (
  -- dbt semantics: NULL keys are exempt from uniqueness
  SELECT CAST(COALESCE(sum(c - 1), 0) AS BIGINT) AS v1,
         CAST(COALESCE(sum(c), 0) AS BIGINT) AS n1
  FROM (SELECT count(*) AS c FROM events
        WHERE event_id IS NOT NULL GROUP BY event_id) g
)
SELECT * FROM (
  SELECT CAST(0 AS INT) AS rule_id, 'not_null' AS rule_type,
         'user_id' AS target, v0 AS n_violations, n AS n_rows,
         v0 = 0 AS passed FROM rl
  UNION ALL
  SELECT 1, 'unique', 'event_id', v1, n1, v1 = 0 FROM uq
  UNION ALL
  SELECT 2, 'accepted_values', 'event_type', v2, n, v2 = 0 FROM rl
  UNION ALL
  SELECT 3, 'range', 'value', v3, n, v3 = 0 FROM rl
  UNION ALL
  SELECT 4, 'regex', 'event_type', v4, n, v4 = 0 FROM rl)
ORDER BY rule_id
"""


_def("expectations_events", _expect_fn, _EXPECT_DUCK, "events")


# -- 86. rolling active users (operators/sessions.py rolling_active):
#        exact DAU + trailing-7-day actives — COUNT(DISTINCT) over a
#        RANGE window is inexpressible, so each distinct (user, day)
#        votes for the 7 report days it covers (bounded W× expansion of
#        the already-collapsed day table, never the event stream).
#        Epoch-integer days, the cohort convention.
def _rolling_fn(spark: SparkSession) -> DataFrame:
    return rolling_active(spark.table("events"), window_days=7)


_ROLLING_DUCK = """
WITH daily AS (
  SELECT DISTINCT user_id AS u,
         epoch_us(ts) // 86400000000 AS d
  FROM events
), dau AS (
  SELECT d, CAST(count(*) AS BIGINT) AS n_active_1d
  FROM daily GROUP BY d
), votes AS (
  SELECT DISTINCT u, d + off AS rd
  FROM daily, unnest([0, 1, 2, 3, 4, 5, 6]) AS t(off)
), bounds AS (
  SELECT min(d) AS lo, max(d) AS hi FROM daily
), wau AS (
  SELECT v.rd, CAST(count(*) AS BIGINT) AS n_active_wd
  FROM votes v, bounds b
  WHERE v.rd BETWEEN b.lo AND b.hi
  GROUP BY v.rd
), spine AS (
  SELECT unnest(generate_series(b.lo, b.hi)) AS day FROM bounds b
)
SELECT CAST(s.day AS BIGINT) AS day,
       COALESCE(dau.n_active_1d, 0) AS n_active_1d,
       COALESCE(wau.n_active_wd, 0) AS n_active_wd
FROM spine s
LEFT JOIN dau ON s.day = dau.d
LEFT JOIN wau ON s.day = wau.rd
ORDER BY day
"""


_def("rolling_active_users", _rolling_fn, _ROLLING_DUCK, "events")


# --------------------------------------------------------------------------
# public API consumed by __spark_entry__
# --------------------------------------------------------------------------

def queries() -> dict:
    return {name: fn for name, (fn, _sql) in _DEFS.items()}


def oracle_sql() -> dict:
    return {name: sql for name, (_fn, sql) in _DEFS.items() if sql is not None}
