"""Deduplication operators — first-class DataFrame APIs.

Large-scale training-data dedup toolkit over a text column:

* ``exact_duplicates``    — md5 hash-groupBy (bit-exact dupes).
* ``minhash_signatures`` / ``minhash_lsh_pairs`` — shingle → 8 md5-
  permutation minima → 2 bands of 4 → bucket self-join. Shaped for scale:
  explode once, partial-aggregate ``min()`` map-side (never nest the
  signature computation in reused expressions — Spark inlines and
  recomputes), band join only touches collided buckets.
* ``simhash16``           — ``simhash64``'s first 16-bit band (compact scorer).
* ``simhash64`` / ``simhash64_near_pairs`` — 64-bit sketch as 4 × 16-bit
  band values; near-pairs join only docs sharing a band (2^16 buckets per
  band, exact recall at Hamming ≤ 3 by pigeonhole).
* ``jaccard_pairs``       — exact n-gram-shingle Jaccard via shared-shingle
  join (the ground truth LSH approximates).
* ``duplicate_clusters`` / ``keep_canonical`` — candidate pairs → connected
  components (min-label propagation) → one surviving doc per cluster.
* ``winnow_fingerprints`` / ``winnow_overlap_pairs`` — MOSS winnowing
  (k-gram rolling hashes, window minima): LOCAL-overlap candidates that
  whole-document signatures dilute.
* ``embedding_near_pairs`` — embedding-cosine near-dups: sign-LSH bucket
  self-join (similarity.hyperplane_buckets) + exact cosine threshold on
  the candidates only.

Everything is JVM-side column expressions (md5/regexp/array functions) —
no Python in any of these paths. The SQL twins in entry_queries.py verify
the semantics against DuckDB value-for-value.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, Window, functions as F

N_HASHES = 8
N_BANDS = 2


def words_col(text: Column) -> Column:
    return F.filter(F.split(F.lower(text), r"\s+"), lambda w: w != "")


def shingles_col(words: Column, k: int = 3) -> Column:
    """k-word shingles (with duplicates)."""
    idx = F.sequence(F.lit(0), F.size(words) - k)
    return F.when(
        F.size(words) >= k,
        F.transform(idx, lambda i: F.concat_ws(
            " ", *[F.element_at(words, (i + j + 1).cast("int")) for j in range(k)]
        )),
    ).otherwise(F.array())


def exact_duplicates(df: DataFrame) -> DataFrame:
    """Groups of bit-identical texts: (text_hash, dup_count, doc_ids).
    ``df`` carries ``doc_id`` and ``text``."""
    return (
        df.select(F.md5(F.col("text")).alias("text_hash"), F.col("doc_id"))
        .groupBy("text_hash")
        .agg(F.count("*").alias("dup_count"),
             F.sort_array(F.collect_list("doc_id")).alias("doc_ids"))
        .filter(F.col("dup_count") > 1)
    )


def _bound_words(df: DataFrame, id_col: str, out: str = "_w") -> DataFrame:
    """(id, words-array) with the split BOUND to a column attribute.
    shingles_col references its words input k times per position, and
    Catalyst inlines an in-expression words_col into every reference —
    at k=13 that re-splits the text 13× per position (measured 58×
    slower on the decontamination gram pass). CollapseProject keeps a
    multi-referenced projection un-inlined, so one intermediate select
    is the whole fix (the schema_extract bind-once lesson)."""
    return df.select(F.col(id_col), words_col(F.col("text")).alias(out))


def _exploded_shingles(df: DataFrame, id_col: str, k: int) -> DataFrame:
    return (
        _bound_words(df, id_col)
        .select(F.col(id_col), shingles_col(F.col("_w"), k).alias("sh"))
        .select(id_col, F.explode("sh").alias("shingle"))
    )


def minhash_signatures(df: DataFrame, id_col: str = "doc_id", k: int = 3,
                       n_hashes: int = N_HASHES) -> DataFrame:
    """One row per doc with h0..h{n_hashes-1} minima (md5 permutations).
    ``df`` carries ``text`` and the ``id_col`` key."""
    ex = _exploded_shingles(df, id_col, k)
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{h}:"), F.col("shingle")))).alias(f"h{h}")
        for h in range(n_hashes)
    ]
    return ex.groupBy(id_col).agg(*aggs)


def minhash_lsh_pairs(df: DataFrame, id_col: str = "doc_id", k: int = 3,
                      n_hashes: int = N_HASHES,
                      n_bands: int = N_BANDS) -> DataFrame:
    """Candidate near-duplicate pairs: docs sharing any signature band.

    Recall/precision dial (defaults 8 hashes / 2 bands ≈ the s-curve knee
    at Jaccard ~0.7): more bands with fewer rows each → higher recall,
    more candidates; fewer, wider bands → higher precision, fewer
    candidates. ``n_bands`` must divide ``n_hashes``. Cost tradeoffs at
    sf0.1 are tabulated in BASELINE.md (minhash parameter sweep).
    ``df`` carries ``text`` and the ``id_col`` key."""
    bands = _minhash_bands(df, id_col, k, n_hashes, n_bands)
    a = bands.alias("a")
    b_ = bands.alias("b")
    return (
        a.join(b_, (F.col("a.band_idx") == F.col("b.band_idx"))
               & (F.col("a.band_key") == F.col("b.band_key"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .distinct()
    )


def _minhash_bands(df: DataFrame, id_col: str, k: int, n_hashes: int,
                   n_bands: int) -> DataFrame:
    """(id, band_idx, band_key) rows. ONE explode(array(struct(...))) per
    caller, never a union of selects over the signature subplan: a union
    re-references the aggregate n_bands times and only optimizer goodwill
    (ReusedExchange) keeps the signatures from being recomputed per band —
    the explode shape makes one-signature-computation-per-doc structural
    (plan-asserted in tests/test_plan_shapes.py)."""
    if n_hashes % n_bands:
        raise ValueError(f"n_bands={n_bands} must divide n_hashes={n_hashes}")
    sigs = minhash_signatures(df, id_col, k, n_hashes)
    per_band = n_hashes // n_bands
    band_structs = [
        F.struct(
            F.lit(b).alias("band_idx"),
            F.md5(F.concat(*[F.col(f"h{b * per_band + j}")
                             for j in range(per_band)])).alias("band_key"),
        )
        for b in range(n_bands)
    ]
    return sigs.select(
        F.col(id_col), F.explode(F.array(*band_structs)).alias("bd")
    ).select(id_col, "bd.band_idx", "bd.band_key")


def cross_corpus_minhash_pairs(left: DataFrame, right: DataFrame, k: int = 3,
                               n_hashes: int = N_HASHES,
                               n_bands: int = N_BANDS) -> DataFrame:
    """Near-duplicate candidates BETWEEN two corpora — the benchmark-
    decontamination / incremental-dedup join: which ``left`` docs share a
    MinHash band with any ``right`` doc (e.g. left = training corpus,
    right = evaluation sets; or left = today's batch, right = the already-
    committed index). Returns (left_id, right_id), distinct.

    Scale shape: both sides band independently (one explode each); the
    join is left-bands × right-bands on (band_idx, band_key) — NEVER the
    O(N²) self-join, and when ``right`` is a small benchmark suite Spark
    broadcasts its bands; so it does for one streaming micro-batch against
    the committed corpus. An asymmetric corpus-vs-index run shuffles only
    on band keys, so the committed index can stay partitioned by band.
    ``left`` and ``right`` carry ``doc_id`` and ``text``."""
    lb = _minhash_bands(left, "doc_id", k, n_hashes, n_bands).alias("l")
    rb = _minhash_bands(right, "doc_id", k, n_hashes, n_bands).alias("r")
    return (
        lb.join(rb, (F.col("l.band_idx") == F.col("r.band_idx"))
                & (F.col("l.band_key") == F.col("r.band_key")))
        .select(F.col("l.doc_id").alias("left_id"),
                F.col("r.doc_id").alias("right_id"))
        .distinct()
    )


def distinct_ngrams(df: DataFrame, n: int = 13,
                    out_id: str = "doc_id") -> DataFrame:
    """(out_id, gram): each document's DISTINCT n-word grams, exploded —
    the shared building block of decontamination. Exposed so a long-lived
    consumer (the streaming curation job) can compute the STATIC
    benchmark side once, localCheckpoint it, and reuse it across
    micro-batches instead of re-exploding + re-broadcasting per batch.
    ``df`` carries ``doc_id`` and ``text``."""
    return (_bound_words(df, "doc_id")
            .select(F.col("doc_id").alias(out_id),
                    F.explode(F.array_distinct(
                        shingles_col(F.col("_w"), n))).alias("gram")))


def ngram_decontaminate(corpus: DataFrame, benchmark: DataFrame | None,
                        n: int = 13, min_shared: int = 1,
                        benchmark_grams: DataFrame | None = None) -> DataFrame:
    """EXACT n-gram eval-decontamination — the GPT-3-style complement of
    the MinHash candidate pass (cross_corpus_minhash_pairs): a training
    doc is contaminated when it shares at least ``min_shared`` verbatim
    n-word grams with a benchmark doc. Returns (corpus_id, benchmark_id,
    n_shared) with exact shared-gram counts.

    Shape: both sides explode to DISTINCT grams (duplicate grams inside
    one doc must not inflate the count), join on the gram string, count
    per pair. The benchmark side is tiny by construction (eval suites)
    and broadcasts; the corpus side streams through one explode. n=13
    follows the published convention; documents shorter than n words
    have no grams and can never be flagged. ``benchmark_grams`` (a
    precomputed ``distinct_ngrams(..., out_id="benchmark_id")`` frame,
    SAME n) takes precedence over ``benchmark`` — repeated callers
    materialize the static side once.
    ``corpus`` and ``benchmark`` carry ``doc_id`` and ``text``."""
    cg = distinct_ngrams(corpus, n, out_id="corpus_id")
    if benchmark_grams is not None:
        bg = benchmark_grams
    elif benchmark is not None:
        bg = distinct_ngrams(benchmark, n, out_id="benchmark_id")
    else:
        raise ValueError("one of benchmark / benchmark_grams is required")
    return (cg.join(bg, on="gram")
            .groupBy("corpus_id", "benchmark_id")
            .agg(F.count("*").cast("bigint").alias("n_shared"))
            .filter(F.col("n_shared") >= min_shared))


def repeated_spans(df: DataFrame, n: int = 20, min_df: int = 2,
                   max_df: int | None = 1000) -> DataFrame:
    """Verbatim repeated-span mining — the span-LOCATING complement of the
    doc-level near-dup passes (Lee et al.'s exact-substring dedup, public,
    approximated at fixed n-word granularity): every position where an
    n-word run occurs in ≥ ``min_df`` distinct documents, so curation can
    CUT the repeated boilerplate instead of dropping whole documents.
    Returns (id, word_pos [0-based], gram_md5, n_docs).

    ``max_df`` caps pathological grams (site-wide boilerplate appearing in
    millions of docs would otherwise fan the join out by its df) — same
    rationale as jaccard_pairs' shingle cap; capped grams are *dropped
    from the report*, which at curation time means "handle ubiquitous
    boilerplate with a dedicated rule, not this table". One explode, one
    (gram → df) aggregate, one hash-keyed join back to positions.
    ``df`` carries ``doc_id`` and ``text``."""
    # words bound once (_bound_words rationale): the slice-per-position
    # transform would otherwise re-split the text once per position
    w = F.col("_w")
    positioned = F.when(
        F.size(w) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(w) - n),
            lambda i: F.struct(
                i.alias("p"),
                F.array_join(F.slice(w, i + 1, n), " ").alias("g"))),
    ).otherwise(F.array())
    occ = (_bound_words(df, "doc_id")
           .select(F.col("doc_id"), F.explode(positioned).alias("s"))
           .select("doc_id", F.col("s.p").alias("word_pos"),
                   F.md5(F.col("s.g")).alias("gram_md5")))
    dfreq = occ.groupBy("gram_md5").agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"))
    dfreq = dfreq.filter(F.col("n_docs") >= min_df)
    if max_df is not None:
        dfreq = dfreq.filter(F.col("n_docs") <= max_df)
    return occ.join(dfreq, on="gram_md5").select(
        "doc_id", "word_pos", "gram_md5", "n_docs")


def cut_repeated_spans(df: DataFrame, spans: DataFrame,
                       n: int = 20) -> DataFrame:
    """Remove repeated spans from the WORD STREAM, keeping one canonical
    copy corpus-wide — the curation action on ``repeated_spans``' report:
    for each flagged gram the canonical occurrence is the (lowest id,
    lowest position) one; every other occurrence's n-word window is cut,
    and overlapping cut windows merge naturally (a word survives only if
    NO cut window covers it). Returns (id, text) with
    whitespace-normalized rebuilt text (single spaces — the operator is
    defined on the tokenized stream, like the spans themselves). Span
    positions are matched CASE-INSENSITIVELY (the mining side lowercases)
    but the rebuilt text preserves the original case: lowercasing never
    changes whitespace, so the lowered and original word streams are
    position-aligned — cutting by position on one indexes the other
    exactly (review-found: an earlier version rebuilt from the lowered
    stream, silently case-folding every document it touched).

    Canonical windows are PROTECTED: a word inside some gram's canonical
    window survives even when a different gram's cut window overlaps it —
    without the protection, gram A's only kept copy could be destroyed by
    gram B's cut landing on the same words (review-found scenario,
    regression-tested), silently erasing a span from the whole corpus.

    Shape: a per-gram min-struct aggregate (tiny — one row per flagged
    gram), a canonical/non-canonical split joined back per doc (two
    bounded collect_sets), then one JVM filter over the word array. No
    Python, no windows over the corpus.
    ``df`` carries ``doc_id`` and ``text``; ``spans`` is
    :func:`repeated_spans` output."""
    canon = spans.groupBy("gram_md5").agg(
        F.min(F.struct(F.col("doc_id"), F.col("word_pos"))).alias("c"))
    tagged = spans.join(canon, on="gram_md5").withColumn(
        "_is_canon",
        (F.col("doc_id") == F.col("c.doc_id"))
        & (F.col("word_pos") == F.col("c.word_pos")))
    cuts = tagged.groupBy("doc_id").agg(
        F.collect_set(F.when(~F.col("_is_canon"), F.col("word_pos")))
        .alias("_cut_starts"),
        F.collect_set(F.when(F.col("_is_canon"), F.col("word_pos")))
        .alias("_keep_starts"),
    ).filter(F.size("_cut_starts") > 0)
    # original-case word stream — positions align with the mined (lowered)
    # stream because lower() never changes whitespace
    w = F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != "")
    kept = F.zip_with(
        w, F.sequence(F.lit(0), F.greatest(F.size(w) - 1, F.lit(0))),
        lambda word, i: F.when(
            ~F.exists("_cut_starts",
                      lambda s: (i >= s) & (i < s + n))
            | F.exists("_keep_starts",
                       lambda s: (i >= s) & (i < s + n)), word))
    return (df.join(cuts, on="doc_id", how="left")
            .select(
                F.col("doc_id"),
                F.when(F.col("_cut_starts").isNull(),
                       F.array_join(w, " "))
                .otherwise(F.array_join(F.filter(kept, F.isnotnull), " "))
                .alias("text")))


def exact_new_only(new: DataFrame, seen: DataFrame) -> DataFrame:
    """Incremental exact dedup: rows of ``new`` whose text hash is absent
    from the ``seen`` corpus (anti-join on md5 — one shuffle on the hash,
    or a broadcast when the new batch's hash set is small). Both frames
    carry ``text``."""
    seen_h = seen.select(F.md5(F.col("text")).alias("_seen_h")).distinct()
    return (
        new.withColumn("_h", F.md5(F.col("text")))
        .join(seen_h, F.col("_h") == F.col("_seen_h"), "left_anti")
        .drop("_h")
    )


def _nibble_votes(df: DataFrame, n_bits: int) -> DataFrame:
    """Per-doc ±1 vote sums for md5-nibble SimHash bits, as ``n_bits``
    COLUMNS ``v0..v{n_bits-1}`` — one row per doc.

    The retired shape exploded every (doc, word) row into ``n_bits`` bit
    rows and ran TWO keyed aggregations ((id, b) then id): at sf1.0 that
    is a 64× row blow-up (74M rows through two shuffles for 1.16M
    distinct-word rows). Column-wise vote sums are partially aggregable
    map-side, so ONE exchange moves one ``n_bits``-int row per doc per
    map task (guide §2.3 "aggregate before you shuffle"; measured
    dedup_simhash64 7.2 → ~1 s at sf1.0). Nibble values are bound to
    column attributes first — the instr() fold would otherwise re-run
    per bit reference (the bind-once rule)."""
    n_nibbles = n_bits // 4
    words = (
        df.select("doc_id", F.explode(F.array_distinct(
            words_col(F.col("text")))).alias("word"))
        .select("doc_id", F.md5("word").alias("h"))
    )
    nibs = words.select("doc_id", *[
        (F.instr(F.lit("0123456789abcdef"),
                 F.substring(F.col("h"), i + 1, 1)) - 1).alias(f"n{i}")
        for i in range(n_nibbles)
    ])
    vote = [
        F.when(F.shiftright(F.col(f"n{b // 4}"), b % 4)
               .bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        for b in range(n_bits)
    ]
    return nibs.groupBy("doc_id").agg(*[
        F.sum(vote[b]).alias(f"v{b}") for b in range(n_bits)
    ])


SIMHASH_BITS = 64
SIMHASH_BAND_BITS = 16
SIMHASH_BANDS = SIMHASH_BITS // SIMHASH_BAND_BITS


def _simhash_bands(df: DataFrame, n_bands: int) -> DataFrame:
    """(doc_id, s0..s{n_bands-1}): the 16-bit band values of the SimHash
    over distinct tokens, low bits first, from the votes of the first
    ``n_bands * 16`` bits only."""
    votes = _nibble_votes(df, n_bands * SIMHASH_BAND_BITS)
    bands = []
    for i in range(n_bands):
        val = None
        for j in range(SIMHASH_BAND_BITS):
            b = i * SIMHASH_BAND_BITS + j
            term = F.when(F.col(f"v{b}") > 0,
                          F.lit(1 << j).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
            val = term if val is None else val + term
        bands.append(val.cast("bigint").alias(f"s{i}"))
    return votes.select(F.col("doc_id"), *bands)


def simhash16(df: DataFrame) -> DataFrame:
    """16-bit SimHash over distinct tokens (md5-nibble bit votes): the
    first band ``s0`` of :func:`simhash64`, whose bits 0–15 come from the
    same four md5 nibbles. Only those 16 votes are built: selecting ``s0``
    from the full 64-bit sketch gives the same optimized plan, but the
    48 extra votes it analyses and prunes made the 2,500-document
    benchmark leaf about twice as slow (4 cores).
    ``df`` carries ``doc_id`` and ``text``."""
    return _simhash_bands(df, 1).select(
        "doc_id", F.col("s0").alias("simhash16"))


def simhash64(df: DataFrame) -> DataFrame:
    """64-bit SimHash over distinct tokens, emitted as 4 × 16-bit band
    values ``s0..s3`` (low bits first).

    Why bands instead of one bigint: (a) bit 63 of a combined value
    overflows signed int64; (b) the near-pair join needs the 16-bit band
    keys anyway, and banding with 65,536 buckets per band is what makes the
    self-join scale (the retired 16-bit/4-bit scheme had ≤16 buckets/band —
    an all-pairs join in 16 shards at corpus size). Bits come from the first
    16 nibbles of each token's md5, ±1 votes per distinct token
    (column-wise vote sums — see ``_nibble_votes``).
    ``df`` carries ``doc_id`` and ``text``."""
    return _simhash_bands(df, SIMHASH_BANDS)


def simhash64_near_pairs(df: DataFrame, max_hamming: int = 3,
                         length_band: bool = False) -> DataFrame:
    """Near-duplicate candidates from the 64-bit sketch: join docs sharing
    any 16-bit band value, then filter on full Hamming distance.

    LSH guarantee: with 4 bands, any pair at Hamming ≤ 3 shares at least
    one intact band (pigeonhole), so recall is exact for the default
    radius. Band keys have 2^16 buckets so bucket occupancy — and the
    self-join's fan-out — stays bounded as the corpus grows.

    ``length_band=True`` composites each band key with a log₂ length
    bucket: at corpus scale a 16-bit band can still collect a hot bucket
    of trivially-sketched docs (near-empty texts), and docs whose lengths
    differ >2× are not near-dups of interest anyway — the composite key
    shards such buckets for free. Off by default (pure-sketch recall).

    The sketch is computed ONCE and localCheckpointed at the session's
    shuffle-partition count before the band fan-out (r7, measured at
    sf1.0): (a) the self-join's two sides are the same sketch — without
    the checkpoint each side re-runs the whole sketch pipeline (no
    ReusedExchange across a broadcast side); (b) the per-doc sketch is a
    few MB per million docs, so AQE coalesces its exchange to a handful
    of partitions and the candidate probe downstream (247M candidate
    pairs at sf1.0) runs on those few cores — the multi-consumer-
    intermediate + repartition-after-aggregation rules from CLAUDE.md,
    both in one. This makes the operator EAGER at call time (like
    duplicate_clusters). 6.9 → ~4.5 s at sf1.0.
    ``df`` carries ``doc_id`` and ``text``."""
    n_parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    sh = (simhash64(df)
          .repartition(n_parts, F.col("doc_id"))
          .localCheckpoint())
    s_cols = [f"s{i}" for i in range(SIMHASH_BANDS)]
    carry = list(s_cols)
    if length_band:
        lb = F.floor(F.log2(F.greatest(F.length(F.col("text")), F.lit(1)))) \
              .cast("int").alias("len_bucket")
        sh = sh.join(df.select(F.col("doc_id"), lb), on="doc_id")
        carry.append("len_bucket")
    # single explode — same rationale as minhash_lsh_pairs: the sketch
    # aggregate is provably computed once per doc per join side
    def _key(i: int):
        return (F.concat_ws(":", F.col(f"s{i}"), F.col("len_bucket"))
                if length_band else F.col(f"s{i}"))

    band_structs = [
        F.struct(F.lit(i).alias("band"), _key(i).alias("key"))
        for i in range(SIMHASH_BANDS)
    ]
    bands = sh.select(
        F.col("doc_id"), *carry, F.explode(F.array(*band_structs)).alias("bd")
    ).select("doc_id", *carry, "bd.band", "bd.key")
    a, b_ = bands.alias("a"), bands.alias("b")
    hamming = None
    for c in s_cols:
        term = F.bit_count(F.col(f"a.{c}").bitwiseXOR(F.col(f"b.{c}")))
        hamming = term if hamming is None else hamming + term
    pairs = (
        a.join(b_, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.key") == F.col("b.key"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                hamming.alias("hamming"))
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= max_hamming)


def embedding_near_pairs(vectors: DataFrame, planes: DataFrame,
                         threshold: float = 0.9) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: vectors sharing a sign-LSH
    bucket (one bit per hyperplane in ``planes``) are candidates; the
    exact sequential-fold cosine runs ONLY on candidates and pairs at or
    above ``threshold`` survive. Returns (id_a, id_b), id_a < id_b.

    Scale shape: with p planes the self-join is sharded into 2^p buckets
    (bounded occupancy — the same story as the simhash bands), and the
    O(dim) cosine never touches non-colliding pairs. One plane set is one
    LSH band: for higher recall run several independent plane sets and
    union + distinct the outputs. Output carries no float column (the
    oracle twin compares ids only; the threshold compare itself is
    bit-identical across engines because both fold sequentially).

    Per-pair cost (guide §1.2 "per-task work", r7): the vector NORMS are
    precomputed once per vector BELOW the self-join (a projection cannot
    be inlined across a join boundary), so each candidate pair pays ONE
    sequential dot-product fold instead of three —
    dot(a,b)/(norm_a·norm_b) is the same double operations in the same
    order as dot(a,b)/(√dot(a,a)·√dot(b,b)), just with the two
    sqrt-folds evaluated n times instead of n²/buckets times
    (bit-identical; measured embedding_near_dup 10.3 → ~3.5 s at
    sf1.0's 900k candidate pairs).
    ``vectors`` carries ``vec_id`` and ``embedding``."""
    from ragstudio_spark.operators.similarity import dot, hyperplane_buckets

    buckets = hyperplane_buckets(vectors, planes)
    vec = F.col("embedding")
    normed = vectors.select(F.col("vec_id"), vec,
                            F.sqrt(dot(vec, vec)).alias("_nrm"))
    keyed = buckets.join(normed, on="vec_id")
    a, b = keyed.alias("a"), keyed.alias("b")
    cos = (dot(F.col("a.embedding"), F.col("b.embedding"))
           / (F.col("a._nrm") * F.col("b._nrm")))
    return (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.vec_id") < F.col("b.vec_id")))
        .filter(cos >= threshold)
        .select(F.col("a.vec_id").alias("id_a"),
                F.col("b.vec_id").alias("id_b"))
    )


def winnow_fingerprints(df: DataFrame, k: int = 12, w: int = 8) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    algorithm): hash every character k-gram, slide a window of ``w``
    consecutive hashes, keep each window's minimum — guaranteeing any
    match of length ≥ k+w−1 shares a fingerprint, with ~2/(w+1) density.

    Complements shingle-MinHash: winnowing finds LOCAL overlaps (a copied
    paragraph inside an otherwise different document), where whole-document
    signatures dilute. Hashes are md5-prefix strings — winnowing only needs
    a total order, so lexicographic minima avoid any hex→int conversion and
    stay engine-portable. Texts shorter than k+w−1 chars yield no
    fingerprints.

    Shape: explode gram positions FIRST, hash each k-gram exactly once,
    then a per-doc running window min (rowsBetween 0..w−1). The obvious
    nested-lambda form (transform over windows slicing a grams array)
    makes Catalyst inline and re-evaluate the whole gram array per window
    position — O(n²) md5 calls per document, measured at minutes per
    10 KB row (the module-docstring trap, again). This form is O(n) hashes
    + one per-doc sort. ``df`` carries ``doc_id`` and ``text``."""
    n_grams = (F.length(F.col("text")) - k + 1).cast("int")
    grams = (
        df.filter(n_grams >= w)
        .select(F.col("doc_id"), F.col("text"), n_grams.alias("_n"),
                F.explode(F.sequence(F.lit(0), n_grams - 1)).alias("_i"))
        .select(
            "doc_id", "_n", "_i",
            F.substring(F.md5(F.substring(F.col("text"), F.col("_i") + 1, k)),
                        1, 8).alias("_h"),
        )
    )
    win = Window.partitionBy("doc_id").orderBy("_i").rowsBetween(0, w - 1)
    return (
        grams.withColumn("_wm", F.min("_h").over(win))
        .filter(F.col("_i") <= F.col("_n") - w)
        .select(F.col("doc_id"), F.col("_wm").alias("fingerprint"))
        .distinct()
    )


def _drop_hot_keys(df: DataFrame, key: str,
                   max_df: int | None) -> DataFrame:
    """Rows of ``df`` whose ``key`` value occurs in at most ``max_df`` rows
    (``df`` itself when ``max_df`` is None): the hot-key cap that bounds a
    self-join's fan-out. The hot set is tiny (boilerplate keys only), so
    AQE broadcasts it."""
    if max_df is None:
        return df
    hot = df.groupBy(key).count().filter(F.col("count") > max_df)
    return df.join(hot.select(key), key, "left_anti")


def winnow_overlap_pairs(df: DataFrame, k: int = 12, w: int = 8,
                         min_shared: int = 2,
                         max_fingerprint_df: int | None = None) -> DataFrame:
    """Document pairs ranked by shared winnowed fingerprints (local-overlap
    candidates). ``max_fingerprint_df`` caps join fan-out exactly like
    ``jaccard_pairs.max_shingle_df`` — boilerplate fingerprints in many
    docs otherwise explode the self-join at corpus scale.
    ``df`` carries ``doc_id`` and ``text``."""
    fps = _drop_hot_keys(winnow_fingerprints(df, k, w), "fingerprint",
                         max_fingerprint_df)
    a, b = fps.alias("a"), fps.alias("b")
    return (
        a.join(b, (F.col("a.fingerprint") == F.col("b.fingerprint"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"),
                 F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("shared_fingerprints"))
        .filter(F.col("shared_fingerprints") >= min_shared)
    )


def duplicate_clusters(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Resolve candidate near-dup pairs into clusters: (doc_id, cluster_id)
    where cluster_id = the minimum doc id reachable through the pair graph
    (connected components).

    A dedup pipeline needs clusters, not pair lists — "keep one copy per
    duplicate group" is only well-defined on components. Algorithm:
    min-label propagation (each node takes the min label among itself and
    its neighbors) plus a pointer-jumping step (each node then takes its
    label's label), giving O(log diameter) rounds — a 10⁶-node chain
    resolves in ~20 rounds, not 10⁶. Each round is two key-joins + one
    groupBy; ``localCheckpoint`` cuts the lineage so plans don't grow with
    iterations.

    Exhausting ``max_iter`` without convergence raises (a silently
    non-converged labeling would under-dedup without any signal); the
    default cap covers diameters up to ~2^20.

    Input must carry ``doc_a`` / ``doc_b`` (as produced by
    ``minhash_lsh_pairs`` / ``simhash64_near_pairs`` / ``jaccard_pairs``).
    Only nodes appearing in ≥1 pair are returned (singletons are their own
    trivial cluster by definition)."""
    # undirected edge list, one direction table with both orientations
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    # warm start: label₀ = min(id, min neighbor) — exactly the first
    # propagate step from identity labels, computed as ONE aggregate over
    # the (already materialized) edge table instead of a full loop round
    # (join + union-groupBy + jump + checkpoint + convergence job). Every
    # label value is a node id of the same component, the invariant the
    # jump lookup needs; one fewer round at any scale (r7).
    labels = (
        edges.groupBy(F.col("src").alias("id"))
        .agg(F.min("dst").alias("_mn"))
        .select("id", F.least(F.col("id"), F.col("_mn")).alias("label"))
    )
    for _ in range(max_iter):
        nbr = (
            edges.join(labels, edges.src == labels.id)
            .select(F.col("dst").alias("id"), "label",
                    F.lit(None).cast(labels.schema["label"].dataType)
                    .alias("_old"))
        )
        # every id holds one row of ``labels`` (edges are symmetric), so
        # max(_old) carries the id's previous label through the round
        propagated = (
            labels.withColumn("_old", F.col("label")).unionByName(nbr)
            .groupBy("id").agg(F.min("label").alias("label"),
                               F.max("_old").alias("_old"))
        )
        # pointer jumping: label ← label(label). Every label is itself a
        # node id in the same component, so the lookup always hits.
        lut = propagated.select(F.col("id").alias("_lid"),
                                F.col("label").alias("_lroot"))
        # the round's own checkpoint job counts the changed labels: no
        # second action and no join against the previous labels
        changes = Observation()
        labels = (
            propagated.join(lut, propagated.label == lut._lid)
            .select("id", F.col("_lroot").alias("label"), "_old")
            .observe(changes, F.count(F.when(F.col("label") != F.col("_old"),
                                             1)).alias("changed"))
            .select("id", "label")
            .localCheckpoint()
        )
        if changes.get["changed"] == 0:
            return labels.select(F.col("id").alias("doc_id"),
                                 F.col("label").alias("cluster_id"))
    raise RuntimeError(
        f"duplicate_clusters did not converge within max_iter={max_iter} "
        "rounds — raise max_iter (each round roughly doubles the resolvable "
        "component diameter)")


def semantic_dedup(vectors: DataFrame, planes: DataFrame,
                   threshold: float = 0.9) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, public
    technique): embedding-cosine near-dup pairs (sign-LSH candidates +
    exact cosine gate, ``embedding_near_pairs``) resolved into connected
    components, keeping the minimum-id member per cluster — returns the
    SURVIVING rows of ``vectors``. Pure composition of three
    already-gated operators (pairs → clusters → canonical anti-join), so
    every scale property is inherited: bucketed candidate generation,
    log-round label propagation, one anti-join against the (small) drop
    set. ``vectors`` carries ``vec_id`` and ``embedding``."""
    pairs = embedding_near_pairs(
        vectors, planes, threshold=threshold
    ).select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
    return keep_canonical(vectors, pairs, id_col="vec_id")


def keep_canonical(df: DataFrame, pairs: DataFrame,
                   id_col: str = "doc_id") -> DataFrame:
    """Corpus minus duplicates: for every near-dup cluster keep only the
    minimum-id document (the cluster_id itself), untouched rows pass
    through. One broadcast-able anti-join against the drop set."""
    clusters = duplicate_clusters(pairs)
    drops = clusters.filter(F.col("doc_id") != F.col("cluster_id")) \
                    .select(F.col("doc_id").alias(id_col))
    return df.join(drops, on=id_col, how="left_anti")


def _shingle_pair_counts(df: DataFrame, k: int,
                         max_shingle_df: int | None) -> DataFrame:
    """(doc_a, doc_b, inter, na, nb) for every doc pair sharing ≥1 distinct
    k-shingle — the shared candidate core of ``jaccard_pairs`` and
    ``containment_pairs``.

    Shape (guide §2.3/§2.4, r7): AGGREGATE-FIRST pair generation instead
    of the exploded-shingle self-join. One groupBy collects the sorted doc
    list per shingle (one exchange of the 2.6M-row gram table instead of
    two + a sort-merge join), pairs are generated map-side in codegen from
    each list, and the dominant exchange — Σ df(df−1)/2 candidate rows,
    114M at sf1.0 — carries ONLY (doc_a, doc_b) [16 bytes] instead of the
    join shape's (doc_a, doc_b, na, nb, partial-min state) [~40 bytes].
    Exact set sizes re-attach afterwards via two joins against the
    doc-count-sized ``sizes`` table (|docs| rows versus a 114M-row
    shuffle: Spark's planner broadcasts it while it fits the broadcast
    threshold and shuffle-joins it past that; ``max_shingle_df`` bounds
    everything else here).
    Per-shingle doc lists are bounded by ``max_shingle_df`` when set — the
    same cap that bounds the retired join's O(Σ df²) fan-out.

    Semantics are unchanged: inter counts shared DISTINCT shingles; na/nb
    are full distinct-set sizes computed BEFORE the hot-shingle cap."""
    distinct_sh = _drop_hot_keys(
        _bound_words(df, "doc_id")
        .select(F.col("doc_id"),
                F.array_distinct(shingles_col(F.col("_w"), k)).alias("sh"))
        .select("doc_id", F.explode("sh").alias("shingle")),
        "shingle", max_shingle_df)
    ids = (distinct_sh.groupBy("shingle")
           .agg(F.sort_array(F.collect_list(F.col("doc_id"))).alias("ids"))
           .filter(F.size("ids") >= 2))
    pair_arr = F.flatten(F.transform(
        F.col("ids"),
        lambda x, i: F.transform(
            F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
            lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")))))
    # the pair-count aggregate holds one hash entry per DISTINCT pair —
    # at sf1.0 that is 114M keys, and at the session's shuffle-partition
    # count (cores) the per-task maps blow past cache into spill
    # (measured 1.2 µs/row in the final aggregate). Fan the pair stream
    # out to 4× shuffle partitions (REPARTITION_BY_NUM — AQE-exempt,
    # conf-scaled, not a local[32] constant; measured flat 4×–32× and
    # ~1.9× worse at 1×): the hash partitioning satisfies the groupBy's
    # distribution so no second exchange is added, and per-task maps
    # stay memory-resident (19 → 10 s for the pair aggregation at
    # sf1.0).
    n_pair_parts = 4 * int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    inter = (ids.select(F.explode(pair_arr).alias("p"))
             .select(F.col("p.doc_a").alias("doc_a"),
                     F.col("p.doc_b").alias("doc_b"))
             .repartition(n_pair_parts, "doc_a", "doc_b")
             .groupBy("doc_a", "doc_b")
             .agg(F.count(F.lit(1)).alias("inter")))
    sizes = (
        _bound_words(df, "doc_id")
        .select(F.col("doc_id"),
                F.size(F.array_distinct(shingles_col(F.col("_w"), k)))
                .alias("n_sh")))
    return (inter
            .join(sizes.select(F.col("doc_id").alias("doc_a"),
                               F.col("n_sh").alias("na")), on="doc_a")
            .join(sizes.select(F.col("doc_id").alias("doc_b"),
                               F.col("n_sh").alias("nb")), on="doc_b"))


def jaccard_pairs(df: DataFrame, k: int = 3, min_jaccard: float = 0.0,
                  max_shingle_df: int | None = None) -> DataFrame:
    """Exact shingle-set Jaccard for pairs sharing ≥1 shingle.

    ``max_shingle_df`` caps the per-shingle candidate fan-out: shingles
    appearing in more than that many documents are excluded from candidate
    generation (their pairs are found through rarer shared shingles, or
    dropped). Without the cap candidate generation is O(Σ df²) — one
    stop-shingle in 10⁶ docs yields 10¹² pair rows — so corpus-wide runs
    MUST set it; the default (None, exact) is the oracle/ground-truth
    mode. Set sizes ``na``/``nb`` stay exact either way — only candidate
    generation and the intersection count are approximated by the cap.
    ``df`` carries ``doc_id`` and ``text``."""
    inter = _shingle_pair_counts(df, k, max_shingle_df)
    out = inter.withColumn(
        "jaccard", F.col("inter").cast("double") / (F.col("na") + F.col("nb") - F.col("inter"))
    ).select("doc_a", "doc_b", "jaccard")
    return out.filter(F.col("jaccard") >= min_jaccard) if min_jaccard > 0 else out


def containment_pairs(df: DataFrame, k: int = 3, min_containment_ppm: int = 0,
                      max_shingle_df: int | None = None) -> DataFrame:
    """Directed n-gram containment — the doc-IN-doc detector.

    Jaccard resemblance misses asymmetric duplication: a paragraph quoted
    inside a 100× longer document has tiny Jaccard but containment ≈ 1 on
    the smaller side. Broder's original resemblance/containment pair
    (SEQUENCES '97, public) defines containment(A→B) = |S(A)∩S(B)| / |S(A)|
    over shingle SETS; a curation pipeline uses it to drop quoted/extracted
    sub-documents that survive the resemblance passes.

    Output per candidate pair (doc_a < doc_b, sharing ≥1 shingle):
    exact integers ``inter``/``na``/``nb`` plus
    ``contain_a_in_b_ppm`` = floor(1e6·inter/na) and
    ``contain_b_in_a_ppm`` = floor(1e6·inter/nb); rows where the LARGER
    direction clears ``min_containment_ppm`` survive.

    Scale shape is jaccard_pairs' exactly (the shared
    ``_shingle_pair_counts`` aggregate-first core): candidate generation
    is O(Σ df²) without ``max_shingle_df`` — corpus runs MUST cap it
    (pairs for capped stop-shingles surface through rarer shared
    shingles); set sizes stay exact either way.
    ``df`` carries ``doc_id`` and ``text``.
    """
    inter = _shingle_pair_counts(df, k, max_shingle_df)
    out = inter.select(
        "doc_a", "doc_b", "inter", "na", "nb",
        F.floor(F.lit(1_000_000) * F.col("inter") / F.col("na"))
        .cast("bigint").alias("contain_a_in_b_ppm"),
        F.floor(F.lit(1_000_000) * F.col("inter") / F.col("nb"))
        .cast("bigint").alias("contain_b_in_a_ppm"))
    if min_containment_ppm > 0:
        out = out.filter(
            F.greatest("contain_a_in_b_ppm", "contain_b_in_a_ppm")
            >= min_containment_ppm)
    return out


def line_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
               sep: str = "\n", min_words: int = 5) -> DataFrame:
    """C4/CCNet-style duplicated-line removal across the whole corpus.

    Every line (text split on ``sep``) that already occurred earlier in the
    corpus — "earlier" meaning a smaller ``(id, line_idx)`` pair under
    lexicographic order — is dropped; the first occurrence survives. Lines
    with fewer than ``min_words`` whitespace words are exempt (always
    kept): short fragments ("Introduction", a lone page number, the empty
    line) are structural, not boilerplate, and corpus-wide uniqueness is
    meaningless for them. This is the line-granularity complement of
    ``repeated_spans``/``cut_repeated_spans`` (word-window spans inside a
    line) — public technique per C4 (Raffel et al. 2020, "three-sentence
    span" dedup) and CCNet/Dolma paragraph dedup.

    Scale shape (the reason this is NOT a window over line-hash): first
    occurrences come from ``groupBy(hash).agg(min(struct(id, idx)))`` — a
    partially-aggregatable min that combines map-side, so a boilerplate
    line appearing in 10⁸ documents costs one struct per map task, not a
    10⁸-row window partition on one reducer. The join back is keyed on the
    same hash (co-partitioned under AQE), and the per-document rebuild
    groups on the id — three keyed shuffles total, no skew amplification.

    Returns one row per input row: ``(id, n_lines, n_kept, n_dropped,
    kept_text)`` where ``kept_text`` is the surviving lines re-joined with
    ``sep`` in original order.
    """
    lines = (
        df.select(F.col(id_col), F.posexplode(F.split(F.col(text_col), sep))
                  .alias("line_idx", "line"))
        .withColumn("eligible", F.size(words_col(F.col("line"))) >= min_words)
        .withColumn("h", F.md5(F.col("line")))
    )
    firsts = (
        lines.filter(F.col("eligible"))
        .groupBy("h")
        .agg(F.min(F.struct(F.col(id_col).alias("fid"),
                            F.col("line_idx").alias("fidx"))).alias("first"))
    )
    kept = (
        lines.join(firsts, on="h", how="left")
        .withColumn("keep", (~F.col("eligible"))
                    | ((F.col("first.fid") == F.col(id_col))
                       & (F.col("first.fidx") == F.col("line_idx"))))
    )
    return (
        kept.groupBy(id_col)
        .agg(F.count("*").alias("n_lines"),
             F.sum(F.col("keep").cast("long")).alias("n_kept"),
             F.sum((~F.col("keep")).cast("long")).alias("n_dropped"),
             F.array_join(
                 F.transform(
                     F.array_sort(F.collect_list(
                         F.when(F.col("keep"),
                                F.struct("line_idx", "line")))),
                     lambda s: s["line"]),
                 sep).alias("kept_text"))
    )


# --- bloom-prefiltered decontamination ---------------------------------------

def _hex_positions(h: str, m_bits: int, k: int) -> list[str]:
    """k bloom bit positions from a bound md5-hex column ``h``: position
    i = int(hex[8i : 8i+8], 16) % m_bits, with the hex→int conversion
    spelled as an 8-digit instr()/multiply fold so the SAME string works
    in Spark SQL and DuckDB (neither needs conv()/from_hex). Every term
    casts to BIGINT before the 16^j multiply — the int32 product would
    silently wrap with ANSI off. The outer double-modulo clamps the
    result into [0, m_bits) even when ``h`` carries non-lowercase-hex
    garbage (every instr miss contributes -1; a plain % would keep the
    dividend's negative sign in BOTH engines and index the bit array
    out of range — review-found); lowercase-md5 inputs are unaffected."""
    if not 1 <= k <= 4:
        raise ValueError("k must be in 1..4 (md5 supplies 4x32 bits)")
    out = []
    for i in range(k):
        terms = " + ".join(
            f"(CAST(instr('0123456789abcdef', "
            f"substr({h}, {8 * i + j + 1}, 1)) AS BIGINT) - 1) "
            f"* {16 ** (7 - j)}"
            for j in range(8))
        m = int(m_bits)
        out.append(f"(((({terms}) % {m}) + {m}) % {m})")
    return out


def bloom_build(grams: DataFrame, m_bits: int = 1 << 16,
                k: int = 3) -> list[int]:
    """Driver-side bloom bit array (as ``m_bits // 64`` Python ints) from
    a ``gram`` table — the BENCHMARK side of decontamination, tiny by
    contract (eval suites), so the distinct-position collect is bounded
    by min(k·|grams|, m_bits) rows. The array ships to executors as a
    literal in the filter expression: membership tests are then pure
    map-side column math — no join, no shuffle, no broadcast variable
    plumbing."""
    if m_bits % 64 != 0 or m_bits <= 0:
        raise ValueError("m_bits must be a positive multiple of 64")
    hashed = (grams.select(
        F.md5(F.col("gram").cast("string")).alias("_h"))
        .filter(F.col("_h").isNotNull()))  # NULL grams hash to NULL —
    # an unguarded collect would crash on r.pos = None (review-found)
    pos_exprs = _hex_positions("_h", m_bits, k)
    stacked = hashed.select(
        F.explode(F.array(*[F.expr(p).cast("bigint")
                            for p in pos_exprs])).alias("pos"))
    words = [0] * (m_bits // 64)
    for r in stacked.distinct().collect():
        words[r.pos // 64] |= 1 << (r.pos % 64)
    # two's-complement into signed 64-bit (Spark bigint literals)
    return [w - (1 << 64) if w >= (1 << 63) else w for w in words]


def bind_bloom_positions(df: DataFrame, hash_col: str, m_bits: int,
                         k: int) -> tuple[DataFrame, list[str]]:
    """Bind the k position computations to column attributes
    ``_bp0.._bp{k-1}``. The hash is lowercased first (bound once) so
    caller-supplied uppercase-hex columns land on the same positions as
    the build side.

    The Spark side computes each position as ``pmod(conv(hex8, 16, 10),
    m)`` — ONE native call — instead of the 8-term instr fold the SQL
    twins carry for engine portability: on hex input (every real caller
    hashes with md5) the two are digit-for-digit the same Σ digit·16^j,
    and conv's result is always in [0, 2^32) so pmod keeps the position
    in range for any input (the clamp property the fold's double-modulo
    provided). Why it matters (r7, measured): predicate pushdown
    substitutes these alias expressions into the membership FILTER —
    each position twice (word index + bit shift) — so the per-reference
    cost is paid 6× per gram; with the fold that doubled the whole
    map-side screen (6.0 → 2.0 s on the sf1.0 corpus gram stream)."""
    pos_cols = [f"_bp{i}" for i in range(k)]
    if not 1 <= k <= 4:
        raise ValueError("k must be in 1..4 (md5 supplies 4x32 bits)")
    low = F.lower(F.col(hash_col))
    out = df.select(
        "*", *[F.pmod(F.conv(F.substring(low, 8 * i + 1, 8), 16, 10)
                      .cast("bigint"), F.lit(int(m_bits)))
               .alias(c)
               for i, c in enumerate(pos_cols)])
    return out, pos_cols


def bloom_member_col(pos_cols: list[str], words: list[int]) -> Column:
    """Boolean column: all bloom bits at the BOUND position columns set.
    False ⇒ definitely not in the build set (no false negatives); True
    may be a false positive at the standard (1 - e^(-kn/m))^k rate —
    callers exact-verify the survivors."""
    arr = F.array(*[F.lit(w).cast("bigint") for w in words])
    out = None
    for c in pos_cols:
        word = F.element_at(arr, (F.col(c) / 64).cast("int") + 1)
        bit = F.expr(f"shiftleft(CAST(1 AS BIGINT), "
                     f"CAST({c} % 64 AS INT))")
        check = word.bitwiseAND(bit) != 0
        out = check if out is None else out & check
    return out


def bloom_decontaminate(corpus: DataFrame, benchmark: DataFrame, n: int = 13,
                        m_bits: int = 1 << 16, k: int = 3) -> DataFrame:
    """Bloom-prefiltered eval-decontamination screening — the 100-TB
    shape of ``ngram_decontaminate``: the benchmark's grams are folded
    into an ``m_bits`` bloom filter ON THE DRIVER (the eval side is tiny
    by contract) and shipped as an expression literal, so the corpus
    gram stream is screened MAP-SIDE — zero shuffle, zero join for the
    overwhelmingly-common miss path. Only bloom survivors (true hits +
    the filter's false positives) enter the exact join.

    Returns per flagged doc: (corpus_id, n_candidate_grams [bloom
    survivors], n_exact_shared [verified against the benchmark gram
    set]) — a row with n_exact_shared = 0 is entirely false positives,
    making the filter's precision directly observable. No false
    negatives by construction: every gram of ``ngram_decontaminate``'s
    flagged docs survives the prefilter.
    ``corpus`` and ``benchmark`` carry ``doc_id`` and ``text``."""
    bg = (distinct_ngrams(benchmark, n, out_id="benchmark_id")
          .select("gram").distinct()
          .localCheckpoint())  # 2 consumers (build collect + exact
    # join) — without it the benchmark shingle lineage runs twice
    words = bloom_build(bg, m_bits, k)
    cg = (distinct_ngrams(corpus, n, out_id="corpus_id")
          .withColumn("_h", F.md5(F.col("gram").cast("string"))))
    cg, pos_cols = bind_bloom_positions(cg, "_h", m_bits, k)
    cand = cg.filter(bloom_member_col(pos_cols, words))
    exact = bg.withColumn("_hit", F.lit(1))
    return (cand.join(exact, on="gram", how="left")
            .groupBy("corpus_id")
            .agg(F.count("*").cast("bigint").alias("n_candidate_grams"),
                 F.sum(F.coalesce("_hit", F.lit(0))).cast("bigint")
                 .alias("n_exact_shared")))


def stitch_pairs(df: DataFrame, k: int = 5,
                 max_boundary_df: int | None = None) -> DataFrame:
    """Boundary-stitch candidates: A's last k words == B's first k words.

    Web-scale corpora carry documents split mid-stream by upstream
    processing (pagination, shard boundaries, crawler truncation); the
    reassembly candidate generator is a join on BOUNDARY keys only — one
    k-word key per document side, never the body. Output
    (doc_a, doc_b, boundary): doc_a's tail continues into doc_b's head.

    ``max_boundary_df`` drops boundary keys shared by more than that many
    heads or tails (boilerplate openings like navigation headers would
    otherwise fan out quadratically — same escape hatch as the shingle
    caps). Self-pairs are excluded; A→B and B→A are distinct directed
    rows (a true circular split yields both).

    Scale: two projections + one equi-join on a fixed-width key; shuffle
    volume is one row per document per side regardless of document size.
    ``df`` carries ``doc_id`` and ``text``.
    """
    bound = _bound_words(df, "doc_id")
    n = F.size("_w")
    head = F.concat_ws(" ", F.slice("_w", 1, k))
    # F.slice with negative start takes the LAST k elements
    tail = F.concat_ws(" ", F.slice("_w", -k, k))
    keyed = (bound.filter(n >= 2 * k)  # head and tail must not overlap
             .select("doc_id", head.alias("head_key"), tail.alias("tail_key")))
    heads = _drop_hot_keys(
        keyed.select(F.col("doc_id").alias("doc_b"),
                     F.col("head_key").alias("boundary")),
        "boundary", max_boundary_df)
    tails = _drop_hot_keys(
        keyed.select(F.col("doc_id").alias("doc_a"),
                     F.col("tail_key").alias("boundary")),
        "boundary", max_boundary_df)
    return (tails.join(heads, "boundary")
            .filter(F.col("doc_a") != F.col("doc_b"))
            .select("doc_a", "doc_b", "boundary"))


def edit_distance_pairs(df: DataFrame, max_distance: int = 20,
                        prefix_len: int = 12, length_band: int = 20,
                        max_prefix_df: int | None = None) -> DataFrame:
    """Character-level near-duplicates: Levenshtein ≤ ``max_distance``
    over prefix-bucketed candidates — the OCR-noise/typo variant the
    token-shingle family under-detects (one character flip per word
    destroys every 3-shingle but costs edit distance 1 each).

    Candidates share their first ``prefix_len`` lowered chars AND sit
    within ``length_band`` characters of each other: both are NECESSARY
    conditions at distance d ≤ min(prefix errors, length delta) only for
    the length part — the prefix rule is a recall heuristic (a doc pair
    differing inside the prefix is missed; the shingle family covers
    those), which is what makes the join bounded. ``max_prefix_df`` caps
    boilerplate prefixes exactly like the shingle caps.

    Distance units (review-found, measured): Spark's levenshtein counts
    CODEPOINTS ('é'→'e' = 1) while DuckDB's counts BYTES ('é'→'e' = 2).
    Codepoints are the correct text semantics and are what this operator
    computes; the DuckDB twin therefore gates the contract on the ASCII
    subset, where the two DPs agree exactly — non-ASCII pairs are scored
    (correctly) by Spark but are NOT oracle-comparable.

    Scale: one fixed-width-key equi-join; the DP runs only on surviving
    candidates, and it is the THRESHOLD form ``levenshtein(a, b, d)``
    (Spark 3.5+): a banded O(len·d) DP with early abandon that returns -1
    beyond ``max_distance`` — identical distances for every surviving
    pair, ~(len/2d)× fewer DP cells than the full O(len²) matrix
    (measured 29.8 → ~2 s at sf1.0 where candidates average ~300 chars
    at d=20). Output (doc_a, doc_b, distance), doc_a < doc_b.
    ``df`` carries ``doc_id`` and ``text``.
    """
    keyed = _drop_hot_keys(df.select(
        F.col("doc_id"),
        F.col("text").alias("_t"),
        F.substring(F.lower(F.col("text")), 1, prefix_len).alias("_pfx"),
        F.length("text").alias("_len")), "_pfx", max_prefix_df)
    a, b = keyed.alias("a"), keyed.alias("b")
    cand = a.join(
        b,
        (F.col("a._pfx") == F.col("b._pfx"))
        & (F.abs(F.col("a._len") - F.col("b._len")) <= length_band)
        & (F.col("a.doc_id") < F.col("b.doc_id")))
    return (cand
            .withColumn("distance",
                        F.levenshtein(F.col("a._t"), F.col("b._t"),
                                      max_distance)
                        .cast("bigint"))
            .filter((F.col("distance") >= 0)
                    & (F.col("distance") <= max_distance))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"), "distance"))
