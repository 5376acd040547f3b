"""Dedup/curation-tier scale-up stress: the same operators at 1× and 10×.

The sandbox tops out at sf0.1 (5,000 docs); this synthesizes a 10× corpus
by unioning 10 mutated copies (each copy appends a distinct token, so
copies are near- but not exact-dups — every base doc becomes a 10-member
near-dup cluster, the realistic shape of a crawl corpus). Measures wall
time at both sizes and reports the growth factor: a scale-safe candidate
generator grows ~linearly in docs + true pairs; anything super-linear
flags a join whose fan-out is not under control.

Round-5 additions (the round-4 join surfaces, stressed the same way):

* ``repeated_spans_n20``  — the window self-join under max_df on the
  duplicate-heavy corpus (every 20-word run recurs in all 10 copies);
* ``ngram13_decontam``    — the gram join against a FIXED benchmark
  (the benchmark never scales; growth must track the corpus side only);
* ``sft_multiturn_ctx8``  — the bounded-frame claim: the 10× corpus is
  shaped into conversations 10× LONGER (same conv keys), so a
  whole-transcript re-ship would grow ~100×, the bounded ROWS frame ~10×.

Round-5 follow-ups:

* ``lm_familiarity``      — the bigram join against a FIXED reference
  table (like the decontamination shape, but duplicates kept: mass not
  vocabulary);
* ``semantic_dedup``      — vectors copied VERBATIM 10× (every base
  vector becomes a 10-member cosine-identical cluster: ~45 true pairs
  each), so candidate generation, label propagation, and the canonical
  anti-join all carry ~1,000× true-pair volume.

Usage: python scripts/dedup_stress.py [op ...]  (default: all ops)
Output: markdown table (for BASELINE.md) + one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _cache_put_lookup(spark, d):
    """Round-6 surface: bulk-put the whole corpus into a fresh cache
    store, then bulk-lookup a FIXED 1,000-key query set. At 10× the
    event log carries 10× keys; the lookup's resolve aggregate must
    grow ~linearly while the join output stays fixed (the hit-path
    cost a retrieval deployment pays per batch)."""
    import tempfile

    from pyspark.sql import functions as F

    from ragstudio_spark.pipeline import cache as pqcache

    path = os.path.join(tempfile.mkdtemp(prefix="stress_cache_"), "store")
    pqcache.put_df(d, path, "chunk",
                   pqcache.bulk_key_col("chunk", "doc_id"),
                   F.md5("text"), ttl=3600, now=100)
    queries = spark.range(1000).select(F.col("id").alias("doc_id"))
    return (pqcache.lookup_df(
        queries, path, "chunk",
        pqcache.bulk_key_col("chunk", "doc_id"), now=200)
        .filter(F.col("cached_value").isNotNull()).count())


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from pyspark.sql import Window, functions as F

    from ragstudio_spark.operators import dedupe, lm_filter, rag_chain, sft
    from ragstudio_spark.session import get_spark

    spark = get_spark("dedup-stress", master="local[32]", shuffle_partitions=64)
    spark.sparkContext.setLogLevel("ERROR")
    base = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    # fixed benchmark side for decontamination — at a real deployment the
    # benchmark suite does not grow with the crawl
    bench = base.filter("doc_id % 50 = 3").localCheckpoint()
    # fixed reference bigram table for familiarity (trained-model side data)
    ref_bigrams = lm_filter.bigram_counts(
        base.filter("doc_id % 5 = 0")).localCheckpoint()
    base_vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding")
    planes = base_vecs.filter("vec_id BETWEEN 8 AND 15").select(
        (F.col("vec_id") - 8).alias("plane"), "embedding").localCheckpoint()

    def vectors_of(d):
        """Copy the embedding table once per corpus copy (verbatim —
        cosine-identical 10-member clusters at 10×), sized to match the
        doc corpus's copy count."""
        copies = max(1, d.count() // 5000)
        parts = [base_vecs.select(
            (F.col("vec_id") + i * 1_000_000).alias("vec_id"), "embedding")
            for i in range(copies)]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.repartition(64)

    def transcripts_of(d):
        """Shape the corpus into conversations keyed by base doc id % 500:
        at 1× each conversation has ~10 turns, at 10× ~100 — conversation
        LENGTH scales with the corpus, which is exactly what the bounded
        context frame must shrug off."""
        keyed = d.withColumn("conv_id", (F.col("doc_id") % 500).cast("string"))
        w = Window.partitionBy("conv_id").orderBy("doc_id")
        return (keyed
                .withColumn("turn_idx", F.row_number().over(w).cast("int"))
                .withColumn("role",
                            F.when(F.col("turn_idx") % 2 == 1, "user")
                            .otherwise("assistant"))
                .select("conv_id", "turn_idx", "role", "text"))

    def corpus(copies: int):
        parts = [
            base.select(
                (F.col("doc_id") + i * 1_000_000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(f" copytoken{i}")).alias("text"))
            for i in range(copies)
        ]
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df.repartition(64).cache()

    def lines_of(d, k=12):
        """Shape the flat word stream into 12-word lines (the line_dedup
        entry's shaping): every non-final line recurs verbatim in all 10
        copies (only the final line carries the copy token), so at 10×
        each eligible line is a 10-member exact-dup group — the heaviest
        realistic load for the first-occurrence join."""
        bound = dedupe._bound_words(d, "doc_id")
        lines = F.when(
            F.size("_w") > 0,
            F.transform(
                F.sequence(F.lit(0),
                           F.floor((F.size("_w") + (k - 1)) / F.lit(k))
                            .cast("int") - 1),
                lambda i: F.concat_ws(
                    " ", F.slice(F.col("_w"), (i * k + 1).cast("int"), k))),
        ).otherwise(F.array().cast("array<string>"))
        return bound.select("doc_id", F.array_join(lines, "\n").alias("text"))

    from ragstudio_spark.operators import convlint, grounding, rag_extras, \
        retrieval, similarity, sketches, snapshot
    from ragstudio_spark.operators import curation as curation_ops
    from ragstudio_spark.operators import expectations as expectations_ops
    from ragstudio_spark.operators import index as index_ops
    from ragstudio_spark.operators import metrics as metrics_ops
    from ragstudio_spark.operators import sessions as sessions_ops
    from ragstudio_spark.operators import skew as skew_ops

    def halves_of(d, k=3):
        """Split every doc into two rows overlapping by k words — one
        TRUE stitch pair per doc, so true-pair volume scales with the
        corpus (the copy-token corpus alone has no boundary matches:
        every tail ends with its copy token)."""
        bound = dedupe._bound_words(d, "doc_id")
        m = (F.size("_w") / 2).cast("int")
        first = F.concat_ws(" ", F.slice("_w", 1, m + k))
        second = F.concat_ws(
            " ", F.slice("_w", m + 1, F.size("_w") - m))
        return (bound.filter(F.size("_w") >= 4 * k)
                .select(F.col("doc_id"), first.alias("a"), second.alias("b"))
                .selectExpr("stack(2, doc_id * 2, a, doc_id * 2 + 1, b) "
                            "AS (doc_id, text)"))

    def mmr_candidates(d):
        """One query per 25 vectors (query count scales with the corpus,
        per-query candidate list FIXED at 24) — the shape the per-query
        fold must stay linear in."""
        vecs = vectors_of(d)
        qs = (vecs.filter("vec_id % 25 = 0")
              .select((F.col("vec_id") / 25).cast("bigint")
                      .alias("query_id"),
                      F.col("embedding").alias("query_embedding")))
        return (vecs.filter("vec_id % 25 != 0")
                .select((F.col("vec_id") / 25).cast("bigint")
                        .alias("query_id"),
                        F.col("vec_id").alias("doc_id"), "embedding",
                        (F.col("vec_id") % 25).cast("int").alias("rank"))
                .join(qs, on="query_id"))

    def eval_tables(d):
        """Ranked results + judgments derived from the corpus: query
        count scales linearly, 10 ranks per query."""
        res = d.select((F.col("doc_id") / 10).cast("bigint")
                       .alias("query_id"),
                       F.col("doc_id"),
                       (F.col("doc_id") % 10 + 1).cast("int").alias("rank"))
        qrels = d.filter("doc_id % 3 = 0").select(
            (F.col("doc_id") / 10).cast("bigint").alias("query_id"),
            F.col("doc_id"))
        return res, qrels

    from ragstudio_spark.operators import sampling

    from ragstudio_spark.operators.asof import asof_join

    def asof_tables(d):
        """Clicks/views shaped from the corpus: event stream scales
        linearly, 50 users (bounded keys, the per-key window shape)."""
        l = d.select(F.col("doc_id").alias("lid"),
                     F.timestamp_seconds(F.col("doc_id") % 86400)
                     .alias("ts"),
                     (F.col("doc_id") % 50).alias("k"))
        r = d.filter("doc_id % 3 = 0").select(
            F.col("doc_id").alias("rid"),
            F.timestamp_seconds((F.col("doc_id") * 7) % 86400).alias("ts"),
            (F.col("doc_id") % 50).alias("k"),
            F.col("doc_id").alias("v"))
        return l, r

    ops = {
        "asof_join": lambda d: (lambda lr: asof_join(
            lr[0], lr[1], right_cols=("rid", "v"), by=("k",),
            right_tiebreak="rid").count())(asof_tables(d)),
        "budget_select": lambda d: sampling.select_to_budget(
            d.select((F.col("doc_id") % 50).cast("string").alias("source"),
                     "doc_id",
                     (F.col("doc_id") % 97).cast("bigint").alias("q"),
                     F.expr("length(text) div 4").cast("bigint")
                     .alias("tokens")),
            5000, "q", "tokens").count(),
        "bloom_decontam_13g": lambda d: dedupe.bloom_decontaminate(
            d, bench, n=13, m_bits=1 << 16, k=3).count(),
        "pmi_collocations": lambda d: lm_filter.pmi_collocations(
            d, min_count=5, top_n=50).count(),
        "hard_negatives_k5": lambda d: similarity.hard_negatives(
            *eval_tables(d), k=5, id_col="doc_id").count(),
        "mmr_rerank_k5": lambda d: rag_extras.mmr_rerank(
            mmr_candidates(d), k=5).count(),
        "cms_word_counts": lambda d: sketches.cms_query(
            sketches.cms_build(
                d.select(F.explode(F.expr(
                    "filter(split(lower(text), '\\\\s+'), "
                    "w -> w != '')")).alias("w")), "w"),
            d.limit(20).select(F.expr("split(text, ' ')[0]").alias("w")),
            "w").count(),
        "hll_distinct_words": lambda d: sketches.hll_estimate(
            d.select((F.col("doc_id") % 50).alias("g"),
                     F.explode(F.expr(
                         "filter(split(lower(text), '\\\\s+'), "
                         "w -> w != '')")).alias("w")),
            "w", ("g",)).count(),
        "snapshot_diff": lambda d: snapshot.snapshot_diff(
            d, d.select("doc_id", F.expr(
                "IF(doc_id % 7 = 0, concat(text, ' v2'), text)")
                .alias("text")),
            ("doc_id",), ("text",)).count(),
        "ranked_eval_k10": lambda d: retrieval.ranked_eval(
            *eval_tables(d), k=10).count(),
        "exact_dup": lambda d: dedupe.exact_duplicates(d).count(),
        "line_dedup": lambda d: dedupe.line_dedup(lines_of(d)).count(),
        "conversation_stats": lambda d: convlint.conversation_stats(
            transcripts_of(d)).count(),
        "topic_segments": lambda d: convlint.topic_segments(
            transcripts_of(d)).count(),
        "minhash_8h2b": lambda d: dedupe.minhash_lsh_pairs(d).count(),
        "minhash_16h4b": lambda d: dedupe.minhash_lsh_pairs(
            d, n_hashes=16, n_bands=4).count(),
        "simhash64_pairs": lambda d: dedupe.simhash64_near_pairs(d).count(),
        "simhash64_lenband": lambda d: dedupe.simhash64_near_pairs(
            d, length_band=True).count(),
        "clusters_from_minhash": lambda d: dedupe.duplicate_clusters(
            dedupe.minhash_lsh_pairs(d, n_hashes=16, n_bands=4)).count(),
        "repeated_spans_n20": lambda d: dedupe.repeated_spans(
            d, n=20).count(),
        "ngram13_decontam": lambda d: dedupe.ngram_decontaminate(
            d, bench, n=13).count(),
        "sft_multiturn_ctx8": lambda d: sft.sft_multiturn(
            transcripts_of(d)).count(),
        "lm_familiarity": lambda d: lm_filter.lm_familiarity(
            d, ref_bigrams).count(),
        "semantic_dedup": lambda d: dedupe.semantic_dedup(
            vectors_of(d), planes, threshold=0.25).count(),
        "cache_put_lookup": lambda d: _cache_put_lookup(spark, d),
        "rag_context_k4": lambda d: rag_chain.assemble_context(
            d.withColumn("query_id", F.col("doc_id") % 2000)
             .withColumn("rank", F.row_number().over(
                 Window.partitionBy("query_id").orderBy("doc_id"))),
            k=4, token_budget=512).count(),
        # round-6 continuation surfaces: the phrase anchor-join (fixed
        # terms, corpus 10×), grounding's (conv, gram) joins over 10×-
        # longer conversations, containment + stitching under their df
        # caps (copies share shingles/heads — the caps are load-bearing),
        # SCD2's bounded per-key windows, and the two global-window
        # sampling ops (the documented total-order boundary).
        "phrase_search": lambda d: index_ops.phrase_search(
            d, ["slow", "hash", "batch"]).count(),
        "turn_grounding": lambda d: grounding.turn_grounding(
            transcripts_of(d)).count(),
        "containment_df20": lambda d: dedupe.containment_pairs(
            d, max_shingle_df=20).count(),
        "stitch_k3_df20": lambda d: dedupe.stitch_pairs(
            halves_of(d), k=3, max_boundary_df=20).count(),
        "scd2_history": lambda d: snapshot.scd2_history(
            d.select((F.col("doc_id") % 50).alias("user_id"),
                     F.timestamp_seconds(F.col("doc_id") % 86400).alias("ts"),
                     F.col("doc_id").alias("event_id"),
                     (F.col("doc_id") % 7).alias("state")),
            ["user_id"], "state", tiebreak_col="event_id").count(),
        "curriculum_order": lambda d: sampling.curriculum_order(
            d.select("doc_id", F.length("text").alias("diff")),
            "diff", n_buckets=10).count(),
        "weighted_sus_n5000": lambda d: sampling.systematic_weighted_sample(
            d.select("doc_id",
                     (F.length("text") + 1).cast("bigint").alias("w")),
            5000, "w").count(),
        "exact_quantiles": lambda d: metrics_ops.exact_quantiles(
            d.select((F.col("doc_id") % 10).alias("lang"),
                     F.length("text").alias("n_chars")),
            "n_chars").count(),
        "terms_search": lambda d: index_ops.terms_search(
            d, ["slow", "hash", "batch"]).count(),
        "funnel_3step": lambda d: sessions_ops.funnel(
            d.select((F.col("doc_id") % 50).alias("user_id"),
                     F.timestamp_seconds(F.col("doc_id") % 86400).alias("ts"),
                     F.element_at(
                         F.array(F.lit("view"), F.lit("click"),
                                 F.lit("purchase"), F.lit("error")),
                         (F.col("doc_id") % 4 + 1).cast("int"))
                     .alias("event_type")),
            ["view", "click", "purchase"]).count(),
        "curate_pretrain": lambda d: curation_ops.curate_pretrain_stream(
            d.withColumn("lang", (F.col("doc_id") % 10).cast("string"))
             .withColumn("source", (F.col("doc_id") % 50).cast("string")),
            per_source_cap=10_000_000).count(),
        "skew_report": lambda d: skew_ops.skew_report(
            d.select(F.expr("pmod(doc_id * doc_id, 101)").alias("conv_id"))
        ).count(),
        "edit_distance_pfx12": lambda d: dedupe.edit_distance_pairs(
            d, max_prefix_df=40).count(),
        "distribution_drift": lambda d: snapshot.distribution_drift(
            d.filter("doc_id % 2 = 0").select(
                (F.col("doc_id") % 10).alias("lang")),
            d.select((F.col("doc_id") % 10).alias("lang")),
            "lang").count(),
        "join_cardinality": lambda d: snapshot.join_cardinality(
            d.select((F.col("doc_id") % 200).alias("k")),
            d.filter("doc_id % 3 = 0").select(
                (F.col("doc_id") % 200).alias("k")),
            "k").count(),
        "expectations_5rules": lambda d: expectations_ops.expectations_report(
            d.select("doc_id", F.length("text").alias("L"),
                     (F.col("doc_id") % 7).cast("string").alias("cat")),
            [{"type": "not_null", "col": "cat"},
             {"type": "unique", "cols": ["doc_id"]},
             {"type": "accepted_values", "col": "cat",
              "values": [str(i) for i in range(7)]},
             {"type": "range", "col": "L", "lo": 0, "hi": 10_000},
             {"type": "regex", "col": "cat", "pattern": "^[0-9]+$"}]
        ).count(),
        "rolling_active_7d": lambda d: sessions_ops.rolling_active(
            d.select((F.col("doc_id") % 300).alias("user_id"),
                     F.timestamp_seconds(
                         (F.col("doc_id") % 30) * 86400 + 60).alias("ts")),
            window_days=7).count(),
    }
    only = set(sys.argv[1:])
    if only:
        unknown = only - set(ops)
        if unknown:
            sys.exit(f"unknown ops: {sorted(unknown)}; have {sorted(ops)}")
        ops = {k: v for k, v in ops.items() if k in only}

    results: dict[str, dict] = {name: {} for name in ops}
    sizes = {}
    for copies, tag in ((1, "1x"), (10, "10x")):
        df = corpus(copies)
        sizes[tag] = df.count()  # materialize cache
        for name, fn in ops.items():
            t0 = time.time()
            rows = fn(df)
            results[name][tag] = {"wall_s": round(time.time() - t0, 2),
                                  "rows": rows}
            print(f"  {tag} {name}: {results[name][tag]}", flush=True)
        df.unpersist()

    print(f"\ncorpus: 1x={sizes['1x']} docs, 10x={sizes['10x']} docs\n")
    print("| operator | 1× wall (s) | 10× wall (s) | growth | 10× output rows |")
    print("|---|---|---|---|---|")
    for name, r in results.items():
        growth = round(r["10x"]["wall_s"] / max(r["1x"]["wall_s"], 1e-9), 1)
        print(f"| {name} | {r['1x']['wall_s']} | {r['10x']['wall_s']} "
              f"| {growth}× | {r['10x']['rows']} |")
    print()
    print(json.dumps({"sizes": sizes, "results": results}))
    spark.stop()


if __name__ == "__main__":
    main()
