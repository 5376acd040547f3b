"""Dedup + similarity operator semantics on constructed near-duplicates."""

import pytest

from pyspark.sql import functions as F

from ragstudio_spark.operators import dedupe, similarity

BASE = ("the quick brown fox jumps over the lazy dog while the cat watches "
        "from the warm windowsill in the afternoon sun light")


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),                                    # exact dup of 0
        (2, BASE.replace("afternoon", "morning")),     # near dup of 0
        (3, "completely different content about spark query engines and "
            "distributed shuffle partitioning strategies at scale"),
        (4, "tiny"),
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


class TestDedupe:
    def test_exact_duplicates(self, spark, docs):
        groups = dedupe.exact_duplicates(docs).collect()
        assert len(groups) == 1
        assert groups[0]["dup_count"] == 2
        assert groups[0]["doc_ids"] == [0, 1]

    def test_jaccard_ranks_near_dups(self, spark, docs):
        pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"]
                 for r in dedupe.jaccard_pairs(docs).collect()}
        assert pairs[(0, 1)] == 1.0
        assert 0.5 < pairs[(0, 2)] < 1.0
        assert (0, 3) not in pairs  # no shared shingles

    def test_jaccard_shingle_df_cap_bounds_candidates(self, spark):
        """VERDICT r1 #3: a stop-shingle shared by every doc must not
        explode the candidate join when max_shingle_df is set."""
        import hashlib

        stop = "the common header line"
        rows = [(i, stop + " " + " ".join(
            hashlib.md5(f"{i}:{j}".encode()).hexdigest()[:8]
            for j in range(10))) for i in range(30)]
        docs = spark.createDataFrame(rows, "doc_id int, text string")

        uncapped = dedupe.jaccard_pairs(docs).count()
        assert uncapped == 30 * 29 // 2  # every pair collides on the stop-shingles

        capped = dedupe.jaccard_pairs(docs, max_shingle_df=5).count()
        assert capped == 0               # unique tails share nothing rarer

        # cap high enough to be inert → exact result unchanged
        inert = dedupe.jaccard_pairs(docs, max_shingle_df=1000)
        exact = dedupe.jaccard_pairs(docs)
        assert sorted(map(tuple, inert.collect())) == sorted(map(tuple, exact.collect()))

    def test_minhash_catches_exact_and_near(self, spark, docs):
        pairs = {(r["doc_a"], r["doc_b"])
                 for r in dedupe.minhash_lsh_pairs(docs).collect()}
        assert (0, 1) in pairs
        assert (0, 3) not in pairs

    def test_minhash_parameterized(self, spark, docs):
        """n_hashes/n_bands are dials; exact dups survive any setting."""
        for n_hashes, n_bands in ((8, 4), (16, 4), (4, 2)):
            pairs = {(r["doc_a"], r["doc_b"])
                     for r in dedupe.minhash_lsh_pairs(
                         docs, n_hashes=n_hashes, n_bands=n_bands).collect()}
            assert (0, 1) in pairs, (n_hashes, n_bands)
        with pytest.raises(ValueError):
            dedupe.minhash_lsh_pairs(docs, n_hashes=8, n_bands=3)

    def test_simhash64_sketch_and_near_pairs(self, spark, docs):
        sk = {r["doc_id"]: (r["s0"], r["s1"], r["s2"], r["s3"])
              for r in dedupe.simhash64(docs).collect()}
        assert sk[0] == sk[1]                      # identical text → identical sketch
        assert all(0 <= v < 2 ** 16 for v in sk[0])  # band values are 16-bit
        near = {(r["doc_a"], r["doc_b"]): r["hamming"]
                for r in dedupe.simhash64_near_pairs(docs, max_hamming=3).collect()}
        assert near[(0, 1)] == 0

    def test_simhash64_band_cardinality_grows(self, spark):
        """VERDICT r1 #2: band-key cardinality must grow with corpus size —
        the retired 4-bit banding capped at 16 buckets/band, which turned
        the near-pair self-join into all-pairs at scale."""
        import hashlib

        def corpus(n):
            rows = [(i, " ".join(
                hashlib.md5(f"{i}:{j}".encode()).hexdigest()[:8]
                for j in range(30))) for i in range(n)]
            return spark.createDataFrame(rows, "doc_id int, text string")

        def distinct_keys(n):
            sk = dedupe.simhash64(corpus(n))
            return sk.select(F.countDistinct("s0")).collect()[0][0]

        small, big = distinct_keys(50), distinct_keys(200)
        assert small > 16            # impossible under the 4-bit scheme
        assert big > small           # cardinality scales with N

    def test_simhash64_length_band_composite(self, spark, docs):
        """Composite (band, len-bucket) keys must keep same-length near
        dups and never add pairs beyond the pure-sketch candidate set."""
        pure = {(r["doc_a"], r["doc_b"])
                for r in dedupe.simhash64_near_pairs(docs, max_hamming=3).collect()}
        comp = {(r["doc_a"], r["doc_b"])
                for r in dedupe.simhash64_near_pairs(
                    docs, max_hamming=3, length_band=True).collect()}
        assert (0, 1) in comp          # identical docs share every bucket
        assert comp <= pure            # composite only ever prunes

    def test_simhash_distance_ordering(self, spark, docs):
        sh = {r["doc_id"]: r["simhash16"] for r in dedupe.simhash16(docs).collect()}
        assert sh[0] == sh[1]  # identical text → identical sketch
        ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
        assert ham(sh[0], sh[2]) <= ham(sh[0], sh[3])
        near = {(r["doc_a"], r["doc_b"]): r["hamming"]
                for r in dedupe.simhash64_near_pairs(docs, max_hamming=3).collect()}
        assert near[(0, 1)] == 0


class TestWinnowing:
    def test_guarantee_common_substring_shares_fingerprint(self, spark):
        """Winnowing guarantee: any common substring of length >= k+w-1
        (12+8-1=19) must produce >= 1 shared fingerprint."""
        import hashlib

        copied = "this exact copied sentence appears verbatim in both docs"
        uniq = lambda s, n: " ".join(  # noqa: E731
            hashlib.md5(f"{s}:{i}".encode()).hexdigest() for i in range(n))
        docs = spark.createDataFrame(
            [(0, uniq("a", 8) + " " + copied + " " + uniq("b", 8)),
             (1, uniq("c", 8) + " " + copied + " " + uniq("d", 8)),
             (2, uniq("e", 16))],
            "doc_id int, text string")
        pairs = {(r["doc_a"], r["doc_b"]): r["shared_fingerprints"]
                 for r in dedupe.winnow_overlap_pairs(
                     docs, min_shared=1).collect()}
        assert (0, 1) in pairs and pairs[(0, 1)] >= 1
        assert (0, 2) not in pairs and (1, 2) not in pairs

    def test_short_text_yields_no_fingerprints(self, spark):
        docs = spark.createDataFrame(
            [(0, "tiny"), (1, "x" * 18)], "doc_id int, text string")
        assert dedupe.winnow_fingerprints(docs).count() == 0

    def test_df_cap_drops_boilerplate_fingerprints(self, spark):
        boiler = "shared boilerplate header line for every document here"
        docs = spark.createDataFrame(
            [(i, boiler) for i in range(20)], "doc_id int, text string")
        uncapped = dedupe.winnow_overlap_pairs(docs, min_shared=1).count()
        capped = dedupe.winnow_overlap_pairs(
            docs, min_shared=1, max_fingerprint_df=5).count()
        assert uncapped == 20 * 19 // 2
        assert capped == 0


class TestClusters:
    def test_transitive_components_and_canonical(self, spark):
        # chain 1-2-3 plus island 5-6: transitivity must link 1 to 3
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (5, 6)], "doc_a int, doc_b int")
        got = {r["doc_id"]: r["cluster_id"]
               for r in dedupe.duplicate_clusters(pairs).collect()}
        assert got == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}

        docs = spark.createDataFrame(
            [(i, f"text {i}") for i in (1, 2, 3, 4, 5, 6)],
            "doc_id int, text string")
        kept = {r["doc_id"] for r in dedupe.keep_canonical(docs, pairs).collect()}
        # one survivor per cluster (the min id) + untouched singleton 4
        assert kept == {1, 4, 5}

    def test_random_graphs_match_union_find(self, spark):
        """Property check: min-label propagation equals a reference
        union-find on randomized pair graphs (seeded, 5 shapes)."""
        import random

        def union_find(edges):
            parent = {}

            def find(x):
                parent.setdefault(x, x)
                while parent[x] != x:
                    parent[x] = parent[parent[x]]
                    x = parent[x]
                return x

            for a, b in edges:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
            return {n: find(n) for n in parent}

        for seed in range(5):
            rng = random.Random(seed)
            n = rng.randrange(5, 40)
            edges = sorted({
                tuple(sorted(rng.sample(range(n), 2)))
                for _ in range(rng.randrange(3, 25))
            })
            expected = union_find(edges)
            pairs = spark.createDataFrame(edges, "doc_a int, doc_b int")
            got = {r["doc_id"]: r["cluster_id"]
                   for r in dedupe.duplicate_clusters(pairs, max_iter=60).collect()}
            assert got == expected, f"seed={seed} edges={edges}"

    def test_long_chain_converges_logarithmically(self, spark):
        """Pointer jumping makes rounds O(log diameter): a 60-node chain
        must resolve well within 10 rounds (plain propagation needs 60)."""
        n = 60
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(n)], "doc_a int, doc_b int")
        got = dedupe.duplicate_clusters(pairs, max_iter=10).collect()
        assert {r["cluster_id"] for r in got} == {0}
        assert len(got) == n + 1

    def test_rounds_count_changes_without_a_count_action(self, spark,
                                                         monkeypatch):
        """Each round's checkpoint job counts the changed labels through an
        Observation, so no round runs a separate count() action."""
        from pyspark.sql.classic.dataframe import DataFrame

        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(20)], "doc_a int, doc_b int")
        calls = []
        count = DataFrame.count

        def counted(self):
            calls.append(1)
            return count(self)

        monkeypatch.setattr(DataFrame, "count", counted)
        got = dedupe.duplicate_clusters(pairs).collect()
        assert {r["cluster_id"] for r in got} == {0} and len(got) == 21
        assert calls == []

    def test_non_convergence_raises_loudly(self, spark):
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(30)], "doc_a int, doc_b int")
        import pytest
        with pytest.raises(RuntimeError, match="did not converge"):
            dedupe.duplicate_clusters(pairs, max_iter=1)


class TestSimilarity:
    @pytest.fixture(scope="class")
    def vectors(self, spark):
        rows = [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.9, 0.1, 0.0]),   # closest to 0
            (2, [0.0, 1.0, 0.0]),
            (3, [0.0, 0.0, 1.0]),
            (4, [1.0, 0.0, 0.0]),   # identical direction to 0
        ]
        return spark.createDataFrame(rows, "vec_id int, embedding array<float>")

    def test_brute_force_ranks(self, spark, vectors):
        out = similarity.brute_force_topk(
            vectors, vectors.filter("vec_id = 0"), k=4
        ).collect()
        ranked = [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])]
        assert ranked[0] == 4          # cosine 1.0
        assert ranked[1] == 1          # 0.99…
        assert set(ranked[2:]) == {2, 3}

    def test_ivf_searches_only_own_cell(self, spark, vectors):
        centroids = vectors.filter("vec_id IN (0, 2)").select(
            F.col("vec_id").alias("cid"), "embedding"
        )
        out = similarity.ivf_topk(
            vectors, vectors.filter("vec_id = 0"), centroids, k=4
        ).collect()
        neighbors = {r["neighbor_id"] for r in out}
        # vec 2 is its own centroid's cell; vec 3 ties 0-0 between both
        # centroids and the deterministic cid-asc tie-break puts it in cell
        # 0 — so cell 0 holds {0, 1, 3, 4} and vec 2 is never searched
        assert neighbors == {1, 3, 4}

    def test_kmeans_separates_obvious_clusters(self, spark):
        rows = ([(i, [1.0 + i * 0.01, 0.0]) for i in range(8)]
                + [(10 + i, [0.0, 5.0 + i * 0.01]) for i in range(8)])
        vecs = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
        cents = similarity.kmeans_centroids(vecs, k=2, iters=3).collect()
        got = sorted([tuple(round(x, 2) for x in r["embedding"]) for r in cents])
        # one centroid near x-axis cluster mean, one near y-axis cluster mean
        assert got[0][1] > 4.5 and got[0][0] == 0.0
        assert got[1][0] > 0.9 and got[1][1] == 0.0

    def test_kmeans_exact_and_scale_modes_agree(self, spark):
        import math

        rows = [(i, [float((i * 7) % 13), float((i * 3) % 5), float(i % 4)])
                for i in range(60)]
        vecs = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
        a = {r["cid"]: r["embedding"]
             for r in similarity.kmeans_centroids(vecs, k=4, iters=2,
                                                  exact=True).collect()}
        b = {r["cid"]: r["embedding"]
             for r in similarity.kmeans_centroids(vecs, k=4, iters=2,
                                                  exact=False).collect()}
        assert a.keys() == b.keys()
        for cid in a:
            assert all(math.isclose(x, y, rel_tol=1e-9)
                       for x, y in zip(a[cid], b[cid]))

    def test_kmeans_deterministic_across_partitionings(self, spark):
        rows = [(i, [float((i * 7) % 13), float(i % 5)]) for i in range(40)]
        one = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
        eight = one.repartition(8)
        a = sorted(map(tuple, similarity.kmeans_centroids(
            one, k=3, iters=2, exact=True).collect()))
        b = sorted(map(tuple, similarity.kmeans_centroids(
            eight, k=3, iters=2, exact=True).collect()))
        assert a == b

    def test_pq_roundtrip_finds_true_neighbors(self, spark):
        """PQ codes must rank the query's own cluster first: clustered data
        in 8-dim, m=4 subspaces, codebooks trained on the corpus itself."""
        import random

        rng = random.Random(7)
        rows = []
        centers = [[5.0, 0, 0, 0, 0, 0, 0, 0], [0, 0, 0, 0, 0, 0, 0, 5.0]]
        for i in range(40):
            c = centers[i % 2]
            rows.append((i, [x + rng.uniform(-0.2, 0.2) for x in c]))
        vecs = spark.createDataFrame(rows, "vec_id int, embedding array<float>")

        books = similarity.pq_train(vecs, m=4, k=4, iters=2)
        assert books.count() == 4 * 4
        codes = similarity.pq_encode(vecs, books, m=4)
        assert codes.count() == 40
        got = {r["vec_id"]: list(r["codes"]) for r in codes.collect()}
        assert all(len(c) == 4 for c in got.values())

        # asymmetric-distance search from each cluster center must return
        # only members of that cluster (k-means may split a cluster across
        # several near-identical centroids — codes differ, distances don't)
        for c_idx, center in enumerate(centers):
            top = similarity.pq_topk(codes, books, center, k=5, m=4)
            ids = [r["neighbor_id"] for r in top.collect()]
            assert len(ids) == 5
            assert all(i % 2 == c_idx for i in ids), (c_idx, ids)

    def test_pq_dim_validation(self, spark):
        vecs = spark.createDataFrame([(0, [1.0, 2.0, 3.0])],
                                     "vec_id int, embedding array<float>")
        with pytest.raises(ValueError, match="not divisible"):
            similarity.pq_train(vecs, m=2)

    def test_pq_encode_rejects_mismatched_vector_dim(self, spark):
        """Regression (ADVICE r2): the dim guard must live on a consumed
        expression — a 3-dim vector against 4-dim codebooks must raise at
        encode time, never silently mis-encode."""
        from py4j.protocol import Py4JJavaError
        from pyspark.errors import SparkRuntimeException

        train = spark.createDataFrame(
            [(i, [float(i), float(i % 3), 1.0, 0.0]) for i in range(8)],
            "vec_id int, embedding array<float>")
        books = similarity.pq_train(train, m=2, k=2, iters=1)
        bad = spark.createDataFrame([(99, [1.0, 2.0, 3.0])],
                                    "vec_id int, embedding array<float>")
        with pytest.raises((SparkRuntimeException, Py4JJavaError),
                           match="pq_encode"):
            similarity.pq_encode(bad, books, m=2).collect()

    def test_ivfpq_composition_recall_vs_brute_force(self, spark):
        """IVF-PQ (ivfpq_index + ivfpq_topk) on a deterministic 4-cluster
        corpus: recall@5 against exact brute force must clear a floor,
        and every returned neighbor must come from a probed cell (the
        whole point — the scan never leaves the nprobe cells)."""
        import random

        rng = random.Random(13)
        centers = [[6.0, 0, 0, 0, 0, 0, 0, 0], [0, 6.0, 0, 0, 0, 0, 0, 0],
                   [0, 0, 0, 6.0, 0, 0, 0, 0], [0, 0, 0, 0, 0, 0, 6.0, 0]]
        rows = [(i, [x + rng.uniform(-0.3, 0.3) for x in centers[i % 4]])
                for i in range(64)]
        vecs = spark.createDataFrame(rows, "vec_id int, embedding array<float>")

        cents = similarity.kmeans_centroids(vecs, k=4, iters=3)
        books = similarity.pq_train(vecs, m=4, k=8, iters=2)
        index = similarity.ivfpq_index(vecs, cents, books, m=4)
        assert index.columns == ["vec_id", "cell", "codes"]

        queries = vecs.filter("vec_id < 8")
        approx = similarity.ivfpq_topk(index, cents, books, queries,
                                       k=5, nprobe=2, m=4)
        exact = similarity.brute_force_topk(vecs, queries, k=5)
        a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
        e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
        recall = len(a & e) / len(e)
        # PQ collapses in-cluster distances to identical codes, so the
        # id-asc tie-break legitimately diverges from exact cosine order
        # within a cluster — measured 0.7 on this corpus; the floor
        # guards against routing/scan regressions, the cluster-membership
        # assertion below is the exact semantic contract
        assert recall >= 0.6, recall
        assert all(q % 4 == n % 4 for q, n in a), a  # right cluster, always

        # neighbors only from probed cells
        cell_of = {r["vec_id"]: r["cell"] for r in index.collect()}
        probes = {}
        for r in similarity.ivfpq_topk(index, cents, books, queries,
                                       k=64, nprobe=1, m=4).collect():
            probes.setdefault(r["query_id"], set()).add(
                cell_of[r["neighbor_id"]])
        assert all(len(cells) == 1 for cells in probes.values())

    def test_residual_ivfpq_beats_raw_encoding(self, spark):
        """Faiss-style residual refinement: with clusters far from the
        origin, raw-vector codebooks waste bits re-encoding the coarse
        position while residual codebooks resolve intra-cell detail —
        recall@5 vs brute force must be strictly higher (measured 0.65
        vs 0.525 on this deterministic corpus)."""
        import random

        rng = random.Random(99)
        centers = [[20.0, 0, 0, 0, 0, 0, 0, 0], [0, 20.0, 0, 0, 0, 0, 0, 0],
                   [0, 0, 20.0, 0, 0, 0, 0, 0], [0, 0, 0, 20.0, 0, 0, 0, 0]]
        rows = [(i, [x + rng.uniform(-1.5, 1.5) for x in centers[i % 4]])
                for i in range(80)]
        vecs = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
        cents = similarity.kmeans_centroids(vecs, k=4, iters=3)
        queries = vecs.filter("vec_id < 8")
        exact = {(r["query_id"], r["neighbor_id"]) for r in
                 similarity.brute_force_topk(vecs, queries, k=5).collect()}

        books_raw = similarity.pq_train(vecs, m=4, k=4, iters=2)
        raw = {(r["query_id"], r["neighbor_id"]) for r in
               similarity.ivfpq_topk(
                   similarity.ivfpq_index(vecs, cents, books_raw, m=4),
                   cents, books_raw, queries, k=5, nprobe=1, m=4).collect()}

        books_res = similarity.ivfpq_train_residual(vecs, cents, m=4, k=4,
                                                    iters=2)
        res = {(r["query_id"], r["neighbor_id"]) for r in
               similarity.ivfpq_topk_residual(
                   similarity.ivfpq_index_residual(vecs, cents, books_res,
                                                   m=4),
                   cents, books_res, queries, k=5, nprobe=1, m=4).collect()}

        r_raw = len(raw & exact) / len(exact)
        r_res = len(res & exact) / len(exact)
        assert r_res > r_raw, (r_raw, r_res)
        assert r_res >= 0.6 and r_raw >= 0.4

    def test_kmeans_string_ids_get_distinct_int_cids(self, spark):
        """Regression (ADVICE r2): non-numeric ids must yield rank-based
        centroid ids, not NULLs from a failed cast."""
        rows = [(f"doc-{chr(97 + i)}", [float(i), float(i % 3)])
                for i in range(12)]
        vecs = spark.createDataFrame(rows, "vec_id string, embedding array<float>")
        cents = similarity.kmeans_centroids(vecs, k=3, iters=2).collect()
        cids = [r["cid"] for r in cents]
        assert None not in cids
        assert sorted(cids) == [0, 1, 2]

    def test_hyperplane_buckets_group_identical_vectors(self, spark, vectors):
        planes = vectors.filter("vec_id IN (1, 2, 3)").select(
            (F.col("vec_id") - 1).alias("plane"), "embedding"
        )
        buckets = {r["vec_id"]: r["bucket"]
                   for r in similarity.hyperplane_buckets(vectors, planes).collect()}
        assert buckets[0] == buckets[4]


class TestEmbeddingNearDup:
    def test_finds_planted_near_duplicates(self, spark):
        """Planted near-identical vectors collide in every sign bucket and
        pass the cosine threshold; orthogonal vectors never pair."""
        from ragstudio_spark.operators import dedupe

        rows = [
            (0, [1.0, 0.0, 0.0, 0.0]),
            (1, [0.999, 0.01, 0.0, 0.0]),   # near-dup of 0
            (2, [0.0, 1.0, 0.0, 0.0]),      # orthogonal
            (3, [0.0, 0.98, 0.02, 0.0]),    # near-dup of 2
            (4, [-1.0, 0.0, 0.0, 0.0]),     # opposite of 0
        ]
        vecs = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
        planes = spark.createDataFrame(
            [(0, [1.0, 0.2, 0.0, 0.0]), (1, [0.2, 1.0, 0.0, 0.0]),
             (2, [1.0, -1.0, 0.5, 0.0])],
            "plane int, embedding array<float>")
        got = {(r["id_a"], r["id_b"])
               for r in dedupe.embedding_near_pairs(
                   vecs, planes, threshold=0.95).collect()}
        assert (0, 1) in got
        assert (2, 3) in got
        assert all(p not in got for p in [(0, 2), (0, 4), (1, 4)])

    def test_threshold_filters_bucket_collisions(self, spark):
        """Vectors in the same bucket but below the threshold are dropped —
        the bucket is a candidate generator, not the decision."""
        from ragstudio_spark.operators import dedupe

        vecs = spark.createDataFrame(
            [(0, [1.0, 0.1]), (1, [1.0, 0.9])],  # same half-space, cos≈0.77
            "vec_id int, embedding array<float>")
        planes = spark.createDataFrame(
            [(0, [1.0, 0.0])], "plane int, embedding array<float>")
        loose = dedupe.embedding_near_pairs(vecs, planes, threshold=0.5).count()
        tight = dedupe.embedding_near_pairs(vecs, planes, threshold=0.99).count()
        assert loose == 1 and tight == 0

    def test_semantic_dedup_keeps_min_id_per_cluster(self, spark):
        """SemDeDup composition: {0,1} and {2,3} collapse to their min
        ids; the orthogonal/opposite vectors survive untouched."""
        from ragstudio_spark.operators import dedupe

        rows = [
            (0, [1.0, 0.0, 0.0, 0.0]),
            (1, [0.999, 0.01, 0.0, 0.0]),
            (2, [0.0, 1.0, 0.0, 0.0]),
            (3, [0.0, 0.98, 0.02, 0.0]),
            (4, [-1.0, 0.0, 0.0, 0.0]),
        ]
        vecs = spark.createDataFrame(rows,
                                     "vec_id int, embedding array<float>")
        planes = spark.createDataFrame(
            [(0, [1.0, 0.2, 0.0, 0.0]), (1, [0.2, 1.0, 0.0, 0.0]),
             (2, [1.0, -1.0, 0.5, 0.0])],
            "plane int, embedding array<float>")
        kept = {r["vec_id"] for r in dedupe.semantic_dedup(
            vecs, planes, threshold=0.95).collect()}
        assert kept == {0, 2, 4}

    def test_ann_recall_report_counts(self, spark):
        """Hit accounting: exact defines the query universe; a query the
        approximate side missed entirely reports zeros, partial overlap
        counts exactly."""
        from ragstudio_spark.operators import similarity

        exact = spark.createDataFrame(
            [(0, 10), (0, 11), (0, 12), (1, 20), (1, 21), (2, 30)],
            "query_id int, neighbor_id int")
        approx = spark.createDataFrame(
            [(0, 10), (0, 12), (0, 99), (1, 77)],
            "query_id int, neighbor_id int")
        got = {r["query_id"]: r for r in
               similarity.ann_recall_report(approx, exact).collect()}
        assert (got[0]["n_exact"], got[0]["n_approx"],
                got[0]["n_hits"]) == (3, 3, 2)
        assert (got[1]["n_exact"], got[1]["n_approx"],
                got[1]["n_hits"]) == (2, 1, 0)
        assert (got[2]["n_exact"], got[2]["n_approx"],
                got[2]["n_hits"]) == (1, 0, 0)


class TestRepeatedSpans:
    def test_locates_shared_span_with_positions(self, spark):
        boiler = " ".join(f"b{i}" for i in range(5))       # 5-word run
        docs = spark.createDataFrame(
            [(0, "lead in words " + boiler + " trailing content here"),
             (1, boiler + " then something entirely different follows"),
             (2, "no shared material in this document at all today")],
            "doc_id int, text string")
        got = dedupe.repeated_spans(docs, n=5, min_df=2).collect()
        by_doc = {}
        for r in got:
            by_doc.setdefault(r["doc_id"], []).append(
                (r["word_pos"], r["n_docs"]))
        # doc 0: boiler starts at word 3; doc 1: at word 0
        assert (3, 2) in by_doc[0]
        assert (0, 2) in by_doc[1]
        assert 2 not in by_doc

    def test_max_df_drops_ubiquitous_grams(self, spark):
        run = " ".join(f"w{i}" for i in range(4))
        docs = spark.createDataFrame(
            [(i, run + f" unique tail {i}") for i in range(6)],
            "doc_id int, text string")
        all_rows = dedupe.repeated_spans(docs, n=4, min_df=2,
                                         max_df=None).collect()
        capped = dedupe.repeated_spans(docs, n=4, min_df=2,
                                       max_df=3).collect()
        assert len(all_rows) > 0 and len(capped) < len(all_rows)

    def test_short_docs_contribute_nothing(self, spark):
        docs = spark.createDataFrame([(0, "too short"), (1, "too short")],
                                     "doc_id int, text string")
        assert dedupe.repeated_spans(docs, n=5).count() == 0


class TestCutRepeatedSpans:
    def test_keeps_one_canonical_copy(self, spark):
        boiler = " ".join(f"b{i}" for i in range(5))
        docs = spark.createDataFrame(
            [(0, "intro words here " + boiler + " outro words"),
             (1, boiler + " unique second doc content follows"),
             (2, "unrelated clean document text entirely")],
            "doc_id int, text string")
        spans = dedupe.repeated_spans(docs, n=5, min_df=2)
        cut = {r["doc_id"]: r["text"]
               for r in dedupe.cut_repeated_spans(docs, spans, n=5).collect()}
        # canonical = (doc 0, pos 3) → doc 0 keeps the boilerplate,
        # doc 1 loses its occurrence, doc 2 untouched (modulo ws-normal)
        assert boiler in cut[0]
        assert boiler not in cut[1]
        assert "unique second doc content follows" in cut[1]
        assert cut[2] == "unrelated clean document text entirely"

    def test_no_spans_is_identity_on_word_stream(self, spark):
        docs = spark.createDataFrame(
            [(0, "plain  text   with   extra spaces")],
            "doc_id int, text string")
        spans = dedupe.repeated_spans(docs, n=5, min_df=2)
        out = dedupe.cut_repeated_spans(docs, spans, n=5).first()
        assert out["text"] == "plain text with extra spaces"

    def test_preserves_original_case(self, spark):
        """Mining is case-insensitive (words_col lowercases) but the
        rebuilt text must keep the original case — both for untouched
        docs and for the surviving words of cut docs (review-found: an
        earlier version rebuilt from the lowered stream and case-folded
        every document it touched)."""
        boiler = " ".join(f"B{i}" for i in range(5))        # upper-case
        docs = spark.createDataFrame(
            [(0, "Intro Words HERE " + boiler + " Outro Words"),
             (1, boiler.lower() + " Unique SECOND Doc Content Follows"),
             (2, "Unrelated CLEAN Document Text Entirely")],
            "doc_id int, text string")
        spans = dedupe.repeated_spans(docs, n=5, min_df=2)
        cut = {r["doc_id"]: r["text"]
               for r in dedupe.cut_repeated_spans(docs, spans, n=5).collect()}
        # cross-case duplicates still match (mining lowers), original
        # case survives reconstruction on every path
        assert cut[0] == "Intro Words HERE " + boiler + " Outro Words"
        assert cut[1] == "Unique SECOND Doc Content Follows"
        assert cut[2] == "Unrelated CLEAN Document Text Entirely"

    def test_canonical_copy_survives_overlapping_cut(self, spark):
        """Review-found scenario: gram A's canonical copy sits inside
        gram B's cut window in the same doc — the canonical window must
        be protected or A's text would survive nowhere."""
        A = " ".join(f"a{i}" for i in range(4))
        B = " ".join(f"b{i}" for i in range(4))
        pre = " ".join(f"p{i}" for i in range(3))
        docs = spark.createDataFrame(
            # doc 0: B(canonical pos 0) ... B again at pos 7 followed by
            # A at pos 11 (inside nothing) — make B's second occurrence's
            # window [7, 11) ADJACENT-overlap A? Construct overlap:
            # doc 0: pre + B + A  (B canonical in doc 0? B also in doc 2
            # at pos 0 → canonical (0, 3)); A canonical (0, 7).
            [(0, pre + " " + B + " " + A),
             (1, "z0 z1 z2 z3 z4 " + A),     # A non-canonical → cut
             (2, B + " q0 q1 q2 q3 q4")],    # B non-canonical → cut
            "doc_id int, text string")
        spans = dedupe.repeated_spans(docs, n=4, min_df=2)
        cut = {r["doc_id"]: r["text"]
               for r in dedupe.cut_repeated_spans(docs, spans, n=4).collect()}
        # canonical copies (both in doc 0) survive; dup occurrences cut
        assert A in cut[0] and B in cut[0]
        assert A not in cut[1]
        assert B not in cut[2]

    def test_canonical_protection_beats_foreign_cut_window(self, spark):
        """Direct overlap: in doc 0, gram B occurs at pos 0 (canonical)
        and gram A's canonical occurrence starts at pos 2, while B's
        second doc-0 occurrence at pos 6 is cut — its window [6,10) and
        A's window [2,6) are disjoint here, so force the overlap case:
        B cut window [4,8) overlapping A canonical [2,6)."""
        # words: b0 b1 b2 b3 | a0 a1 a2 a3 with A starting at 2 means
        # shared words; build explicitly:
        #   doc 0: w: c0 c1 a0 a1 a2 a3 c2 c3  (A canonical at pos 2)
        #   doc 0 second gram B = "a2 a3 c2 c3" (pos 4) also in doc 2
        #   doc 2: B at pos 0 → canonical for B is (0, 4)! → doc 2 cut
        # flip: make B canonical in doc 0 impossible; instead give B an
        # earlier doc: doc -? ids are ints; use doc 0 = B-holder with
        # LOWER id so B canonical = (0,4); A in doc 0 at 2 canonical;
        # B's doc-2 copy cut; A's doc-1 copy cut; doc 0 intact.
        text0 = "c0 c1 a0 a1 a2 a3 c2 c3"
        docs = spark.createDataFrame(
            [(0, text0),
             (1, "z0 z1 z2 a0 a1 a2 a3"),        # A dup → cut
             (2, "a2 a3 c2 c3 q0 q1 q2")],       # B dup → cut
            "doc_id int, text string")
        spans = dedupe.repeated_spans(docs, n=4, min_df=2)
        cut = {r["doc_id"]: r["text"]
               for r in dedupe.cut_repeated_spans(docs, spans, n=4).collect()}
        assert cut[0] == text0                    # both canonicals intact
        assert "a0 a1 a2 a3" not in cut[1]
        assert "a2 a3 c2 c3" not in cut[2]


class TestBloomDecontaminate:
    def _py_positions(self, gram, m_bits, k):
        import hashlib

        h = hashlib.md5(gram.encode()).hexdigest()
        return [int(h[8 * i:8 * i + 8], 16) % m_bits for i in range(k)]

    def test_positions_match_hashlib_replica(self, spark):
        from ragstudio_spark.operators import dedupe

        grams = [f"some gram {i}" for i in range(40)]
        df = (spark.createDataFrame([(g,) for g in grams], "gram string")
              .withColumn("_h", F.md5(F.col("gram"))))
        bound, cols = dedupe.bind_bloom_positions(df, "_h", 4096, 3)
        got = {r.gram: [r[c] for c in cols] for r in bound.collect()}
        assert got == {g: self._py_positions(g, 4096, 3) for g in grams}

    def test_bloom_build_matches_replica_bits(self, spark):
        from ragstudio_spark.operators import dedupe

        grams = [f"g{i}" for i in range(100)]
        df = spark.createDataFrame([(g,) for g in grams], "gram string")
        words = dedupe.bloom_build(df, m_bits=1024, k=2)
        bits = set()
        for g in grams:
            bits.update(self._py_positions(g, 1024, 2))
        exp = [0] * 16
        for b in bits:
            exp[b // 64] |= 1 << (b % 64)
        exp = [w - (1 << 64) if w >= (1 << 63) else w for w in exp]
        assert words == exp

    def _corpora(self, spark, seed=7):
        import random

        rng = random.Random(seed)
        vocab = [f"w{i}" for i in range(60)]
        mk = lambda n: " ".join(rng.choice(vocab) for _ in range(n))
        bench = [(i, mk(12)) for i in range(5)]
        # half the corpus embeds a benchmark doc verbatim (contaminated)
        corpus = [(100 + i,
                   (mk(6) + " " + bench[i % 5][1] + " " + mk(6))
                   if i % 2 == 0 else mk(30))
                  for i in range(30)]
        return (spark.createDataFrame(corpus, "doc_id long, text string"),
                spark.createDataFrame(bench, "doc_id long, text string"))

    def test_no_false_negatives_vs_exact(self, spark):
        from ragstudio_spark.operators import dedupe

        corpus, bench = self._corpora(spark)
        for m in (256, 4096):
            got = {r.corpus_id: r.n_exact_shared
                   for r in dedupe.bloom_decontaminate(
                       corpus, bench, n=8, m_bits=m, k=3).collect()}
            exact = (dedupe.ngram_decontaminate(corpus, bench, n=8)
                     .groupBy("corpus_id")
                     .agg(F.sum("n_shared").alias("n")).collect())
            for r in exact:
                assert got.get(r.corpus_id, 0) >= 1, (m, r)

    def test_tiny_filter_shows_false_positives(self, spark):
        from ragstudio_spark.operators import dedupe

        corpus, bench = self._corpora(spark)
        out = dedupe.bloom_decontaminate(corpus, bench, n=8,
                                         m_bits=64, k=1).collect()
        # at 64 bits the filter saturates: clean docs get flagged, and
        # their rows carry n_exact_shared = 0 (observable imprecision)
        assert any(r.n_exact_shared == 0 for r in out)

    def test_build_validation(self, spark):
        import pytest

        from ragstudio_spark.operators import dedupe

        df = spark.createDataFrame([("g",)], "gram string")
        with pytest.raises(ValueError):
            dedupe.bloom_build(df, m_bits=100)
        with pytest.raises(ValueError):
            dedupe.bloom_build(df, m_bits=1024, k=5)


class TestBloomRobustness:
    def test_null_grams_ignored_in_build(self, spark):
        from ragstudio_spark.operators import dedupe

        with_null = spark.createDataFrame(
            [("a",), (None,), ("b",)], "gram string")
        without = spark.createDataFrame([("a",), ("b",)], "gram string")
        assert (dedupe.bloom_build(with_null, m_bits=512, k=2)
                == dedupe.bloom_build(without, m_bits=512, k=2))

    def test_uppercase_hash_lands_on_lowercase_positions(self, spark):
        from ragstudio_spark.operators import dedupe

        df = (spark.createDataFrame([("g1",), ("g2",)], "gram string")
              .withColumn("_h", F.upper(F.md5(F.col("gram")))))
        bound, cols = dedupe.bind_bloom_positions(df, "_h", 4096, 3)
        low = (spark.createDataFrame([("g1",), ("g2",)], "gram string")
               .withColumn("_h", F.md5(F.col("gram"))))
        lbound, lcols = dedupe.bind_bloom_positions(low, "_h", 4096, 3)
        got = {r.gram: [r[c] for c in cols] for r in bound.collect()}
        exp = {r.gram: [r[c] for c in lcols] for r in lbound.collect()}
        assert got == exp
        # and garbage hex clamps into range instead of going negative
        g = (spark.createDataFrame([("x",)], "gram string")
             .withColumn("_h", F.lit("zzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzz")))
        gb, gc = dedupe.bind_bloom_positions(g, "_h", 4096, 2)
        for r in gb.collect():
            for c in gc:
                assert 0 <= r[c] < 4096


class TestHardNegatives:
    def test_hand_computed_mining(self, spark):
        from ragstudio_spark.operators import similarity

        ranked = spark.createDataFrame(
            [(0, 10, 1), (0, 11, 2), (0, 12, 3), (0, 13, 4),
             (1, 20, 1), (1, 21, 2)],
            "query_id int, neighbor_id int, rank int")
        qrels = spark.createDataFrame(
            [(0, 10), (0, 12), (1, 21)], "query_id int, neighbor_id int")
        out = {(r.query_id, r.neg_rank): r.neighbor_id
               for r in similarity.hard_negatives(
                   ranked, qrels, k=2).collect()}
        # q0: relevant 10/12 removed -> negatives 11 (rank 2), 13 (rank 4)
        # q1: relevant 21 removed -> only 20 remains
        assert out == {(0, 1): 11, (0, 2): 13, (1, 1): 20}

    def test_no_judgments_keeps_top_k_as_negatives(self, spark):
        from ragstudio_spark.operators import similarity

        ranked = spark.createDataFrame(
            [(0, i, i) for i in range(1, 8)],
            "query_id int, neighbor_id int, rank int")
        qrels = spark.createDataFrame([], "query_id int, neighbor_id int")
        got = [r.neighbor_id for r in similarity.hard_negatives(
            ranked, qrels, k=3).orderBy("neg_rank").collect()]
        assert got == [1, 2, 3]

    def test_invalid_k_raises(self, spark):
        import pytest

        from ragstudio_spark.operators import similarity

        df = spark.createDataFrame(
            [(0, 1, 1)], "query_id int, neighbor_id int, rank int")
        with pytest.raises(ValueError):
            similarity.hard_negatives(df, df, k=0)


class TestContainment:
    """containment_pairs (dedupe.py): hand-computed doc-in-doc fixtures —
    the non-twin check for this operator."""

    def test_full_containment_asymmetric(self, spark):
        from ragstudio_spark.operators.dedupe import containment_pairs

        quote = "alpha beta gamma delta epsilon"
        rows = [(1, quote),
                (2, "intro words here " + quote + " closing remarks trail")]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        [r] = containment_pairs(df, k=3).collect()
        # doc1 shingles: 3 distinct, all inside doc2 (9 distinct shingles)
        assert (r.doc_a, r.doc_b, r.inter, r.na, r.nb) == (1, 2, 3, 3, 9)
        assert r.contain_a_in_b_ppm == 1_000_000
        assert r.contain_b_in_a_ppm == 333_333
        # Jaccard would be 3/9 = 0.33 — the asymmetry is the point

    def test_threshold_keeps_larger_direction(self, spark):
        from ragstudio_spark.operators.dedupe import containment_pairs

        rows = [(1, "a b c d e"), (2, "x y a b c d z w q")]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        # inter=2 ('a b c','b c d'), na=3, nb=7 -> max ppm=666_666
        got = containment_pairs(df, k=3, min_containment_ppm=600_000).count()
        assert got == 1
        got = containment_pairs(df, k=3, min_containment_ppm=700_000).count()
        assert got == 0

    def test_disjoint_docs_emit_nothing(self, spark):
        from ragstudio_spark.operators.dedupe import containment_pairs

        rows = [(1, "p q r s"), (2, "t u v w")]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        assert containment_pairs(df, k=3).count() == 0

    def test_df_cap_drops_stop_shingle_candidates(self, spark):
        from ragstudio_spark.operators.dedupe import containment_pairs

        boiler = "the same legal footer text"
        rows = [(i, f"unique{i} body {boiler}") for i in range(5)]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        uncapped = containment_pairs(df, k=3).count()
        capped = containment_pairs(df, k=3, max_shingle_df=2).count()
        assert uncapped == 10 and capped == 0

    def test_parallelism_invariance(self, spark):
        from ragstudio_spark.operators.dedupe import containment_pairs

        rows = [(i, f"w{i} shared span of words w{i+1}") for i in range(6)]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        a = sorted(tuple(r) for r in containment_pairs(df, k=3).collect())
        b = sorted(tuple(r) for r in
                   containment_pairs(df.repartition(7), k=3).collect())
        assert a == b


class TestStitchPairs:
    """stitch_pairs (dedupe.py) — boundary reassembly candidates."""

    def test_split_document_found(self, spark):
        from ragstudio_spark.operators.dedupe import stitch_pairs

        rows = [
            (1, "part one text flows into a shared five word boundary"),
            (2, "a shared five word boundary then part two continues onward"),
            (3, "totally unrelated content with nothing shared at all here"),
        ]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        got = [(r.doc_a, r.doc_b, r.boundary)
               for r in stitch_pairs(df, k=5).collect()]
        assert got == [(1, 2, "a shared five word boundary")]

    def test_short_docs_excluded(self, spark):
        from ragstudio_spark.operators.dedupe import stitch_pairs

        # 9 words < 2k=10: head/tail would overlap -> excluded
        rows = [(1, "a b c d e f g h i"), (2, "e f g h i j k l m")]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        assert stitch_pairs(df, k=5).count() == 0

    def test_circular_split_yields_both_directions(self, spark):
        from ragstudio_spark.operators.dedupe import stitch_pairs

        rows = [(1, "x y z q r a b c d e"), (2, "a b c d e x y z q r")]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        got = sorted((r.doc_a, r.doc_b) for r in stitch_pairs(df, k=5).collect())
        assert got == [(1, 2), (2, 1)]

    def test_boundary_df_cap(self, spark):
        from ragstudio_spark.operators.dedupe import stitch_pairs

        boiler = "standard footer one two"
        # 5 docs ending with the same 4-word boundary + 5 starting with it
        rows = ([(i, f"body text of doc {i} ends with {boiler}")
                 for i in range(5)]
                + [(10 + i, f"{boiler} then body of doc {10 + i} continues on")
                   for i in range(5)])
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        assert stitch_pairs(df, k=4).count() == 25
        assert stitch_pairs(df, k=4, max_boundary_df=3).count() == 0

    def test_self_pair_excluded(self, spark):
        from ragstudio_spark.operators.dedupe import stitch_pairs

        # doc whose head equals its own tail
        rows = [(1, "a b c d e mid mid mid a b c d e")]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        assert stitch_pairs(df, k=5).count() == 0


class TestEditDistancePairs:
    def test_hand_computed(self, spark):
        from ragstudio_spark.operators.dedupe import edit_distance_pairs

        base = "the quick brown fox jumps over the lazy dog tonight"
        rows = [(1, base),
                (2, base.replace("jumps", "jumped")),   # distance 2
                (3, base.replace("tonight", "at dawn")),  # suffix change
                (4, "completely different text that shares no prefix")]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        got = {(r.doc_a, r.doc_b): r.distance
               for r in edit_distance_pairs(df, max_distance=10).collect()}
        assert got[(1, 2)] == 2
        assert (1, 4) not in got and (2, 4) not in got
        assert got[(1, 3)] == 7  # 'tonight' -> 'at dawn' by eye

    def test_shingle_blindspot_is_covered(self, spark):
        from ragstudio_spark.operators.dedupe import (edit_distance_pairs,
                                                      jaccard_pairs)

        # one char flipped in EVERY word: shingle Jaccard ~0, edit
        # distance = n_words
        a = "alpha beta gamma delta epsilon zeta eta theta"
        b = "alphx betx gammx deltx epsilox zetx etx thetx"
        df = spark.createDataFrame(
            [(1, a), (2, b)], "doc_id bigint, text string")
        jac = jaccard_pairs(df, k=3).collect()
        assert not jac or all(r.jaccard == 0.0 for r in jac)
        # prefix bucket still matches on the first 4 chars
        got = edit_distance_pairs(df, max_distance=10, prefix_len=4).collect()
        assert [(r.doc_a, r.doc_b, r.distance) for r in got] == [(1, 2, 8)]

    def test_prefix_df_cap(self, spark):
        from ragstudio_spark.operators.dedupe import edit_distance_pairs

        rows = [(i, f"same prefix here unique{i}") for i in range(6)]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        uncapped = edit_distance_pairs(df, max_distance=50).count()
        capped = edit_distance_pairs(df, max_distance=50,
                                     max_prefix_df=3).count()
        assert uncapped == 15 and capped == 0
