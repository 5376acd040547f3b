"""Physical-plan shape assertions — the 100 TB design contracts.

Each test pins a plan property that makes an operator survive scale-up:
no shuffle where none is needed, broadcast only where a side is provably
small, Python hops only where Python is required. A regression here means
a future edit silently introduced a scale bottleneck even though results
stay correct.
"""

from pyspark.sql import functions as F

from ragstudio_spark.operators import bucketing, ml_strategy, retrieval, toolcalls
from ragstudio_spark.pipeline.job import PipelineConfig, run_pipeline
from ragstudio_spark.session import literal_table
from ragstudio_spark.sources import transcripts as tsrc


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


class TestPlanShapes:
    def test_pipeline_hot_path_has_no_shuffle_and_one_python_hop(self, spark):
        """The flagship claim: scan → JVM sniff → ONE fused mapInPandas →
        JVM gate → explode. Zero shuffles, exactly one Python boundary."""
        out = run_pipeline(
            tsrc.transcripts_df(spark, 100, seed=3, partitions=2),
            PipelineConfig())
        # strip the generator's own mapInPandas by materializing? No — the
        # generator adds one hop; count relative to the raw input instead.
        plan = _plan(out.chunks)
        assert bucketing.plan_shuffle_exchanges(out.chunks) == 0
        # input generation contributes 1 MapInPandas; the pipeline must add
        # exactly 1 more (the fused hop) and no other Python operators
        assert plan.count("MapInPandas") == 2
        assert "BatchEvalPython" not in plan

    def test_toolcalls_all_jvm_no_shuffle(self, spark):
        df = tsrc.transcripts_df(spark, 100, seed=3, partitions=2)
        calls = toolcalls.parse_tool_calls(df)
        plan = _plan(calls)
        assert bucketing.plan_shuffle_exchanges(calls) == 0
        assert plan.count("MapInPandas") == 1  # only the generator's hop
        assert "from_json" in plan or "FromJson" in plan.replace("_", "")

    def test_ml_strategy_is_one_projection(self, spark):
        df = tsrc.transcripts_df(spark, 100, seed=3, partitions=2)
        scored = ml_strategy.with_ml_strategy(df, text_col="text")
        assert bucketing.plan_shuffle_exchanges(scored) == 0
        assert "BatchEvalPython" not in _plan(scored)

    def test_bm25_broadcasts_stats_not_docs(self, spark):
        docs = spark.createDataFrame(
            [(i, f"spark query text {i}") for i in range(50)],
            "doc_id int, text string")
        scores = retrieval.bm25_scores(docs, ["spark", "query"])
        plan = _plan(scores)
        # corpus stats are a single row — must arrive via broadcast, and
        # the docs side must not be shuffled for the join
        assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_ranked_topk_uses_partial_topk_not_global_sort(self, spark):
        """candidate_limit must compile to TakeOrderedAndProject (per-
        partition top-k + merge), never a full Exchange+Sort."""
        docs = spark.createDataFrame(
            [(i, f"spark text {i}") for i in range(50)],
            "doc_id int, text string")
        scores = retrieval.bm25_scores(docs, ["spark"])
        limited = scores.orderBy(F.desc("bm25_score"), F.asc("doc_id")).limit(5)
        assert "TakeOrderedAndProject" in _plan(limited)

    def test_index_search_rank_window_is_bounded(self, spark):
        """phrase_search / terms_search with top_n must prune candidates
        through a distributed TakeOrderedAndProject BEFORE the global
        rank window (r6 VERDICT's one perf-weak flag: an unselective
        query otherwise funnels every matching doc through ONE rank
        task), and ranks must equal the unbounded mode's."""
        from ragstudio_spark.operators import index

        docs = spark.createDataFrame(
            [(i, f"alpha beta gamma doc {i} alpha beta") for i in range(40)],
            "doc_id int, text string")
        bounded = index.phrase_search(docs, ["alpha", "beta"], top_n=100)
        assert "TakeOrderedAndProject" in _plan(bounded)
        unbounded = index.phrase_search(docs, ["alpha", "beta"])
        assert "TakeOrderedAndProject" not in _plan(unbounded)
        assert sorted(map(tuple, bounded.collect())) == \
            sorted(map(tuple, unbounded.collect()))
        tb = index.terms_search(docs, ["alpha", "gamma"], top_n=100)
        assert "TakeOrderedAndProject" in _plan(tb)
        tu = index.terms_search(docs, ["alpha", "gamma"])
        assert sorted(map(tuple, tb.collect())) == \
            sorted(map(tuple, tu.collect()))

    def test_parquet_scan_prunes_columns(self, spark, tmp_path):
        """Column pruning must reach the scan: the pipeline reads only the
        columns it consumes (ReadSchema check — at 100 TB reading `tool`
        and `role` for nothing is a third more I/O)."""
        path = str(tmp_path / "t")
        tsrc.transcripts_df(spark, 100, seed=3, partitions=2).write.parquet(path)
        out = run_pipeline(spark.read.parquet(path), PipelineConfig())
        plan = _plan(out.chunks)
        scan_line = next(ln for ln in plan.splitlines() if "ReadSchema" in ln)
        assert "text" in scan_line and "conv_id" in scan_line
        assert "role" not in scan_line and "tool" not in scan_line
        assert "ts" not in scan_line.split("ReadSchema")[1]

    def test_hybrid_default_is_bounded_partial_topk(self, spark):
        """The DEFAULT hybrid_search path must never rank the full corpus
        through a single-partition window: each modality's candidates go
        through TakeOrderedAndProject before the (small) rank window."""
        docs = spark.createDataFrame(
            [(i, f"spark query text {i}") for i in range(60)],
            "doc_id int, text string")
        vecs = spark.createDataFrame(
            [(i, [float(i % 7), 1.0, 0.5]) for i in range(60)],
            "vec_id int, embedding array<float>")
        query = spark.createDataFrame(
            [(0, [1.0, 1.0, 0.5])], "vec_id int, embedding array<float>")
        out = retrieval.hybrid_search(
            docs, vecs, ["spark"], query,
            doc_id_col="doc_id", vec_id_col="vec_id")
        plan = _plan(out)
        assert "TakeOrderedAndProject" in plan

    def test_band_generation_computes_signatures_once(self, spark):
        """Band fan-out is a single explode over the signature aggregate —
        the number of aggregate operators in the plan must not grow with
        n_bands (a union-of-selects shape re-references the agg per band
        and relies on ReusedExchange to dedup it)."""
        from ragstudio_spark.operators import dedupe

        docs = spark.createDataFrame(
            [(i, f"alpha beta gamma delta epsilon {i} zeta eta theta")
             for i in range(30)],
            "doc_id int, text string")

        def n_aggs(df):
            return _plan(df).count("HashAggregate")

        two = dedupe.minhash_lsh_pairs(docs, n_hashes=8, n_bands=2)
        four = dedupe.minhash_lsh_pairs(docs, n_hashes=8, n_bands=4)
        assert n_aggs(two) == n_aggs(four)
        sim = dedupe.simhash64_near_pairs(docs)
        # 4 bands, 2 join sides: explode appears once per side
        assert _plan(sim).count("Generate") <= 2 * _plan(
            dedupe.simhash64(docs)).count("Generate") + 2

    def test_similarity_tier_has_no_unhinted_cartesian(self, spark):
        """Every cross join in the similarity tier pairs a big side with a
        provably-small side (centroids, hyperplanes, the query set) — all
        of them must carry an explicit broadcast hint so the physical plan
        is BroadcastNestedLoopJoin, never an unhinted CartesianProduct
        that a stats-less cluster would execute as a full shuffle product."""
        from ragstudio_spark.operators import similarity

        vecs = spark.createDataFrame(
            [(i, [float(i % 5), 1.0, 0.5, float(i % 3)]) for i in range(24)],
            "vec_id int, embedding array<float>")
        queries = vecs.filter("vec_id < 2")
        cents = similarity.kmeans_centroids(vecs, k=4, iters=1)
        planes = spark.createDataFrame(
            [(p, [1.0 if d == p else -0.5 for d in range(4)])
             for p in range(4)],
            "plane int, embedding array<float>")
        books = similarity.pq_train(vecs, m=2, k=4, iters=1)
        targets = {
            "brute_force_topk": similarity.brute_force_topk(vecs, queries),
            "ivf_assign": similarity.ivf_assign(vecs, cents),
            "ivf_topk": similarity.ivf_topk(vecs, queries, cents, k=2),
            "hyperplane_buckets": similarity.hyperplane_buckets(vecs, planes),
            "pq_topk": similarity.pq_topk(
                similarity.pq_encode(vecs, books, m=2), books,
                [1.0, 1.0, 0.5, 1.0], k=3, m=2),
            "sq8_topk": similarity.sq8_topk(vecs, queries, k=3),
        }
        for name, df in targets.items():
            plan = _plan(df)
            assert "CartesianProduct" not in plan, name

    def test_ivfpq_probe_join_dynamically_prunes_cell_partitions(
            self, spark, tmp_path):
        """The on-disk IVF-PQ index is partitioned by cell; the probe
        join must compile to a scan with a DynamicPruningExpression so a
        search physically reads only the nprobe probed cells' files —
        the partition-pruned probe the 10⁹-vector layout depends on."""
        import random

        from ragstudio_spark.operators import similarity

        rng = random.Random(13)
        centers = [[6.0, 0, 0, 0], [0, 6.0, 0, 0],
                   [0, 0, 6.0, 0], [0, 0, 0, 6.0]]
        rows = [(i, [x + rng.uniform(-0.3, 0.3) for x in centers[i % 4]])
                for i in range(32)]
        vecs = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
        cents = similarity.kmeans_centroids(vecs, k=4, iters=2)
        books = similarity.pq_train(vecs, m=2, k=4, iters=1)
        path = str(tmp_path / "ivfpq")
        similarity.write_ivfpq_index(
            similarity.ivfpq_index(vecs, cents, books, m=2), path)
        disk = similarity.read_ivfpq_index(spark, path)
        out = similarity.ivfpq_topk(disk, cents, books,
                                    vecs.filter("vec_id < 2"),
                                    k=3, nprobe=1, m=2)
        assert out.count() > 0
        assert "dynamicpruning" in _plan(out).lower()

    def test_cache_resolve_partial_aggregates_without_window(
            self, spark, tmp_path):
        """The cache's latest-per-key resolution must stay a
        partial-aggregable max(struct) groupBy — never a row_number
        window (no map-side combine) — and a prefix-scoped read must
        push the prefix into the partitioned scan so only that prefix's
        directories are read."""
        from ragstudio_spark.pipeline import cache

        path = str(tmp_path / "store")
        docs = spark.range(64).select(F.col("id").alias("doc_id"))
        for pfx in ("chunk", "search"):
            cache.put_df(docs, path, pfx,
                         cache.bulk_key_col(pfx, "doc_id"),
                         F.col("doc_id").cast("string"), ttl=100, now=10)
        live = cache.resolve(spark, path, now=50, prefix="chunk")
        plan = _plan(live)
        assert "Window" not in plan
        # partial + final aggregate pair (map-side combine applies)
        assert plan.lower().count("hashaggregate") >= 2
        # the prefix filter reaches the scan as a partition filter
        assert "PartitionFilters: [isnotnull(prefix" in plan \
            or "prefix#" in plan.split("PartitionFilters")[1][:200]
        assert live.count() == 64

    def test_cache_put_df_is_a_narrow_append(self, spark, tmp_path):
        """Writes never read, never shuffle: the put plan is scan →
        project → write (an Exchange in the put path would serialize
        ingest at scale)."""
        from ragstudio_spark.pipeline import cache

        docs = spark.range(64).select(F.col("id").alias("doc_id"))
        put_plan = _plan(docs.select(
            cache.bulk_key_col("chunk", "doc_id").alias("key"),
            F.lit("chunk").alias("prefix"),
            F.col("doc_id").cast("string").alias("value"),
            F.lit(10).cast("bigint").alias("ts"),
            F.lit(100).cast("bigint").alias("ttl"),
            F.lit("set").alias("op")))
        assert "Exchange" not in put_plan


class TestContinuation2PlanShapes:
    """Plan contracts for the continuation-2 tier."""

    def test_phrase_search_broadcasts_the_phrase_side(self, spark):
        from ragstudio_spark.operators.index import phrase_search

        docs = spark.createDataFrame(
            [(i, f"w{i} slow hash batch tail{i}") for i in range(50)],
            "doc_id bigint, text string")
        plan = _plan(phrase_search(docs, ["slow", "hash", "batch"]))
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan

    def test_funnel_no_cartesian_no_python(self, spark):
        import datetime as dt

        from ragstudio_spark.operators.sessions import funnel

        rows = [(u, dt.datetime(2024, 1, 1, 12, (u + i) % 60),
                 ["view", "click"][i % 2])
                for u in range(10) for i in range(4)]
        df = spark.createDataFrame(
            rows, "user_id bigint, ts timestamp, event_type string")
        plan = _plan(funnel(df, ["view", "click"]))
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan

    def test_grounding_user_grams_partial_aggregate_before_join(self, spark):
        from ragstudio_spark.operators.grounding import turn_grounding

        rows = [("c", i, ["user", "assistant"][i % 2], f"a b c w{i}")
                for i in range(8)]
        df = spark.createDataFrame(
            rows, "conv_id string, turn_idx int, role string, text string")
        plan = _plan(turn_grounding(df))
        # the user-side min(turn_idx) must partial-aggregate map-side
        # (two HashAggregates around its exchange), and nothing in the
        # operator is Python
        assert "partial_min" in plan or "partial min" in plan.lower()
        assert "BatchEvalPython" not in plan

    def test_forget_rewrite_kept_side_broadcasts_forget_list(self, spark,
                                                             tmp_path):
        # asserts on the OPERATOR's own survivor frame (forget_kept_frame
        # is what forget_rewrite writes), not a hand-rebuilt copy
        from ragstudio_spark.pipeline.maintenance import forget_kept_frame

        path = str(tmp_path / "t")
        spark.range(100).selectExpr("id AS user_id").write.parquet(path)
        df = spark.read.parquet(path)
        kept = forget_kept_frame(spark, df, "user_id", [1, 2, 3])
        plan = _plan(kept)
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
        assert "SortMergeJoin" not in plan


class TestLiteralTable:
    """session.literal_table, which builds every relation of Python
    values (the forget list above is one of its callers)."""

    def test_schema_follows_the_ddl(self, spark):
        df = literal_table(spark, [(1, "a", 0.5, bytearray(b"\x00\xff"))],
                           "k bigint, s string, d double, b binary")
        assert df.schema.simpleString() == \
            "struct<k:bigint,s:string,d:double,b:binary>"
        assert [tuple(r) for r in df.collect()] == \
            [(1, "a", 0.5, bytearray(b"\x00\xff"))]

    def test_rows_keep_order_and_nulls_and_empty_is_typed(self, spark):
        rows = [(3, None), (None, "x"), (1, "y"), (None, None)]
        df = literal_table(spark, rows, "k int, s string")
        assert [tuple(r) for r in df.collect()] == rows
        empty = literal_table(spark, [], "k int, s string")
        assert empty.schema == df.schema
        assert empty.collect() == []

    def test_joined_side_broadcasts_statically(self, spark, tmp_path):
        """Past the broadcast threshold on the parquet side, the helper's
        side still broadcasts in the initial plan (AQE on): it has a size
        estimate. The same rows from createDataFrame have none and plan a
        shuffle join."""
        path = str(tmp_path / "big")
        (spark.range(5000)
         .selectExpr("id % 5 AS k", "md5(CAST(id AS string)) AS v")
         .write.parquet(path))
        big = spark.read.parquet(path)
        rows, ddl = [(1, "a"), (3, "c")], "k bigint, s string"
        key = "spark.sql.autoBroadcastJoinThreshold"
        old = spark.conf.get(key)
        spark.conf.set(key, str(64 << 10))
        try:
            stats = big._jdf.queryExecution().optimizedPlan().stats()
            assert int(stats.sizeInBytes()) > 64 << 10
            plan = _plan(big.join(literal_table(spark, rows, ddl), "k"))
            local = _plan(big.join(spark.createDataFrame(rows, ddl), "k"))
        finally:
            spark.conf.set(key, old)
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
        assert "isFinalPlan=false" in plan
        assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
        assert "SortMergeJoin" in local


def test_no_python_local_relation_outside_literal_table():
    """Product code builds every relation from Python values through
    session.literal_table: no createDataFrame, and no hand-built
    one-row range (or range(len(...)) spine) to explode literals from."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent / "ragstudio_spark"
    found, helper_ranges = [], 0
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text())
        helper = {id(n) for f in ast.walk(tree)
                  if isinstance(f, ast.FunctionDef)
                  and f.name == "literal_table" for n in ast.walk(f)}
        for node in ast.walk(tree):
            if not (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)):
                continue
            args = [a.value if isinstance(a, ast.Constant) else a
                    for a in node.args]
            one_row = args[:2] in ([1], [0, 1])
            by_len = (len(args) == 1 and isinstance(args[0], ast.Call)
                      and getattr(args[0].func, "id", None) == "len")
            if node.func.attr == "createDataFrame" or (
                    node.func.attr == "range" and (one_row or by_len)):
                if id(node) in helper:
                    helper_ranges += 1
                else:
                    found.append(f"{path.relative_to(root)}:{node.lineno}")
    assert found == [], found
    assert helper_ranges == 1   # the guard still recognizes the idiom


def test_no_unset_column_name_parameters():
    """An operator takes a column-name parameter only when some caller
    passes another name: every defaulted ``*_col``/``*_cols`` parameter of
    a public function under ragstudio_spark/ (kernel/ and
    pipeline/guards.py aside) is set by some call in the repository, by
    keyword or by position. Calls match by function name, and a call with
    ``*args``/``**kwargs`` counts as setting everything, so the scan can
    only over-count setters."""
    import ast
    import collections
    import pathlib

    repo = pathlib.Path(__file__).resolve().parent.parent
    files = [p for d in ("ragstudio_spark", "scripts", "tests", "perfbench")
             for p in (repo / d).rglob("*.py")]
    files += [repo / f for f in ("bench.py", "bench_extra.py",
                                 "__spark_entry__.py")]
    by_kw, n_pos, star = collections.defaultdict(set), {}, set()
    for path in files:
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.Call):
                continue
            name = getattr(node.func, "id", getattr(node.func, "attr", None))
            if any(isinstance(a, ast.Starred) for a in node.args) or any(
                    k.arg is None for k in node.keywords):
                star.add(name)
            n_pos[name] = max(n_pos.get(name, 0), len(node.args))
            by_kw[name] |= {k.arg for k in node.keywords}
    unset = []
    for path in sorted((repo / "ragstudio_spark").rglob("*.py")):
        rel = path.relative_to(repo / "ragstudio_spark").as_posix()
        if rel.startswith("kernel/") or rel == "pipeline/guards.py":
            continue
        for fn in ast.walk(ast.parse(path.read_text())):
            if (not isinstance(fn, ast.FunctionDef)
                    or fn.name.startswith("_") or fn.name in star):
                continue
            a = fn.args
            pos = a.posonlyargs + a.args
            skip = 1 if pos and pos[0].arg in ("self", "cls") else 0
            defaulted = [(i - skip, p) for i, p in enumerate(pos)
                         if i >= len(pos) - len(a.defaults)]
            defaulted += [(None, p) for p, d in zip(a.kwonlyargs,
                                                    a.kw_defaults) if d]
            for i, p in defaulted:
                if (p.arg.endswith(("_col", "_cols"))
                        and p.arg not in by_kw[fn.name]
                        and (i is None or n_pos.get(fn.name, 0) <= i)):
                    unset.append(f"{rel}:{fn.name}({p.arg})")
    assert unset == [], unset
