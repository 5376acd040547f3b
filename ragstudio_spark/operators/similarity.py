"""Similarity search over embedding columns — first-class DataFrame APIs.

* ``with_cosine``       — JVM-side cosine via sequential-fold ``aggregate``
  over ``zip_with`` products (no UDF; deterministic accumulation order).
* ``brute_force_topk``  — exact top-k for a query set (cross join + window
  rank). The correctness baseline.
* ``ivf_assign`` / ``ivf_topk`` — coarse quantization to leader centroids;
  search only the query's cell. The 100 TB path: the cross join shrinks
  from |Q|×N to |Q|×(N/C), and cells can be bucketed/partitioned.
* ``kmeans_centroids`` — deterministic Lloyd iterations to TRAIN the IVF
  quantizer (scale mode: k×dim-cell partial aggregation; exact mode:
  order-fixed folds for the DuckDB oracle).
* ``pq_train`` / ``pq_encode`` / ``pq_topk`` — product quantization:
  per-subspace codebooks, m-byte codes, asymmetric-distance search via a
  broadcast query→centroid table (the ANN memory story at 10⁹ vectors).
* ``hyperplane_buckets`` — sign-bit sketch over fixed hyperplanes: the
  LSH-bucketed near-dup path (candidates only within a bucket).

Rank outputs use (score desc, id asc) total orders so results are
deterministic and engine-portable (the DuckDB oracle twins in
entry_queries.py compare rank-for-rank).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from ragstudio_spark.operators.ranking import top_k


def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product in double precision."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def brute_force_topk(vectors: DataFrame, queries: DataFrame,
                     k: int = 5) -> DataFrame:
    """(query_id, neighbor_id, rank, similarity) for each query vector.
    ``vectors`` and ``queries`` carry ``vec_id`` and ``embedding``."""
    q = queries.select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("q_vec"))
    v = vectors.select(F.col("vec_id").alias("neighbor_id"),
                       F.col("embedding").alias("v_vec"))
    sims = (
        F.broadcast(q).crossJoin(v)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("similarity", cosine(F.col("q_vec"), F.col("v_vec")))
    )
    return top_k(sims, k, [F.desc("similarity"), F.asc("neighbor_id")],
                 by=["query_id"], rank="rank").select(
        "query_id", "neighbor_id", "rank", "similarity")


def ivf_assign(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """Assign each vector to its nearest centroid (cosine, id tie-break).
    The centroid side is broadcast-hinted explicitly: it is k rows by
    construction, and an unhinted cross join is the one shape never left
    to the cardinality estimator on a stats-less cluster.
    ``vectors`` and ``centroids`` carry ``vec_id``/``cid`` and
    ``embedding``."""
    v = vectors.select(F.col("vec_id"), F.col("embedding"))
    c = centroids.select(F.col("cid"), F.col("embedding").alias("c_vec"))
    scored = v.crossJoin(F.broadcast(c)).withColumn(
        "sim", cosine(F.col("embedding"), F.col("c_vec")))
    # argmax as ONE max(struct) aggregate instead of a row_number window:
    # partial-aggregates map-side (the window exchanged + sorted the full
    # |V|×k score table every call — r7, guide §2.3). max(struct(sim,
    # -cid)) reproduces the window's (sim DESC, cid ASC) order exactly,
    # including NaN sims ranking first (NaN is greatest in both Spark's
    # sort and min/max orderings); cid is integral by contract (a trained
    # 0-based rank or a caller-supplied id), so the double negation is
    # exact and type-preserving.
    return (
        scored.groupBy("vec_id")
        .agg(F.max(F.struct(F.col("sim"),
                            (-F.col("cid")).alias("nc"))).alias("b"))
        .select("vec_id", (-F.col("b.nc")).alias("cid"))
    )


def ivf_topk(vectors: DataFrame, queries: DataFrame, centroids: DataFrame,
             k: int = 3) -> DataFrame:
    """Approximate top-k: search only the query's centroid cell.
    ``vectors``, ``queries`` and ``centroids`` carry ``vec_id``/``cid`` and
    ``embedding``."""
    assign = ivf_assign(vectors, centroids)
    v = vectors.join(assign, on="vec_id")
    q = (
        queries.select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("q_vec"))
        .join(assign.withColumnRenamed("vec_id", "query_id"), on="query_id")
    )
    cand = q.join(
        v.select(F.col("vec_id").alias("neighbor_id"),
                 F.col("embedding").alias("v_vec"), "cid"),
        on="cid",
    ).filter(F.col("neighbor_id") != F.col("query_id"))
    scored = cand.withColumn("similarity", cosine(F.col("q_vec"), F.col("v_vec")))
    return top_k(scored, k, [F.desc("similarity"), F.asc("neighbor_id")],
                 by=["query_id"], rank="rank").select(
        "query_id", "neighbor_id", "rank", "similarity")


def _l2sq(a: Column, b: Column) -> Column:
    """Sequential-fold squared L2 distance in double precision."""
    diff = F.zip_with(
        a, b, lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double")))
    return F.aggregate(diff, F.lit(0.0).cast("double"), lambda acc, v: acc + v)


def kmeans_centroids(vectors: DataFrame, k: int = 16, iters: int = 2,
                     exact: bool = False) -> DataFrame:
    """Deterministic Lloyd k-means for the IVF coarse quantizer: init from
    the k lowest-id vectors, assign by squared L2 (ties → lowest cid),
    recompute means, ``iters`` rounds. Returns (cid, embedding).

    Two mean modes with identical semantics up to float summation order:

    * default (scale path) — posexplode to (cid, dim) cells, one partial-
      aggregated ``sum``/``count`` shuffle on k×dim keys, reassemble. Never
      materializes a cluster in one task.
    * ``exact=True`` (oracle path) — members of a cluster are collected
      sorted by id and folded sequentially, so centroid doubles are
      bit-identical to the DuckDB twin. Memory-bounded by cluster size —
      for the correctness gate only, never for a 100 TB run.

    Empty clusters keep their previous centroid (deterministic). Centroid
    ids are the 0-based rank of the seed vector by id — never a cast of
    the id value, which silently NULLed every cid for string ids.
    ``vectors`` carries ``vec_id`` and ``embedding``; returns (cid,
    embedding)."""
    seed_w = Window.orderBy(F.asc("vec_id"))
    cents = (
        vectors.orderBy(F.asc("vec_id")).limit(k)
        .select((F.row_number().over(seed_w) - F.lit(1)).cast("int").alias("cid"),
                F.col("embedding").alias("c_vec"))
    )
    v = vectors.select(F.col("vec_id"), F.col("embedding"))
    for _ in range(iters):
        scored = v.crossJoin(F.broadcast(cents)).withColumn(
            "d", _l2sq(F.col("embedding"), F.col("c_vec")))
        assign = top_k(scored, 1, [F.asc("d"), F.asc("cid")], by=["vec_id"],
                       rank="rn").select("vec_id", "embedding", "cid")
        if exact:
            grouped = assign.groupBy("cid").agg(
                F.count("*").alias("n"),
                F.array_sort(F.collect_list(F.struct(F.col("vec_id").alias("i"),
                                                     F.col("embedding").alias("v"))))
                .alias("ms"),
            )
            zero = F.transform(F.element_at("ms", 1)["v"],
                               lambda _x: F.lit(0.0).cast("double"))
            summed = F.aggregate(
                "ms", zero,
                lambda acc, m: F.zip_with(acc, m["v"],
                                          lambda a, b: a + b.cast("double")))
            new = grouped.select(
                "cid",
                F.transform(summed, lambda s: s / F.col("n")).alias("c_vec"))
        else:
            cells = assign.select(
                "cid", F.posexplode(F.col("embedding")).alias("pos", "x"))
            dims = (
                cells.groupBy("cid", "pos")
                .agg((F.sum(F.col("x").cast("double")) / F.count("*")).alias("m"))
            )
            new = (
                dims.groupBy("cid")
                .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("dm"))
                .select("cid", F.transform("dm", lambda s: s["m"]).alias("c_vec"))
            )
        # empty clusters keep their previous centroid
        cents = (
            cents.alias("o").join(new.alias("n"), on="cid", how="left")
            .select("cid", F.coalesce(F.col("n.c_vec"), F.col("o.c_vec")).alias("c_vec"))
        )
    return cents.select("cid", F.col("c_vec").alias("embedding"))


def pq_train(vectors: DataFrame, m: int = 4, k: int = 16, iters: int = 2,
             exact: bool = False) -> DataFrame:
    """Product-quantization codebooks: split each vector into ``m``
    contiguous sub-vectors and train a ``k``-centroid k-means per
    subspace. Returns (subspace, cid, sub_vec).

    PQ is the memory story of large-scale ANN: a d-dim float vector
    (4d bytes) compresses to m codebook indices (m bytes at k ≤ 256),
    so a 10⁹-vector index fits executor memory where raw floats cannot.
    Training reuses kmeans_centroids — all its determinism guarantees
    (and its ``exact`` oracle mode: order-fixed member folds, bit-identical
    centroid doubles across engines) apply per subspace.
    ``vectors`` carries ``vec_id`` and ``embedding``."""
    dim_row = vectors.select(F.size("embedding").alias("d")).first()
    if dim_row is None:
        raise ValueError("pq_train: empty vectors input")
    d = dim_row["d"]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sub = d // m
    books = None
    for j in range(m):
        sliced = vectors.select(
            "vec_id",
            F.slice("embedding", j * sub + 1, sub).alias("embedding"))
        cb = kmeans_centroids(sliced, k=k, iters=iters, exact=exact).select(
            F.lit(j).alias("subspace"), "cid",
            F.col("embedding").alias("sub_vec"))
        books = cb if books is None else books.unionByName(cb)
    # codebooks are a tiny (m×k rows) model artifact consumed by several
    # downstream actions (shape checks, encode, search) — materialize ONCE
    # so the iterative training lineage never re-executes per action
    return books.localCheckpoint()


def _codebook_shape(codebooks: DataFrame, m: int) -> int:
    """Validate codebooks against ``m`` and return the sub-vector width
    (read from the small codebook table — never scans the vectors)."""
    first = codebooks.select(F.size("sub_vec").alias("s")).first()
    if first is None:
        raise ValueError("empty codebooks")
    n_sub = codebooks.select("subspace").distinct().count()
    if n_sub != m:
        raise ValueError(f"codebooks hold {n_sub} subspaces, caller passed m={m}")
    return first["s"]


def pq_encode(vectors: DataFrame, codebooks: DataFrame,
              m: int = 4) -> DataFrame:
    """Encode each vector as ``m`` codebook indices: (id, codes array<int>).
    One broadcast of the (m×k)-row codebooks; assignment is the same
    squared-L2 argmin as training (id tie-break → deterministic codes).
    A vector whose dimensionality doesn't match the codebooks fails the
    task loudly instead of silently mis-encoding — the guard wraps the
    sub-vector expression itself (a guard on a dropped column is pruned
    by Catalyst and never runs).
    ``vectors`` carries ``vec_id`` and ``embedding``."""
    sub = _codebook_shape(codebooks, m)
    dim_ok = F.size(F.col("embedding")) == m * sub
    err = F.raise_error(
        F.concat(F.lit("pq_encode: vector dim "),
                 F.size(F.col("embedding")).cast("string"),
                 F.lit(f" != m*sub = {m * sub}")))
    subs = vectors.select(
        F.col("vec_id"),
        F.explode(F.array(*[
            F.struct(F.lit(j).alias("subspace"),
                     F.when(dim_ok, F.slice("embedding", j * sub + 1, sub))
                     .otherwise(err).alias("sv"))
            for j in range(m)
        ])).alias("s"),
    ).select("vec_id", "s.subspace", "s.sv")
    scored = subs.join(F.broadcast(codebooks), on="subspace").withColumn(
        "d2", _l2sq(F.col("sv"), F.col("sub_vec")))
    # argmin via min(struct) — the window exchanged + sorted |V|·m·k
    # scored rows per encode (r7; see ivf_assign for the equivalence)
    best = (scored.groupBy("vec_id", "subspace")
            .agg(F.min(F.struct(F.col("d2"), F.col("cid"))).alias("b"))
            .select("vec_id", "subspace", F.col("b.cid").alias("cid")))
    return (
        best.groupBy("vec_id")
        .agg(F.array_sort(F.collect_list(F.struct("subspace", "cid"))).alias("sc"))
        .select("vec_id", F.transform("sc", lambda s: s["cid"]).alias("codes"))
    )


def pq_topk(codes: DataFrame, codebooks: DataFrame, query_vec: list[float],
            k: int = 5, m: int = 4) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: precompute the query's
    distance to every codebook centroid (an m×k table, broadcast), then
    each encoded vector's approximate distance is m array lookups — no
    float vectors touched at scan time. Returns (neighbor_id, rank).
    ``codes`` carries ``vec_id`` and ``codes``."""
    sub = _codebook_shape(codebooks, m)
    if len(query_vec) != m * sub:
        raise ValueError(
            f"pq_topk: query dim {len(query_vec)} != m*sub = {m * sub}")
    # one literal array-of-subvectors indexed by subspace: each codebook
    # row evaluates exactly ONE _l2sq (not m when-branches)
    q_arr = F.array(*[
        F.array(*[F.lit(float(x)).cast("float")
                  for x in query_vec[j * sub:(j + 1) * sub]])
        for j in range(m)
    ])
    table = codebooks.withColumn(
        "qd",
        _l2sq(F.element_at(q_arr, F.col("subspace") + 1), F.col("sub_vec")),
    ).select("subspace", "cid", "qd")
    exploded = codes.select(
        F.col("vec_id").alias("neighbor_id"),
        F.posexplode("codes").alias("subspace", "cid"))
    dist = (
        exploded.join(F.broadcast(table), on=["subspace", "cid"])
        .groupBy("neighbor_id").agg(F.sum("qd").alias("adist"))
    )
    return top_k(dist, k, [F.asc("adist"), F.asc("neighbor_id")],
                 rank="rank").select("neighbor_id", "rank")


def ivfpq_index(vectors: DataFrame, centroids: DataFrame, codebooks: DataFrame,
                m: int = 4) -> DataFrame:
    """(id, cell, codes): the IVF-PQ index table — coarse cell assignment
    (ivf_assign) joined with PQ codes (pq_encode). This is the artifact a
    10⁹-vector deployment materializes once and partitions/buckets BY
    CELL, so a search touches only the probed cells' partitions; raw
    float vectors appear nowhere in it (m bytes + a cell id per vector).

    Delta vs Faiss IVFPQ, documented: codes encode the RAW vector, not
    the residual (v − centroid) — composition of the two oracle-gated
    operators as-is; residual encoding is a recall refinement, not a
    scale-shape change. ``vectors`` carries ``vec_id`` and ``embedding``."""
    assign = ivf_assign(vectors, centroids).select(
        "vec_id", F.col("cid").alias("cell"))
    codes = pq_encode(vectors, codebooks, m)
    return assign.join(codes, on="vec_id")


def _residual(vec: Column, cent: Column) -> Column:
    """v − centroid, element-wise, double precision."""
    return F.zip_with(vec, cent,
                      lambda x, y: x.cast("double") - y.cast("double"))


def ivfpq_train_residual(vectors: DataFrame, centroids: DataFrame, m: int = 4,
                         k: int = 16, iters: int = 2,
                         exact: bool = False) -> DataFrame:
    """PQ codebooks trained on RESIDUALS (v − cell centroid) — the Faiss
    IVFPQ refinement: raw-vector codebooks must spread their k centroids
    over the corpus's global extent, while residuals concentrate around
    zero, so the same k bits resolve intra-cell detail instead of
    re-encoding the coarse position the cell id already carries. Returns
    codebooks in pq_train's (subspace, cid, sub_vec) shape. ``exact``
    selects pq_train's order-fixed-fold oracle mode (the
    ``ann_ivfpq_residual_topk`` correctness gate), never the scale path.
    ``vectors`` carries ``vec_id`` and ``embedding``."""
    res = _cell_residuals(vectors, centroids).drop("cell")
    return pq_train(res, m=m, k=k, iters=iters, exact=exact)


def _cell_residuals(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """(id, cell, v − cell centroid): each vector's residual against the
    centroid ivf_assign gives it."""
    assign = ivf_assign(vectors, centroids)
    cents = centroids.select(F.col("cid"), F.col("embedding").alias("_c_vec"))
    return (vectors.join(assign, on="vec_id")
            .join(F.broadcast(cents), on="cid")
            .select(F.col("vec_id"), F.col("cid").alias("cell"),
                    _residual(F.col("embedding"), F.col("_c_vec"))
                    .alias("embedding")))


def ivfpq_index_residual(vectors: DataFrame, centroids: DataFrame,
                         codebooks: DataFrame, m: int = 4) -> DataFrame:
    """(id, cell, codes) with codes over residuals — companion of
    ivfpq_train_residual; same storage/pruning layout as ivfpq_index.

    The residual frame feeds TWO consumers (the cell projection and
    pq_encode) and Spark does not dedupe common subplans across a join —
    without materialization the |V|×|C| cell assignment would execute
    twice per index build. localCheckpoint is the single-job equivalent
    of what a real 10⁹-vector build does anyway: persist the assignment/
    residual table before encoding.
    ``vectors`` carries ``vec_id`` and ``embedding``."""
    res = _cell_residuals(vectors, centroids).localCheckpoint()
    codes = pq_encode(res.drop("cell"), codebooks, m)
    return res.select("vec_id", "cell").join(codes, on="vec_id")


def ivfpq_topk_residual(index: DataFrame, centroids: DataFrame,
                        codebooks: DataFrame, queries: DataFrame, k: int = 5,
                        nprobe: int = 2, m: int = 4) -> DataFrame:
    """Search over residual codes: the query's distance table is computed
    per PROBED CELL from the query's own residual against that cell's
    centroid (q − c), so the table is |Q|·nprobe·m·k rows — still tiny,
    still broadcast. Candidates join on (query, cell, subspace, cid).
    ``index`` carries ``vec_id``; ``queries`` and ``centroids`` carry
    ``embedding`` (and ``vec_id``/``cid``)."""
    sub = _codebook_shape(codebooks, m)
    q = queries.select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("q_vec"))
    cents_b = F.broadcast(
        centroids.select("cid", F.col("embedding").alias("c_vec")))
    probed = q.crossJoin(cents_b).withColumn(
        "sim", cosine(F.col("q_vec"), F.col("c_vec")))
    probes = top_k(probed, nprobe, [F.desc("sim"), F.asc("cid")],
                   by=["query_id"], rank="rn").select(
        "query_id", F.col("cid").alias("cell"),
        _residual(F.col("q_vec"), F.col("c_vec")).alias("q_res"))
    q_subs = probes.select(
        "query_id", "cell",
        F.explode(F.array(*[
            F.struct(F.lit(j).alias("subspace"),
                     F.slice("q_res", j * sub + 1, sub).alias("q_sv"))
            for j in range(m)
        ])).alias("s"),
    ).select("query_id", "cell", "s.subspace", "s.q_sv")
    qd = (q_subs.join(F.broadcast(codebooks), on="subspace")
          .withColumn("qd", _l2sq(F.col("q_sv"), F.col("sub_vec")))
          .select("query_id", "cell", "subspace", "cid", "qd"))
    cand = (probes.select("query_id", "cell")
            .join(index.withColumnRenamed("vec_id", "neighbor_id"), on="cell")
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .select("query_id", "cell", "neighbor_id",
                    F.posexplode("codes").alias("subspace", "cid")))
    dist = (cand.join(F.broadcast(qd),
                      on=["query_id", "cell", "subspace", "cid"])
            .groupBy("query_id", "neighbor_id")
            .agg(F.sum("qd").alias("adist")))
    return top_k(dist, k, [F.asc("adist"), F.asc("neighbor_id")],
                 by=["query_id"], rank="rank").select(
        "query_id", "neighbor_id", "rank")


def ann_recall_report(approx: DataFrame, exact: DataFrame) -> DataFrame:
    """Evaluation harness for ANN results against exact ground truth:
    per query, (n_exact, n_approx, n_hits) — INTEGER counts only, the
    oracle discipline; callers derive recall = n_hits / n_exact. The
    exact side defines the query universe (a query the approximate
    index returned nothing for still reports, with zeros). Both inputs
    are top-k tables (tiny); one distinct per side + one key join.
    ``approx`` and ``exact`` carry ``query_id`` and ``neighbor_id``."""
    # single-pass shape: ONE full-outer join of the two distinct pair
    # sets, then one groupBy — each input's (possibly expensive) search
    # lineage is referenced exactly once, never re-executed per counter
    # (Spark does not dedupe common subplans across joins — the
    # codebase's measured multi-consumer lesson)
    e = (exact.select(F.col("query_id"), F.col("neighbor_id")).distinct()
         .withColumn("_e", F.lit(1)))
    a = (approx.select(F.col("query_id"), F.col("neighbor_id")).distinct()
         .withColumn("_a", F.lit(1)))
    joined = e.join(a, on=["query_id", "neighbor_id"], how="full_outer")
    return (joined.groupBy("query_id")
            .agg(F.sum(F.coalesce("_e", F.lit(0))).cast("bigint")
                 .alias("n_exact"),
                 F.sum(F.coalesce("_a", F.lit(0))).cast("bigint")
                 .alias("n_approx"),
                 F.sum(F.when(F.col("_e").isNotNull()
                              & F.col("_a").isNotNull(), 1)
                       .otherwise(0)).cast("bigint").alias("n_hits"))
            .filter(F.col("n_exact") > 0))


def write_ivfpq_index(index: DataFrame, path: str,
                      mode: str = "overwrite") -> None:
    """Persist the IVF-PQ index PARTITIONED BY CELL — the physical layout
    the probe path depends on: ``ivfpq_topk``'s probes⋈index join on
    ``cell`` then compiles to a scan with a DynamicPruningExpression, so
    a search physically reads only the nprobe probed cells' files out of
    the whole index (plan-asserted in tests/test_plan_shapes.py). This is
    the parquet analogue of an Iceberg `PARTITIONED BY (cell)` index
    table."""
    index.write.partitionBy("cell").mode(mode).parquet(path)


def read_ivfpq_index(spark, path: str) -> DataFrame:
    return spark.read.parquet(path)


def ivfpq_topk(index: DataFrame, centroids: DataFrame, codebooks: DataFrame,
               queries: DataFrame, k: int = 5, nprobe: int = 2,
               m: int = 4) -> DataFrame:
    """Approximate top-k through the composed IVF-PQ architecture: route
    each query to its ``nprobe`` nearest cells (same cosine measure as
    ivf_assign — probing must agree with assignment), then asymmetric-
    distance PQ-scan ONLY those cells' codes. Returns (query_id,
    neighbor_id, rank) — rank-only, ordered by (adist asc, id asc).

    Scale shape: centroids and codebooks broadcast (tiny models); the
    per-query distance table is |Q|·m·k rows (broadcastable for bounded
    query sets); the scan reads nprobe/|cells| of the code table and
    never touches a float vector. With the index bucketed by cell the
    probe join is partition-pruned.
    ``index`` carries ``vec_id``; ``queries`` and ``centroids`` carry
    ``embedding`` (and ``vec_id``/``cid``)."""
    sub = _codebook_shape(codebooks, m)
    q = queries.select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("q_vec"))
    # nprobe nearest cells per query (cosine desc, cid asc — determinism)
    probed = q.crossJoin(
        F.broadcast(centroids.select("cid", F.col("embedding").alias("c_vec")))
    ).withColumn("sim", cosine(F.col("q_vec"), F.col("c_vec")))
    probes = top_k(probed, nprobe, [F.desc("sim"), F.asc("cid")],
                   by=["query_id"], rank="rn").select(
        "query_id", F.col("cid").alias("cell"))
    # per-query asymmetric distance table: query sub-vector → every
    # codebook centroid (|Q|·m·k rows); same explode shape as pq_encode
    q_subs = q.select(
        "query_id",
        F.explode(F.array(*[
            F.struct(F.lit(j).alias("subspace"),
                     F.slice("q_vec", j * sub + 1, sub).alias("q_sv"))
            for j in range(m)
        ])).alias("s"),
    ).select("query_id", "s.subspace", "s.q_sv")
    qd = (q_subs.join(F.broadcast(codebooks), on="subspace")
          .withColumn("qd", _l2sq(F.col("q_sv"), F.col("sub_vec")))
          .select("query_id", "subspace", "cid", "qd"))
    # candidates = probed cells' codes only; adist = m table lookups
    cand = (probes.join(index.withColumnRenamed("vec_id", "neighbor_id"),
                        on="cell")
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .select("query_id", "neighbor_id",
                    F.posexplode("codes").alias("subspace", "cid")))
    dist = (cand.join(F.broadcast(qd), on=["query_id", "subspace", "cid"])
            .groupBy("query_id", "neighbor_id")
            .agg(F.sum("qd").alias("adist")))
    return top_k(dist, k, [F.asc("adist"), F.asc("neighbor_id")],
                 by=["query_id"], rank="rank").select(
        "query_id", "neighbor_id", "rank")



def hyperplane_buckets(vectors: DataFrame, planes: DataFrame) -> DataFrame:
    """Sign-bit LSH bucket per vector: bucket = Σ (dot(v, plane_p) > 0) << p.
    ``vectors`` carries ``vec_id`` and ``embedding``; ``planes`` carries
    ``plane`` and ``embedding``."""
    v = vectors.select(F.col("vec_id"), F.col("embedding"))
    p = planes.select(F.col("plane"), F.col("embedding").alias("p_vec"))
    bits = v.crossJoin(F.broadcast(p)).select(
        "vec_id", "plane",
        F.when(dot(F.col("embedding"), F.col("p_vec")) > 0, 1).otherwise(0).alias("bit"),
    )
    return bits.groupBy("vec_id").agg(
        F.sum(F.col("bit").cast("bigint")
              * F.pow(2, F.col("plane")).cast("bigint")).cast("bigint").alias("bucket")
    )


# --------------------------------------------------------------------------
# scalar quantization (SQ8)
# --------------------------------------------------------------------------

def sq8_params(vectors: DataFrame) -> DataFrame:
    """Per-dimension [min, max] calibration for 8-bit scalar quantization:
    one row ``(mins: array<double>, maxs: array<double>)``.

    min/max are order-independent exact aggregates (unlike float sums), so
    the parameters — and therefore every derived code — are identical
    across partitionings and engines. localCheckpointed: the params feed
    BOTH the corpus encode and the query encode (the tiny-model fan-out
    rule — without it each consumer re-runs the corpus scan).
    ``vectors`` carries ``embedding``.
    """
    dims = (
        vectors.select(F.posexplode("embedding").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.min(F.col("x").cast("double")).alias("mn"),
             F.max(F.col("x").cast("double")).alias("mx"))
    )
    return (
        dims.groupBy()
        .agg(F.array_sort(F.collect_list(F.struct("pos", "mn", "mx")))
             .alias("_s"))
        .select(F.transform("_s", lambda s: s["mn"]).alias("mins"),
                F.transform("_s", lambda s: s["mx"]).alias("maxs"))
        .localCheckpoint()
    )


def sq8_encode(vectors: DataFrame, params: DataFrame) -> DataFrame:
    """8-bit codes: ``floor((x - min) / (max - min) * 255)`` clamped to
    [0, 255] per dimension (constant dimensions code to 0). Returns
    ``(id, code: array<bigint>)`` — 1 byte of information per dimension
    vs 4 for the raw float, the classic 4× index-memory cut. The
    arithmetic is the same IEEE-double expression shape the DuckDB twin
    uses, so codes match bit-for-bit.
    ``vectors`` carries ``vec_id`` and ``embedding``."""
    v = vectors.crossJoin(F.broadcast(params))
    num = F.zip_with(F.col("embedding"), F.col("mins"),
                     lambda x, mn: x.cast("double") - mn)
    den = F.zip_with(F.col("maxs"), F.col("mins"), lambda mx, mn: mx - mn)
    code = F.zip_with(
        num, den,
        lambda n, d: F.when(d == 0.0, F.lit(0).cast("long")).otherwise(
            F.least(F.lit(255).cast("long"),
                    F.greatest(F.lit(0).cast("long"),
                               F.floor(n / d * 255.0)))))
    return v.select(F.col("vec_id"), code.alias("code"))


def sq8_dequantize(code: Column, mins: Column, maxs: Column) -> Column:
    """Reconstruction ``min + code * ((max - min) / 255)`` — the same
    IEEE-double expression shape in the DuckDB twin, so reconstructed
    values match bit-for-bit."""
    return F.zip_with(
        F.zip_with(code, mins, lambda c, mn: F.struct(
            c.cast("double").alias("c"), mn.alias("mn"))),
        maxs,
        lambda s, mx: s["mn"] + s["c"] * ((mx - s["mn"]) / 255.0))


def sq8_topk(vectors: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """SQ8 search, FAISS-ScalarQuantizer-style: encode corpus AND queries
    to 8-bit per-dimension affine codes, rank by the dot product in the
    DEQUANTIZED space — ``(query_id, neighbor_id, rank)``.

    Ranking in code space would be wrong: the affine shift adds a
    per-neighbor ``Σ min_d·scale_d·code_d`` term that reorders results,
    so scoring reconstructs ``x̂ = min + code·scale`` ONCE PER ROW
    (decode-at-scan, bound before the cross join — never inside the
    per-pair expression) and folds sequentially in double. Rank-only
    output (the float-tier convention: scores drift a ulp across
    engines, ranks don't — the fold order is pinned left-to-right in
    both).

    Scale story: the index at rest is 1-byte codes + one tiny params row
    (4× less memory than raw floats, no training step unlike PQ);
    queries are broadcast; decode happens in-flight at scan time.
    ``vectors`` and ``queries`` carry ``vec_id`` and ``embedding``."""
    params = sq8_params(vectors)
    codes = sq8_encode(vectors, params)
    dec = sq8_dequantize(F.col("code"), F.col("mins"), F.col("maxs"))
    v_hat = (codes.crossJoin(F.broadcast(params))
             .select(F.col("vec_id").alias("neighbor_id"),
                     dec.alias("v_hat")))
    q_hat = (sq8_encode(queries, params)
             .crossJoin(F.broadcast(params))
             .select(F.col("vec_id").alias("query_id"), dec.alias("q_hat")))
    scored = (
        F.broadcast(q_hat).crossJoin(v_hat)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("score", dot(F.col("q_hat"), F.col("v_hat")))
    )
    return top_k(scored, k, [F.desc("score"), F.asc("neighbor_id")],
                 by=["query_id"], rank="rank").select(
        "query_id", "neighbor_id", "rank")


def hard_negatives(ranked: DataFrame, qrels: DataFrame, k: int = 5,
                   query_col: str = "query_id",
                   id_col: str = "neighbor_id",
                   rank_col: str = "rank") -> DataFrame:
    """Hard-negative mining for contrastive training: from a ranked
    similarity table (any of this module's ANN outputs — brute force,
    IVF, SQ8 — over a candidate pool LARGER than ``k``), drop the
    known-relevant (query, doc) pairs and keep the ``k`` most similar
    survivors per query: the docs that look most like the answer but
    are not — the negatives a contrastive/embedding trainer wants.

    Pure composition: one anti-join on (query, doc) + one re-rank
    window over k-bounded per-query lists. Output (query_col, id_col,
    neg_rank), rank-only (the oracle discipline). At scale the ranked
    input comes from the cell-pruned index scan, never a full cross
    join. The judgment set is query-sized, so it is broadcast-hinted."""
    if k <= 0:
        raise ValueError("k must be positive")
    judged = F.broadcast(qrels.select(query_col, id_col).distinct())
    neg = ranked.join(judged, on=[query_col, id_col], how="left_anti")
    return (top_k(neg, int(k), [F.asc(rank_col), F.asc(id_col)],
                  by=[query_col], rank="neg_rank")
            .select(query_col, id_col, F.col("neg_rank").cast("bigint")))
