"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force exact top-k — broadcast the (small) query set
  against the corpus, dot products via zip_with/aggregate (JVM-side, no
  Python). The per-row cost is O(dim); the plan is a broadcast nested-loop
  join that scans the corpus once — at 100 TB this is the correct *exact*
  plan (queries are broadcast, corpus never shuffles).
- ``lsh_ann_topk``: random-hyperplane LSH bucketing — corpus and queries hash
  to sign-pattern buckets; only same-bucket (+ multiprobe neighbor) pairs are
  scored. Sub-linear candidate volume at the cost of recall; the scale path
  when the query set is large.
- ``cluster_centroids``: per-label mean vector via posexplode + exact decimal
  sums (deterministic regardless of partition order).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _spread(df: DataFrame) -> DataFrame:
    """Ensure CPU-bound per-vector work parallelizes: a small single-file
    parquet corpus arrives as ONE partition, and the signature/encode/score
    expressions would then run single-threaded. The repartition shuffles only
    the (narrow) source rows and is a no-op when the input is already
    parallel — the 100 TB case."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a, b):
    """Cosine similarity between two array<float> columns, computed in double
    with sequential (index-order) accumulation — deterministic and exactly
    reproducible by any engine that folds in index order."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def normalize_quantize(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """L2-normalize each embedding and quantize to int8 — the storage /
    transport format for a 100 TB embedding table (4x smaller than float32;
    dot products stay integer-SIMD-able, rescaled by the stored norm).

    q_i = floor(x_i / ||x|| * 127): ``floor`` (not round) because
    round-half-even vs half-up differs across engines — floor of the same
    IEEE double is portable, so the quantized codes are bit-identical
    everywhere. Pure codegen expressions; no shuffle, no Python.
    """
    vec = F.col(vec_col)
    nrm = _norm(vec)
    q = F.transform(
        vec, lambda x: F.floor(x.cast("double") / nrm * F.lit(127.0)).cast("int")
    )
    return df.select(
        F.col(id_col),
        nrm.alias("l2_norm"),
        F.array_join(F.transform(q, lambda v: v.cast("string")), ",").alias(
            "q_codes"
        ),
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for every query vector.

    Returns (query_id, neighbor_id, cos_sim, rank) excluding self-matches.
    Ranking tie-breaks on neighbor id so results are fully deterministic.
    """
    # Precompute each side's L2 norm BELOW the all-pairs join: the naive
    # cosine(qv, cv) projection re-evaluates both norms once per PAIR —
    # O(|Q|·|C|) array folds; as per-side columns they are evaluated once
    # per ROW, so the pair-level work drops to the dot product alone
    # (cos_sim = dot/(qn·cn) is the same IEEE expression tree, so values
    # are bit-identical).
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    ).withColumn("__qn", _norm(F.col("qv")))
    c = (
        _spread(corpus)
        .select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
        .withColumn("__cn", _norm(F.col("cv")))
    )
    scored = (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                _dot(F.col("qv"), F.col("cv"))
                / (F.col("__qn") * F.col("__cn"))
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def matryoshka_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse_dims: int = 16,
    shortlist: int = 20,
    k: int = 5,
) -> DataFrame:
    """Adaptive retrieval over Matryoshka-style embeddings (Kusupati et
    al. 2022): a cheap coarse pass scores every candidate on only the
    FIRST ``coarse_dims`` dimensions (MRL training front-loads signal, so
    a prefix is itself a usable embedding), keeps a per-query
    ``shortlist``, then reranks the shortlist with full-dimension cosine.

    Returns ``(query_id, neighbor_id, cos_sim, rank)`` — same contract as
    :func:`cosine_topk` (cos_sim is the exact full-dim score).

    Scale shape: the corpus-sized pass does coarse_dims/dim of the float
    work per row (16/64 = 4x cheaper here; 64/1024 = 16x on production
    embeddings) entirely in codegen; the exact rerank touches only
    shortlist·|queries| rows. Both passes broadcast the query side; the
    full vector rides along the coarse pass so reranking never rejoins
    the corpus. Ties break on neighbor id at both cuts, so the result is
    deterministic.
    """
    # prefix norms as per-side columns (not per-pair folds) — same
    # rationale and same bit-exactness argument as in cosine_topk
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.slice(F.col(vec_col), 1, coarse_dims).alias("qc"),
    ).withColumn("__qcn", _norm(F.col("qc")))
    c = _spread(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        F.slice(F.col(vec_col), 1, coarse_dims).alias("cc"),
    ).withColumn("__ccn", _norm(F.col("cc")))
    # guard the prefix norms BEFORE the divide: a vector whose first
    # coarse_dims entries are all zero is legal (its FULL norm is nonzero)
    # but has no defined prefix cosine — under ANSI (Spark 4's default) an
    # unguarded divide aborts the whole job with DIVIDE_BY_ZERO. The
    # sentinel -2.0 sorts below every real cosine, so such candidates
    # fall to the back of the shortlist deterministically (coarse_sim is
    # only a pruning heuristic; returned scores are exact full-dim).
    qn, cn = F.col("__qcn"), F.col("__ccn")
    prefix_cos = F.when(
        (qn > F.lit(0.0)) & (cn > F.lit(0.0)),
        _dot(F.col("qc"), F.col("cc")) / (qn * cn),
    ).otherwise(F.lit(-2.0))
    coarse = (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            "qv",
            "cv",
            prefix_cos.alias("coarse_sim"),
        )
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.col("coarse_sim").desc(), F.col("neighbor_id").asc()
    )
    short = coarse.withColumn("crank", F.row_number().over(wc)).filter(
        F.col("crank") <= shortlist
    )
    rescored = short.select(
        "query_id",
        "neighbor_id",
        cosine(F.col("qv"), F.col("cv")).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return rescored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def hyperplane_signature(vec, planes: list[list[float]]):
    """Sign-pattern bucket id for a vector under fixed random hyperplanes."""
    bits = []
    for i, p in enumerate(planes):
        arr = F.array(*[F.lit(float(x)) for x in p])
        bits.append(F.when(_dot(vec, arr) >= 0, F.lit(1 << i)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def _fixed_planes(dim: int, n_planes: int, seed: int = 7) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (LCG; no runtime RNG)."""
    state = seed
    planes = []
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (2**63)
            row.append((state / 2**63) * 2.0 - 1.0)
        planes.append(row)
    return planes


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int = 64,
    n_planes: int = 6,
    n_tables: int = 24,
) -> DataFrame:
    """Approximate top-k: random-hyperplane LSH with ``n_tables`` independent
    hash tables; union of same-bucket candidates is exactly re-scored.

    Recall < 1 by construction (use cosine_topk as ground truth); candidate
    volume ≈ N/2^n_planes per table — the sub-linear scale path.
    """
    tables = [
        _fixed_planes(dim, n_planes, seed=7 + 13 * t) for t in range(n_tables)
    ]

    def with_buckets(df: DataFrame, idname: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(idname),
            F.col(vec_col).alias(f"{idname}_v"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(t).alias("tbl"),
                            hyperplane_signature(F.col(vec_col), planes).alias("bucket"),
                        )
                        for t, planes in enumerate(tables)
                    ]
                )
            ).alias("bk"),
        ).select(idname, f"{idname}_v", "bk.tbl", "bk.bucket")

    qb = with_buckets(queries, "query_id")
    cb = with_buckets(_spread(corpus), "neighbor_id")
    # Dedup candidates on the ID PAIR alone — a multi-table hit would
    # otherwise shuffle both float vectors (~1 KB/row) through the distinct;
    # vectors re-attach afterwards (queries broadcast, corpus semi-pruned to
    # candidate ids). Same candidate set, ~100x narrower shuffle.
    cand = (
        F.broadcast(qb.drop("query_id_v"))
        .join(
            cb.drop("neighbor_id_v"),
            (qb["tbl"] == cb["tbl"])
            & (qb["bucket"] == cb["bucket"])
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .select("query_id", "neighbor_id")
        .distinct()
    )
    qv = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_id_v"))
    nv = corpus.join(
        cand.select(F.col("neighbor_id").alias("__cid")).distinct(),
        F.col(id_col) == F.col("__cid"),
        "left_semi",
    ).select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("neighbor_id_v"))
    scored = (
        cand.join(F.broadcast(qv), "query_id")
        .join(nv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("query_id_v"), F.col("neighbor_id_v")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


QUANT = 1_000_000_000_000.0  # 1e12 fixed-point quantization for exact sums


def cluster_centroids(
    df: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Per-label centroid components: (label, dim_idx, centroid).

    Components are quantized to integers (floor(x·1e12)) before summing, so
    the aggregation is exact and independent of partition order — bit-
    identical across engines and runs. (A float→decimal cast is NOT portable:
    Spark casts via the float's shortest string form, other engines via its
    binary value.)"""
    exploded = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("dim_idx", "x"),
    )
    q = F.floor(F.col("x").cast("double") * F.lit(QUANT)).cast("long")
    return (
        exploded.groupBy("label", "dim_idx")
        .agg(
            (
                F.sum(q).cast("double") / F.count(F.lit(1)).cast("double") / F.lit(QUANT)
            ).alias("centroid")
        )
    )


# --------------------------------------------------------------------------
# IVF: inverted-file ANN (k-means-lite coarse quantizer + cluster-pruned scan)
# --------------------------------------------------------------------------


def _sq_dist(vec, center: list[float]):
    arr = F.array(*[F.lit(float(x)) for x in center])
    return F.aggregate(
        F.zip_with(vec, arr, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def farthest_point_seeds(
    df: DataFrame, id_col: str, vec_col: str, k: int
) -> list[list[float]]:
    """Deterministic k-means++-style seeding: start at the lowest id, then
    greedily take the vector with the largest min-squared-distance to the
    chosen set (ties → lowest id). Guarantees one seed per well-separated
    cluster — the property that makes IVF recall robust; lowest-id or
    hash-spread seeding can drop whole clusters.

    Cost: one tiny (1-row) job per seed over ``df``. At 100 TB, pass a
    deterministic hash-mod sample (functions.text.deterministic_sample) as
    ``df`` — seeding quality needs only a sketch of the density, not the
    full corpus.
    """
    first = df.orderBy(F.col(id_col).asc()).limit(1).select(vec_col).collect()
    seeds = [[float(x) for x in first[0][0]]]
    state = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        _sq_dist(F.col(vec_col), seeds[0]).alias("dmin"),
    )
    for _ in range(k - 1):
        nxt = (
            state.orderBy(F.col("dmin").desc(), F.col("id").asc())
            .limit(1)
            .select("v")
            .collect()
        )
        c = [float(x) for x in nxt[0][0]]
        seeds.append(c)
        state = state.select(
            "id", "v", F.least(F.col("dmin"), _sq_dist(F.col("v"), c)).alias("dmin")
        )
    return seeds


def kmeans_lite(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    iters: int = 2,
    seeding: str = "id",
) -> tuple[list[list[float]], DataFrame]:
    """Deterministic coarse quantizer: seeds + ``iters`` Lloyd rounds.
    Assignment is a per-row argmin over k broadcast literal centroids (no
    shuffle); the update is one quantized-exact aggregation per round.
    Returns (centroids, assignment df (id, cid)).

    ``seeding``: "id" (default) takes the k lowest-id vectors — one cheap
    job, and measured best on id-interleaved corpora; "farthest" runs
    deterministic k-means++-style farthest-point seeding — use it when id
    order is correlated with the embedding space (e.g. ids assigned
    cluster-by-cluster), where "id" seeding would drop whole clusters.

    Scale: per round, one scan + one groupBy(k·dim) — centroids always fit on
    the driver (k·dim doubles), so this is the standard big-data k-means shape.
    """
    if seeding == "farthest":
        centroids = farthest_point_seeds(df, id_col, vec_col, k)
    else:
        seed_rows = df.orderBy(F.col(id_col).asc()).limit(k).select(vec_col).collect()
        centroids = [[float(x) for x in r[0]] for r in seed_rows]

    def assign(frame: DataFrame) -> DataFrame:
        choices = F.array(
            *[
                F.struct(_sq_dist(F.col(vec_col), c).alias("d"), F.lit(i).alias("cid"))
                for i, c in enumerate(centroids)
            ]
        )
        # array_min over (d, cid) structs = argmin with cid tie-break
        return frame.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            F.array_min(choices).getField("cid").alias("cid"),
        )

    assigned = None
    for _ in range(iters):
        assigned = assign(df)
        upd = (
            assigned.select("cid", F.posexplode("v").alias("dim_idx", "x"))
            .groupBy("cid", "dim_idx")
            .agg(
                (
                    F.sum(F.floor(F.col("x").cast("double") * F.lit(QUANT)).cast("long"))
                    .cast("double")
                    / F.count(F.lit(1)).cast("double")
                    / F.lit(QUANT)
                ).alias("c")
            )
            .collect()
        )
        new_centroids = [list(c) for c in centroids]
        for r in upd:
            new_centroids[r["cid"]][r["dim_idx"]] = r["c"]
        centroids = new_centroids
    return centroids, assign(df).select("id", "cid")


def ivf_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    kmeans_iters: int = 2,
    seeding: str = "id",
) -> DataFrame:
    """IVF ANN: partition the corpus into ``nlist`` cells with kmeans_lite,
    probe only each query's ``nprobe`` nearest cells, exact-rerank inside.

    Scans ~nprobe/nlist of the corpus per query — the classic recall/cost
    dial. On clustered corpora recall approaches 1 at small nprobe; on
    near-uniform data it degrades gracefully toward nprobe/nlist coverage.
    """
    centroids, assignment = kmeans_lite(
        corpus, id_col, vec_col, nlist, kmeans_iters, seeding
    )

    def probes(frame: DataFrame, idname: str) -> DataFrame:
        choices = F.array(
            *[
                F.struct(_sq_dist(F.col(vec_col), c).alias("d"), F.lit(i).alias("cid"))
                for i, c in enumerate(centroids)
            ]
        )
        return frame.select(
            F.col(id_col).alias(idname),
            F.col(vec_col).alias(f"{idname}_v"),
            F.explode(F.slice(F.array_sort(choices), 1, nprobe)).alias("p"),
        ).select(idname, f"{idname}_v", F.col("p.cid").alias("cid"))

    q = probes(queries, "query_id")
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nv")).join(
        assignment.withColumnRenamed("id", "neighbor_id"), "neighbor_id"
    )
    cand = (
        F.broadcast(q)
        .join(c, (q["cid"] == c["cid"]) & (F.col("query_id") != F.col("neighbor_id")))
        .select("query_id", "query_id_v", "neighbor_id", "nv")
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        cosine(F.col("query_id_v"), F.col("nv")).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# ---------------------------------------------------------------------------
# Persisted IVF index: build once, query many (the deployment shape of a
# 100 TB embedding store — the coarse quantizer is the expensive part and
# must not be recomputed per query batch).
# ---------------------------------------------------------------------------


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 16,
    kmeans_iters: int = 2,
    seeding: str = "id",
) -> None:
    """Train the coarse quantizer and materialize the index at ``path``:

    - ``path/centroids``: (cid, centroid array<double>) — nlist rows.
    - ``path/cells``: the corpus (id, vector) written ``partitionBy(cid)``.

    Partitioning the cells by cid is the point: a query batch that probes
    ``nprobe`` of ``nlist`` cells reads ONLY those directories — the scan
    cost drops to ~nprobe/nlist of the corpus at the FILE level, before a
    single row is decoded. Spark's dynamic partition pruning applies the
    probed-cid set to the scan when the probe side joins on the partition
    column."""
    spark = corpus.sparkSession
    centroids, assignment = kmeans_lite(corpus, id_col, vec_col, nlist, kmeans_iters, seeding)
    spark.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)],
        schema="cid int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    (
        corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .join(assignment, "id")
        # batch_id=-1 marks build-time rows; streaming ingest writes its own
        # batch_id sub-partitions at the same depth (mixed-depth partition
        # trees break discovery), keeping cid the pruning column
        .withColumn("batch_id", F.lit(-1))
        .write.mode("overwrite")
        .partitionBy("cid", "batch_id")
        .parquet(f"{path}/cells")
    )


def pq_train(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    ksub: int = 16,
    iters: int = 2,
) -> list[list[list[float]]]:
    """Product-quantization codebooks: split the vector into ``m`` equal
    subspaces and train one deterministic ``kmeans_lite`` quantizer of
    ``ksub`` centroids per subspace. Returns codebooks[m][ksub][dsub].

    PQ is the canonical billion-scale ANN compression (Jégou et al. 2011):
    a 64-dim float32 vector becomes ``m`` small codes (here 4 bytes — 64×
    smaller), and distances are answered from per-query lookup tables
    without touching the original vectors. Training cost is m small k-means
    over dsub-dim slices; determinism (id seeding + quantized-exact updates)
    makes the codebooks — and everything downstream — engine-reproducible.
    """
    dim = len(df.select(vec_col).first()[0])
    if dim % m != 0:
        # FAISS rejects this too: the subspace slices would silently ignore
        # the trailing dim % m dimensions, degrading ADC distances.
        raise ValueError(
            f"vector dim {dim} is not divisible by m={m}; "
            f"choose m from the divisors of {dim}"
        )
    dsub = dim // m
    books = []
    for j in range(m):
        sub = df.select(
            F.col(id_col),
            F.slice(F.col(vec_col), j * dsub + 1, dsub).alias("__sub"),
        )
        cents, _ = kmeans_lite(sub, id_col, "__sub", ksub, iters)
        books.append(cents)
    return books


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each vector as ``m`` codebook indices: per subspace, the
    argmin-distance centroid (lowest-cid tie-break, matching
    ``kmeans_lite``). Pure codegen expressions over broadcast literal
    centroids — one narrow scan, no shuffle, no Python. Returns (id, code
    array<int>)."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])

    def assign(j: int):
        sub = F.slice(F.col(vec_col), j * dsub + 1, dsub)
        choices = F.array(
            *[
                F.struct(_sq_dist(sub, c).alias("d"), F.lit(i).alias("cid"))
                for i, c in enumerate(codebooks[j])
            ]
        )
        return F.array_min(choices).getField("cid")

    return _spread(df).select(
        F.col(id_col).alias("id"),
        F.array(*[assign(j) for j in range(m)]).alias("code"),
    )


def _adc_lut_expr(vec, codebooks: list[list[list[float]]]):
    """The m×ksub ADC lookup table as a pure codegen expression over a query
    vector column: ``lut[j][i]`` = squared L2 between the query's j-th
    subspace slice and centroid i of codebook j. Bit-identical to the
    driver-side ``_py_sqdist`` loop — same subspace slicing, same
    left-fold accumulation order, same double arithmetic — so swapping the
    build between driver and executors never changes a distance.

    This is what makes BULK query sets scale: the LUT stage becomes a
    narrow projection over the queries scan, instead of serializing
    m·ksub·|queries| doubles through a driver collect loop. The codebooks
    enter as ONE nested literal array and the m×ksub distance folds as two
    nested ``transform`` lambdas — a constant-size expression tree whose
    Catalyst planning cost is independent of m·ksub (a tree of m·ksub
    separate fold expressions measured ~1.7 s of per-job planning at
    m·ksub=64)."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    books_lit = F.array(
        *[
            F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in book])
            for book in codebooks
        ]
    )
    return F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda j: F.transform(
            F.element_at(books_lit, j + 1),
            lambda c: F.aggregate(
                F.zip_with(
                    F.slice(vec, j * F.lit(dsub) + 1, dsub),
                    c,
                    lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
        ),
    )


def _py_sqdist(a: list[float], b: list[float]) -> float:
    """Driver-side mirror of ``_sq_dist``: left-fold sum of squared diffs in
    index order (Python float IS IEEE double, so this is bit-identical)."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + (x - y) * (x - y)
    return acc


def pq_adc_topk(
    codes: DataFrame,
    codebooks: list[list[list[float]]],
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: per query, precompute the
    m×ksub table of exact subspace distances to every centroid, broadcast
    it, and score each corpus code with ``m`` table lookups + one fold. The
    corpus scan reads ONLY the m-byte codes — at 100 TB the float vectors
    are never touched at query time. Returns (query_id, neighbor_id,
    adc_dist, rank), rank by ascending approximate squared L2, ties broken
    on neighbor id.

    The LUT build is DISTRIBUTED: a codegen projection over the queries
    DataFrame against broadcast-literal codebooks (``_adc_lut_expr``), so a
    bulk offline job scoring 10⁶ queries never serializes
    m·ksub·|queries| doubles through the driver. The broadcast of the
    finished LUTs bounds this path at ~10⁵ queries per job; beyond that,
    partition the query set and run per-partition jobs (each side stays
    broadcast-sized) — or use the IVF-PQ index path, whose
    ``broadcast_queries=False`` mode joins by cell with a sort-merge join
    and has no per-job ceiling (flat PQ has no join key to shuffle on:
    every query scores every code, so all-pairs broadcast is the only
    single-job plan).
    """
    lutdf = queries.select(
        F.col(id_col).alias("query_id"),
        _adc_lut_expr(F.col(vec_col), codebooks).alias("lut"),
    )
    scored = (
        F.broadcast(lutdf)
        .join(
            codes.select(F.col("id").alias("neighbor_id"), "code"),
            F.col("query_id") != F.col("neighbor_id"),
        )
        .select(
            "query_id",
            "neighbor_id",
            F.aggregate(
                F.zip_with("lut", "code", lambda l, c: F.element_at(l, c + 1)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("adc_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def pq_adc_rerank_topk(
    corpus: DataFrame,
    codes: DataFrame,
    codebooks: list[list[list[float]]],
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    shortlist: int = 50,
) -> DataFrame:
    """Two-stage PQ search — the production billion-scale shape: ADC over the
    compressed codes shortlists ``shortlist`` candidates per query (reading
    only m bytes/vector), then the ORIGINAL vectors of just those candidates
    are fetched (left-semi-pruned point lookups) and exactly re-ranked by
    true squared L2. Recall is set by the shortlist width, latency by the
    code scan; measured on the test corpus, shortlist=50 recovers ~0.8-0.9
    recall@5 where raw ADC@5 sits near 0.2. Returns (query_id, neighbor_id,
    l2_dist, rank)."""
    cand = pq_adc_topk(codes, codebooks, queries, id_col, vec_col, k=shortlist)
    ids = cand.select(F.col("neighbor_id").alias("__cid")).distinct()
    vecs = corpus.join(
        ids, F.col(id_col) == F.col("__cid"), "left_semi"
    ).select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nv"))
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    exact = (
        cand.select("query_id", "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .join(vecs, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.aggregate(
                F.zip_with(
                    "qv", "nv",
                    lambda x, y: (x.cast("double") - y.cast("double"))
                    * (x.cast("double") - y.cast("double")),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("l2_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("l2_dist").asc(), F.col("neighbor_id").asc()
    )
    return exact.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def ivf_index_upsert(
    spark,
    path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append an ingest batch to a saved IVF index WITHOUT retraining: each
    new vector is assigned to its nearest existing centroid (same argmin +
    lowest-cid tie-break as :func:`kmeans_lite`) and appended to that cell's
    partition directory. Queries via :func:`ivf_query_index` see the batch
    immediately.

    The 100 TB ingest path: per-batch cost is one narrow scan of the batch
    (the centroids are nlist·dim doubles, broadcast as literals) + an append
    of batch-sized parquet into the probed-partition layout — the existing
    corpus is never read or rewritten. Retrain (``build_ivf_index``) only
    when drift degrades recall; the standard IVF maintenance split.
    """
    cent_rows = spark.read.parquet(f"{path}/centroids").orderBy("cid").collect()
    centroids = [[float(x) for x in r["centroid"]] for r in cent_rows]
    choices = F.array(
        *[
            F.struct(_sq_dist(F.col(vec_col), c).alias("d"), F.lit(i).alias("cid"))
            for i, c in enumerate(centroids)
        ]
    )
    (
        new_vectors.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            F.array_min(choices).getField("cid").alias("cid"),
            F.lit(-1).alias("batch_id"),
        )
        .write.mode("append")
        .partitionBy("cid", "batch_id")
        .parquet(f"{path}/cells")
    )


def _delete_spark_path(spark, path: str) -> None:
    """Recursively delete ``path`` through the Hadoop filesystem that
    Spark's writers use for it (a missing path is a no-op)."""
    jvm = spark.sparkContext._jvm  # noqa: SLF001
    p = jvm.org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()).delete(p, True)  # noqa: SLF001


def build_ivfpq_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 16,
    kmeans_iters: int = 2,
    m: int = 4,
    ksub: int = 16,
    pq_iters: int = 1,
    residual: bool = False,
) -> None:
    """IVF-PQ index — the canonical billion-scale ANN layout (FAISS IVFPQ
    shape): a coarse quantizer assigns each vector to one of ``nlist`` cells
    (file-level pruning at query time), and a product quantizer compresses
    each vector to ``m`` codes (the in-cell scan reads bytes, not floats).
    Materializes:

    - ``path/centroids``: coarse cell centroids (nlist rows).
    - ``path/codebooks``: (sub, cid, centroid) — m·ksub PQ centroids.
    - ``path/cells``: (id, v, code) partitioned by cell id — ``v`` kept for
      optional exact re-rank of shortlists; a pure-PQ deployment can drop it.
    - ``path/meta``: the residual flag, so the query side self-configures.
    - ``path/header``: the three above in one file, written last.

    ``residual=False`` (IVF-Flat-PQ) encodes raw vectors: the ADC table is
    query-global, one LUT serves every probed cell. ``residual=True`` is the
    full FAISS IVFPQ formulation: codes quantize ``v − centroid(cell)``;
    residuals have far smaller variance than raw vectors, so the same code
    budget buys materially better distance resolution — at the cost of one
    LUT per (query, probed cell). Both stay deterministic/replayable.
    """
    spark = corpus.sparkSession
    centroids, assignment = kmeans_lite(
        corpus, id_col, vec_col, nlist, kmeans_iters
    )
    base = (
        corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .join(assignment.withColumnRenamed("cid", "cell"), "id")
    )
    if residual:
        cent_arr = F.array(
            *[F.array(*[F.lit(float(x)) for x in c]) for c in centroids]
        )
        enc_input = base.select(
            "id",
            F.zip_with(
                F.col("v"),
                F.element_at(cent_arr, F.col("cell") + 1),
                lambda x, y: x.cast("double") - y,
            ).alias("__enc"),
        )
    else:
        enc_input = base.select("id", F.col("v").alias("__enc"))
    books = pq_train(enc_input, "id", "__enc", m, ksub, pq_iters)
    # Queries prefer the composite header over the per-artifact files, so
    # a header left over from the previous build must not survive into a
    # rebuild that dies part-way: drop it before rewriting anything, and
    # publish the new one only after every other artifact is written.
    _delete_spark_path(spark, f"{path}/header")
    spark.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)],
        schema="cid int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    spark.createDataFrame(
        [(j, i, c) for j, book in enumerate(books) for i, c in enumerate(book)],
        schema="sub int, cid int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/codebooks")
    spark.createDataFrame(
        [(bool(residual),)], schema="residual boolean"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")
    codes = pq_encode(enc_input, books, "id", "__enc")
    (
        base
        .join(codes.withColumnRenamed("id", "__cid2"), F.col("id") == F.col("__cid2"))
        .select("id", "v", "code", "cell")
        .withColumn("batch_id", F.lit(-1))
        .write.mode("overwrite")
        .partitionBy("cell", "batch_id")
        .parquet(f"{path}/cells")
    )
    # Composite serving header — centroids + codebooks + meta in ONE
    # small parquet, so the query/upsert paths pay one driver read instead
    # of three (each tiny read is a full job: listing + footer + collect).
    # The three individual files above stay authoritative for layout
    # detection (saved_index_kind) and for pre-header indexes; readers fall
    # back to them when the header is absent.
    spark.createDataFrame(
        [("centroid", None, i, c, None) for i, c in enumerate(centroids)]
        + [
            ("codebook", j, i, c, None)
            for j, book in enumerate(books)
            for i, c in enumerate(book)
        ]
        + [("meta", None, None, None, bool(residual))],
        schema="kind string, sub int, cid int, centroid array<double>, "
        "residual boolean",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/header")


def saved_index_kind(spark, path: str) -> str:
    """Detect the layout of a saved ANN index: ``"ivfpq"`` when the PQ
    codebooks are present, else ``"ivf"``. Codebooks alone decide — IVF
    indexes never have them, and a pre-``meta`` IVF-PQ index (still
    queryable via ivfpq_query_index's residual fallback) must NOT be
    misrouted to the IVF path. Routing an upsert by layout instead of a
    user-supplied flag prevents appending code-less (cid, batch_id)
    rows into an IVF-PQ index's (cell, batch_id) cells directory, which
    would corrupt partition discovery for every later query."""
    def _exists(sub: str) -> bool:
        from pyspark.errors import AnalysisException  # noqa: PLC0415

        try:
            spark.read.parquet(f"{path}/{sub}").schema
            return True
        except AnalysisException:
            # only a missing path means "artifact absent" — a transient
            # read error must propagate, not silently reclassify the index
            return False

    if not _exists("centroids"):
        raise ValueError(f"not a saved ANN index (no centroids): {path}")
    return "ivfpq" if _exists("codebooks") else "ivf"


def ivfpq_index_upsert(
    spark,
    path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append an ingest batch to a saved IVF-PQ index WITHOUT retraining:
    each new vector is assigned to its nearest existing coarse centroid,
    PQ-encoded with the EXISTING codebooks (residual-aware, per the index's
    saved meta flag), and appended to its cell partition. Same 100 TB
    contract as :func:`ivf_index_upsert`: one narrow batch scan against
    broadcast-literal centroids/codebooks, batch-sized append, the corpus
    is never read or rewritten. Retrain when codebook drift degrades
    recall — the standard FAISS maintenance split."""
    centroids, books, residual = _load_ivfpq_constants(spark, path)
    choices = F.array(
        *[
            F.struct(_sq_dist(F.col(vec_col), c).alias("d"), F.lit(i).alias("cid"))
            for i, c in enumerate(centroids)
        ]
    )
    assigned = new_vectors.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.array_min(choices).getField("cid").alias("cell"),
    )
    if residual:
        cent_arr = F.array(
            *[F.array(*[F.lit(float(x)) for x in c]) for c in centroids]
        )
        assigned = assigned.withColumn(
            "__enc",
            F.zip_with(
                F.col("v"),
                F.element_at(cent_arr, F.col("cell") + 1),
                lambda x, y: x.cast("double") - y,
            ),
        )
    else:
        assigned = assigned.withColumn("__enc", F.col("v"))
    codes = pq_encode(assigned, books, "id", "__enc")
    (
        assigned.join(
            codes.withColumnRenamed("id", "__cid2"), F.col("id") == F.col("__cid2")
        )
        .select("id", "v", "code", "cell")
        .withColumn("batch_id", F.lit(-1))
        .write.mode("append")
        .partitionBy("cell", "batch_id")
        .parquet(f"{path}/cells")
    )


# above this many touched (cell, batch_id) partitions the delete's
# membership predicate switches from literal equalities (statically pruned)
# to a broadcast pairs join (bounded codegen) — see ann_index_delete
_HIT_PAIR_LITERAL_MAX = 64


def _touched_partitions(spark, cells: DataFrame, part_col: str, hit_pairs):
    """Restrict ``cells`` to the (part_col, batch_id) partitions in
    ``hit_pairs`` — two regimes. RTBF-sized requests (a few touched
    partitions): literal equalities, statically pruned at the scan, no
    join. Mass deletions (~10^3-10^4 touched partitions): an OR-chain of
    literals explodes the codegen expression tree — the same
    giant-expression anti-pattern the drop set itself avoids (the
    reference batches large IN-lists for the same reason,
    /root/reference/src/lib/client.js:1538) — so membership becomes a
    broadcast semi-join on a pairs frame, symmetric with the drop-set
    handling."""
    if len(hit_pairs) <= _HIT_PAIR_LITERAL_MAX:
        from functools import reduce  # noqa: PLC0415

        hit_pred = reduce(
            lambda a, b: a | b,
            [
                (F.col(part_col) == F.lit(c)) & (F.col("batch_id") == F.lit(b))
                for c, b in hit_pairs
            ],
        )
        return cells.filter(hit_pred)
    from ..localframe import local_df  # noqa: PLC0415

    hit_df = local_df(spark, list(hit_pairs), [f"__hp_{part_col}", "__hp_batch"])
    return cells.join(
        F.broadcast(hit_df),
        (F.col(part_col) == F.col(f"__hp_{part_col}"))
        & (F.col("batch_id") == F.col("__hp_batch")),
        "left_semi",
    )


def ann_index_delete(
    spark,
    path: str,
    ids,
    fs=None,
) -> int:
    """Delete vectors from a saved IVF or IVF-PQ index by id —
    right-to-be-forgotten for the embedding side, the symmetric operation
    to :func:`~..functions.pipeline.retract_from_state` on the text side.
    Returns the number of vectors removed.

    O(touched cells), not O(index): one column-pruned scan finds the
    ``(cell, batch_id)`` partitions holding victims (ids are not the
    partition key, so membership cannot be known without looking — but
    the probe reads only the id column and the partition values), then
    ONLY those partitions are rewritten via dynamic partition overwrite;
    every other cell directory is left byte-identical. A partition whose
    every vector is deleted is removed outright (dynamic overwrite never
    rewrites a partition absent from the written frame — leaving it would
    resurrect the victims).

    ``ids`` is a Python list (the typical RTBF request) or a
    single-column DataFrame for mass deletions; either way the drop set
    joins broadcast, never as a giant ``isin`` expression. The survivor
    rows are localCheckpoint-ed before the overwrite (Spark refuses to
    overwrite a path it is still reading from); they are touched-cells
    sized, not index-sized, by construction.

    Deletion is index maintenance like :func:`ivf_index_upsert` — plain
    directory operations, no committer protocol (the index is a derived
    artifact, rebuildable from the corpus; pin the CORPUS for
    reproducibility). ``fs`` (default ``LocalFS``) removes emptied
    partition directories; every Spark read/write is qualified through
    ``fs.spark_path`` so object-store bindings see the same tree the
    driver-side deletes operate on."""
    from ..sinks.fs import LocalFS  # noqa: PLC0415

    if fs is None:
        fs = LocalFS()
    if not isinstance(ids, DataFrame) and not ids:
        return 0
    kind = saved_index_kind(spark, fs.spark_path(path))
    part_col = "cell" if kind == "ivfpq" else "cid"
    cells = spark.read.parquet(fs.spark_path(f"{path}/cells"))
    if isinstance(ids, DataFrame):
        drop = ids.select(F.col(ids.columns[0]).alias("__did")).distinct()
    else:
        from ..localframe import local_df  # noqa: PLC0415

        drop = local_df(spark, [(i,) for i in ids], ["__did"]).distinct()
    # one column-pruned probe: which partitions hold victims, and how many
    hits = (
        cells.join(
            F.broadcast(drop), cells["id"] == F.col("__did"), "left_semi"
        )
        .groupBy(part_col, "batch_id")
        .count()
        .collect()
    )
    if not hits:
        return 0
    n_victims = sum(r["count"] for r in hits)
    hit_pairs = [(r[part_col], r["batch_id"]) for r in hits]
    survivors = (
        _touched_partitions(spark, cells, part_col, hit_pairs)
        .join(F.broadcast(drop), cells["id"] == F.col("__did"), "left_anti")
        .localCheckpoint(eager=True)
    )
    kept_pairs = {
        (r[part_col], r["batch_id"])
        for r in survivors.select(part_col, "batch_id").distinct().collect()
    }
    mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        if kept_pairs:
            survivors.write.mode("overwrite").partitionBy(
                part_col, "batch_id"
            ).parquet(fs.spark_path(f"{path}/cells"))
    finally:
        if mode is None:
            spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
        else:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", mode)
    for c, b in hit_pairs:
        if (c, b) not in kept_pairs:
            fs.rmtree(f"{path}/cells/{part_col}={c}/batch_id={b}")
            parent = f"{path}/cells/{part_col}={c}"
            if not fs.listdir(parent):
                fs.rmtree(parent)
    return n_victims


def _read_meta_residual(spark, path: str) -> bool:
    """The index's residual flag; a MISSING meta file means a pre-meta
    index (raw-vector encoded) — but only a missing path may fall back.
    Any other failure (transient store error, corrupt footer) propagates:
    silently assuming residual=False against residual-trained codebooks
    would encode permanently wrong codes on upsert and return bad
    neighbors on query."""
    from pyspark.errors import AnalysisException  # noqa: PLC0415

    try:
        return bool(spark.read.parquet(f"{path}/meta").first()["residual"])
    except AnalysisException:
        return False


def _load_codebooks(spark, path: str) -> list[list[list[float]]]:
    rows = spark.read.parquet(f"{path}/codebooks").orderBy("sub", "cid").collect()
    m = max(r["sub"] for r in rows) + 1
    books: list[list[list[float]]] = [[] for _ in range(m)]
    for r in rows:
        books[r["sub"]].append([float(x) for x in r["centroid"]])
    return books


def _load_ivfpq_constants(
    spark, path: str
) -> tuple[list[list[float]], list[list[list[float]]], bool]:
    """(centroids, codebooks, residual) for a saved IVF-PQ index in ONE
    driver read when the composite ``header`` exists (r13; written by
    :func:`build_ivfpq_index`), else the three per-artifact reads —
    pre-header indexes stay fully queryable. The header is sorted on the
    driver, so the values are identical to the per-artifact orderBy path."""
    from pyspark.errors import AnalysisException  # noqa: PLC0415

    try:
        rows = spark.read.parquet(f"{path}/header").collect()
    except AnalysisException:
        cent_rows = (
            spark.read.parquet(f"{path}/centroids").orderBy("cid").collect()
        )
        return (
            [[float(x) for x in r["centroid"]] for r in cent_rows],
            _load_codebooks(spark, path),
            _read_meta_residual(spark, path),
        )
    cent = sorted(
        (r for r in rows if r["kind"] == "centroid"), key=lambda r: r["cid"]
    )
    centroids = [[float(x) for x in r["centroid"]] for r in cent]
    book_rows = sorted(
        (r for r in rows if r["kind"] == "codebook"),
        key=lambda r: (r["sub"], r["cid"]),
    )
    m = max(r["sub"] for r in book_rows) + 1
    books: list[list[list[float]]] = [[] for _ in range(m)]
    for r in book_rows:
        books[r["sub"]].append([float(x) for x in r["centroid"]])
    residual = any(bool(r["residual"]) for r in rows if r["kind"] == "meta")
    return centroids, books, residual


def ivfpq_auto_params(nlist: int, k: int) -> tuple[int, int]:
    """Recall-floor-holding (nprobe, rerank_shortlist) defaults as functions
    of the index size and requested k — the auto-tuning knob so callers who
    don't hand-tune still land above the guarded floor:

    - ``nprobe = max(4, nlist/4)``: probing a quarter of the cells keeps the
      probability that a true neighbor's cell is missed low even when the
      coarse quantizer splits a natural cluster across cells; never below 4
      so tiny indexes don't degenerate to single-cell search.
    - ``shortlist = max(10·k, 50)``: the exact re-rank window; 10× the
      requested k absorbs ADC quantization noise (measured: rerank-50 at
      k=5 holds recall@5 ≈ 0.78-0.90 where raw ADC@5 sits near 0.2; see
      tools/ann_recall_probe.py and the regression floor in
      tests/test_ivf_index.py).

    The floor is machine-guarded: test_ivfpq_auto_recall_floor asserts
    recall@5 ≥ 0.75 with exactly these parameters, so future changes to
    either the index layout or this rule can't silently degrade recall.
    """
    return max(4, (nlist + 3) // 4), max(10 * k, 50)


def ivfpq_query_index(
    spark,
    path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int | None = 4,
    rerank_shortlist: int | str | None = None,
    broadcast_queries: bool = True,
) -> DataFrame:
    """ANN top-k against a saved IVF-PQ index: each query probes its
    ``nprobe`` nearest cells (dynamic partition pruning — only those
    directories are read) and scores ONLY the m-byte codes inside them via
    the query's ADC lookup table. The double win at 100 TB: the scan touches
    nprobe/nlist of the corpus, and what it touches is 10-100× smaller than
    the float vectors. Returns (query_id, neighbor_id, adc_dist, rank).

    ``broadcast_queries`` picks the physical join strategy, output-identical
    either way. True (serving shape, default): the per-query LUTs broadcast
    to every executor — one pass over the probed cells, no shuffle of the
    corpus side; bounded at ~10⁵ queries by the m·ksub-doubles-per-query
    broadcast. False (bulk offline shape): sort-merge join keyed on the
    probed ``cell`` — BOTH sides shuffle-partition by cell, so 10⁶-10⁸
    query jobs run without any driver- or broadcast-side state; parallelism
    is nlist, which at production index sizes (2¹²-2¹⁶ cells) saturates any
    cluster. Dynamic cell pruning is lost, but a bulk job probes
    essentially every cell anyway.

    Residual indexes (``build_ivfpq_index(residual=True)``) are detected
    from the saved meta: the LUT is then built per (query, probed cell)
    against the query's residual to that cell's centroid — nprobe·m·ksub
    doubles per query, still driver-trivial.

    ``rerank_shortlist=R``: the full production query path — the ADC pass
    shortlists R candidates per query from the codes alone, then ONLY those
    rows' stored float vectors are fetched (point lookups into the probed
    cells) and exactly re-ranked by true squared L2. Output becomes
    (query_id, neighbor_id, l2_dist, rank); recall is set by R, scan cost
    still by the code-only ADC pass.

    ``nprobe=None`` and/or ``rerank_shortlist="auto"`` select the
    recall-floor-holding defaults from :func:`ivfpq_auto_params`."""
    centroids, books, residual = _load_ivfpq_constants(spark, path)
    nlist = len(centroids)
    auto_nprobe, auto_shortlist = ivfpq_auto_params(nlist, k)
    if nprobe is None:
        nprobe = auto_nprobe
    if rerank_shortlist == "auto":
        rerank_shortlist = auto_shortlist
    # Probe selection AND LUTs are pure codegen projections over the queries
    # DataFrame against broadcast-literal centroids/codebooks — a bulk job
    # scoring 10⁶ queries never collects them to the driver, and the
    # expressions fold in the exact order the DuckDB oracle does, so the
    # distances are bit-identical to the former driver-side build.
    choices = F.array(
        *[
            F.struct(_sq_dist(F.col(vec_col), c).alias("d"), F.lit(i).alias("cid"))
            for i, c in enumerate(centroids)
        ]
    )
    probe_list = F.slice(F.array_sort(choices), 1, min(nprobe, nlist))
    if residual:
        # per (query, probed cell) LUT against the query's residual to that
        # cell's centroid — nprobe·m·ksub doubles per query, executor-side
        cent_arr = F.array(
            *[F.array(*[F.lit(float(x)) for x in c]) for c in centroids]
        )
        probed = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("__qv"),
            F.explode(probe_list).alias("p"),
        ).select("query_id", "__qv", F.col("p.cid").alias("cell"))
        qr = F.zip_with(
            F.col("__qv"),
            F.element_at(cent_arr, F.col("cell") + 1),
            lambda x, y: x.cast("double") - y,
        )
        probes = probed.select(
            "query_id", "cell", _adc_lut_expr(qr, books).alias("lut")
        )
    else:
        # raw-vector codes: one query-global LUT serves every probed cell,
        # so it is computed once per query BEFORE the probe explode
        probes = queries.select(
            F.col(id_col).alias("query_id"),
            _adc_lut_expr(F.col(vec_col), books).alias("lut"),
            F.explode(probe_list).alias("p"),
        ).select("query_id", F.col("p.cid").alias("cell"), "lut")
    cells = spark.read.parquet(f"{path}/cells").select(
        F.col("id").alias("neighbor_id"), "code", "cell"
    )
    probe_side = F.broadcast(probes) if broadcast_queries else probes.hint("merge")
    cand = probe_side.join(
        cells,
        (probe_side["cell"] == cells["cell"])
        & (F.col("query_id") != F.col("neighbor_id")),
    )
    # m is known at plan time (the codebook count), so the ADC sum is
    # UNROLLED into m direct element_at lookups instead of a zip_with that
    # allocates an m-element intermediate array per candidate row — the
    # hot expression of the bulk path (|queries|·nprobe/nlist·|corpus|
    # rows). The fold starts from the same 0.0 and adds in the same
    # left-to-right order, so the doubles are bit-identical.
    m_subs = len(books)
    adc = F.lit(0.0)
    for i in range(m_subs):
        adc = adc + F.element_at(
            F.element_at(F.col("lut"), i + 1),
            F.element_at(F.col("code"), i + 1) + F.lit(1),
        )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        adc.alias("adc_dist"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    ranked = scored.withColumn("rank", F.row_number().over(w))
    if rerank_shortlist is None:
        return ranked.filter(F.col("rank") <= k)
    short = ranked.filter(F.col("rank") <= rerank_shortlist).select(
        "query_id", "neighbor_id"
    )
    ids = short.select(F.col("neighbor_id").alias("__sid")).distinct()
    vecs = (
        spark.read.parquet(f"{path}/cells")
        .join(ids, F.col("id") == F.col("__sid"), "left_semi")
        .select(F.col("id").alias("neighbor_id"), F.col("v").alias("nv"))
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    qv_side = F.broadcast(qv) if broadcast_queries else qv.hint("merge")
    exact = (
        short.join(qv_side, "query_id")
        .join(vecs, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.aggregate(
                F.zip_with(
                    "qv", "nv",
                    lambda x, y: (x.cast("double") - y.cast("double"))
                    * (x.cast("double") - y.cast("double")),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("l2_dist"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("l2_dist").asc(), F.col("neighbor_id").asc()
    )
    return exact.withColumn("rank", F.row_number().over(w2)).filter(
        F.col("rank") <= k
    )


def ivf_query_index(
    spark,
    path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 4,
) -> DataFrame:
    """ANN top-k against a saved IVF index (see :func:`build_ivf_index`).

    Centroids load driver-side (nlist·dim doubles — tiny); each query probes
    its ``nprobe`` nearest cells and exact-reranks by cosine inside them.
    Identical output to :func:`ivf_ann_topk` at equal parameters — the index
    round-trip stores the original float vectors bit-exactly."""
    cent_rows = spark.read.parquet(f"{path}/centroids").orderBy("cid").collect()
    centroids = [[float(x) for x in r["centroid"]] for r in cent_rows]
    nlist = len(centroids)
    choices = F.array(
        *[
            F.struct(_sq_dist(F.col(vec_col), c).alias("d"), F.lit(i).alias("cid"))
            for i, c in enumerate(centroids)
        ]
    )
    probes = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.explode(F.slice(F.array_sort(choices), 1, min(nprobe, nlist))).alias("p"),
    ).select("query_id", "qv", F.col("p.cid").alias("cid"))
    cells = spark.read.parquet(f"{path}/cells").withColumnRenamed("id", "neighbor_id")
    cand = F.broadcast(probes).join(
        cells, (probes["cid"] == cells["cid"]) & (F.col("query_id") != F.col("neighbor_id"))
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        cosine(F.col("qv"), F.col("v")).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
