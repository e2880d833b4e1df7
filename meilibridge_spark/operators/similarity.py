"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force exact cosine top-k — the correctness
  baseline. Dot products via F.zip_with + F.aggregate (JVM-side fold,
  no Python); queries are broadcast, so the plan is a single scan of
  the embeddings table regardless of query count.
- ``sign_lsh_buckets`` + ``lsh_ann_topk``: the scale path — bucket
  vectors by the sign pattern of the first n_bits coordinates
  (axis-aligned hyperplane LSH; deterministic and oracle-expressible),
  then do exact cosine only within the probe buckets. At 100 TB the
  bucket join replaces the full scan; recall is traded via n_bits.
- ``ivf_centroids`` / ``ivf_assign`` / ``ivf_topk``: the IVF variant —
  a deterministic sampled-centroid coarse quantizer partitions vectors
  into inverted lists; queries probe the n_probe nearest lists and
  score exactly within them. Lists are the natural partition key for
  the stored layout at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from meilibridge_spark.session import local_frame


def _dot(a: "F.Column", b: "F.Column") -> "F.Column":
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: "F.Column") -> "F.Column":
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x)
    )


# Zero-norm semantics (shared by every operator here): cosine against a
# zero vector is undefined. Under ANSI mode (Spark 4 default) a naive
# division would THROW DIVIDE_BY_ZERO on the first zero vector, so
# ``_cos`` guards explicitly: NULL when either norm is 0, and every
# top-k path filters NULL scores — zero-norm vectors never appear as
# hits in the exact OR the ANN paths (tested). ivf_assign additionally
# routes them to an explicit sentinel list instead of letting max_by
# pick an arbitrary one.


def _cos(a: "F.Column", b: "F.Column") -> "F.Column":
    na, nb = _norm(a), _norm(b)
    return F.when((na > 0) & (nb > 0), _dot(a, b) / (na * nb))


# Corpus-scan x query cosine sites precompute each side's norm ONCE
# (one aggregate per ROW) instead of letting _cos recompute both norms
# per (row, query) PAIR — measured ~2.8x less higher-order-function
# work on a 150k x 8 pass, bit-identical values (the dot and each norm
# keep their exact arithmetic; only WHERE the norm is computed moves).


def _with_norm(df: DataFrame, vec_col: str, out: str = "_nv") -> DataFrame:
    return df.withColumn(out, _norm(F.col(vec_col)))


def _cos_pre(
    a: "F.Column", b: "F.Column", na: "F.Column", nb: "F.Column"
) -> "F.Column":
    """_cos with both norms precomputed (NULL when either is 0)."""
    return F.when((na > 0) & (nb > 0), _dot(a, b) / (na * nb))


def cosine_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact brute-force cosine top-k per query vector.

    -> (query_id, vec_id, cos) with rank <= k, excluding self-matches
    when ids collide. Broadcast the (small) query side; one pass over
    the embeddings. ``exclude_self=False`` skips the id comparison —
    required when query ids are NOT corpus ids (e.g. multi-search's
    string request ids: an ANSI-mode string-vs-long compare would
    throw, and a search query has no self in the corpus anyway)."""
    scored = _with_norm(emb, vec_col).crossJoin(
        F.broadcast(
            _with_norm(
                queries.select(query_id_col, query_vec_col),
                query_vec_col,
                "_nq",
            )
        )
    ).select(
        F.col(query_id_col),
        F.col(id_col),
        _cos_pre(
            F.col(vec_col),
            F.col(query_vec_col),
            F.col("_nv"),
            F.col("_nq"),
        ).alias("cos"),
    )
    scored = scored.filter(
        F.col("cos").isNotNull()
        & (
            F.lit(True)
            if not exclude_self
            else (F.col(query_id_col) != F.col(id_col))
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, F.round("cos", 6).alias("cos"), "rank")
    )


def binary_quantize(
    emb: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits_col: str = "bits",
    keep: "tuple[str, ...]" = (),
) -> DataFrame:
    """Meilisearch v1.10 ``binaryQuantized`` embedder option: every
    dimension quantized to its SIGN bit (``> 0`` -> 1), packed 32 dims
    per long word -> ``(id, bits: array<long>)`` — float32 vectors
    shrink ~32x, and Hamming scoring over the packed words replaces
    the float dot product (:func:`binary_ann_topk`). The endpoint's
    accuracy/memory knob for large indexes, applied at indexing time
    exactly like Meilisearch (the setting change triggers reindex).

    Pure Catalyst — ``2^j`` terms for ``j <= 31`` are exact in double
    (the reason for 32-bit words: summing distinct powers stays well
    under the 53-bit mantissa), summed per word and cast to long; no
    UDF, no shuffle (a projection over the embeddings scan).
    ``keep`` forwards extra columns (e.g. a centroid assignment)."""
    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")
    words = []
    for w in range((dim + 31) // 32):
        lo = w * 32
        width = min(32, dim - lo)
        words.append(
            F.aggregate(
                F.zip_with(
                    F.slice(F.col(vec_col), lo + 1, width),
                    F.sequence(F.lit(0), F.lit(width - 1)),
                    lambda v, j: F.when(
                        v > 0, F.pow(F.lit(2.0), j.cast("double"))
                    ).otherwise(F.lit(0.0)),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).cast("long")
        )
    return emb.select(
        F.col(id_col), F.array(*words).alias(bits_col), *keep
    )


def binary_ann_topk(
    emb: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    rerank_pool: "int | None" = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Top-k nearest neighbors under BINARY-QUANTIZED scoring
    (Meilisearch ``binaryQuantized: true``): both sides sign-quantized
    (:func:`binary_quantize`), similarity = the +/-1 dot product
    ``(dim - 2*hamming) / dim`` — ranking by it is ranking by Hamming
    distance ascending, computed JVM-side as ``bit_count(xor)`` over
    the packed words (whole-stage codegen, no UDF, ~32x less data
    scanned than the float path).

    -> (query_id, vec_id, score, rank), self-matches excluded, ties on
    equal Hamming broken by id asc.

    ``rerank_pool=R``: the standard two-stage recipe — the cheap bit
    scan keeps the top R candidates per query, then EXACT cosine over
    the original float vectors re-ranks those R down to k (one
    semi-joined pass over the candidates only). At 100 TB the bit scan
    touches 1/32nd of the bytes and the float reads are k-bounded."""
    if rerank_pool is not None and rerank_pool < k:
        raise ValueError(
            f"rerank_pool must be >= k, got {rerank_pool} < {k}"
        )
    qb = binary_quantize(
        queries,
        dim,
        id_col=query_id_col,
        vec_col=query_vec_col,
        bits_col="_qbits",
    )
    eb = binary_quantize(emb, dim, id_col=id_col, vec_col=vec_col)
    hamming = F.aggregate(
        F.zip_with(
            F.col("bits"),
            F.col("_qbits"),
            lambda a, b: F.bit_count(a.bitwiseXOR(b)).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = (
        eb.crossJoin(F.broadcast(qb))
        .select(
            F.col(query_id_col),
            F.col(id_col),
            hamming.alias("_h"),
        )
        .filter(F.col(query_id_col) != F.col(id_col))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("_h").asc(), F.col(id_col).asc()
    )
    pool = rerank_pool if rerank_pool is not None else k
    top = scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= pool
    )
    if rerank_pool is None:
        return top.select(
            query_id_col,
            id_col,
            F.round(
                (F.lit(dim) - 2 * F.col("_h")) / F.lit(float(dim)), 6
            ).alias("score"),
            "rank",
        )
    # exact-cosine rerank over the R bit-scan survivors only
    exact = (
        top.select(query_id_col, id_col)
        .join(emb.select(id_col, vec_col), id_col)
        .join(
            F.broadcast(queries.select(query_id_col, query_vec_col)),
            query_id_col,
        )
        .select(
            query_id_col,
            id_col,
            _cos(F.col(vec_col), F.col(query_vec_col)).alias("cos"),
        )
        .filter(F.col("cos").isNotNull())
    )
    w2 = Window.partitionBy(query_id_col).orderBy(
        F.col("cos").desc(), F.col(id_col).asc()
    )
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col, id_col, F.round("cos", 6).alias("cos"), "rank"
        )
    )


def sign_lsh_buckets(
    emb: DataFrame,
    n_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """bucket = sum_j 2^j * [v[j] > 0] over the first n_bits dims."""
    bucket = F.aggregate(
        F.zip_with(
            F.slice(F.col(vec_col), 1, n_bits),
            F.sequence(F.lit(0), F.lit(n_bits - 1)),
            lambda v, j: F.when(v > 0, F.pow(F.lit(2.0), j.cast("double"))).otherwise(
                F.lit(0.0)
            ),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    ).cast("long")
    return emb.select(F.col(id_col), bucket.alias("bucket"))


def lsh_ann_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Approximate cosine top-k: exact scoring restricted to vectors in
    the query's sign-LSH bucket (single-probe). Same output shape as
    cosine_topk; recall < 1 by design — the bench compares both."""
    emb_b = emb.join(sign_lsh_buckets(emb, n_bits, id_col, vec_col), id_col)
    q_b = queries.select(
        query_id_col,
        query_vec_col,
    ).join(
        sign_lsh_buckets(
            queries.select(
                F.col(query_id_col).alias("vec_id"),
                F.col(query_vec_col).alias("embedding"),
            ),
            n_bits,
        ).select(F.col("vec_id").alias(query_id_col), "bucket"),
        query_id_col,
    )
    scored = _with_norm(emb_b, vec_col).join(
        F.broadcast(_with_norm(q_b, query_vec_col, "_nq")), "bucket"
    ).select(
        F.col(query_id_col),
        F.col(id_col),
        _cos_pre(
            F.col(vec_col),
            F.col(query_vec_col),
            F.col("_nv"),
            F.col("_nq"),
        ).alias("cos"),
    )
    scored = scored.filter(
        (F.col(query_id_col) != F.col(id_col)) & F.col("cos").isNotNull()
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, F.round("cos", 6).alias("cos"), "rank")
    )


def ivf_centroids(
    emb: DataFrame,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic sampled-centroid coarse quantizer: the
    ``n_centroids`` lowest-id vectors serve as centroids -> (centroid_id,
    centroid_vec). No iterative k-means on purpose — sampled centroids
    are a legitimate IVF quantizer, deterministic, and exactly
    oracle-expressible; swap in any trained centroid table with the
    same shape and the operators below are unchanged. The orderBy+limit
    compiles to a bounded TakeOrdered, not a global sort."""
    return (
        emb.orderBy(id_col)
        .limit(n_centroids)
        .select(
            F.col(id_col).alias("centroid_id"),
            F.col(vec_col).alias("centroid_vec"),
        )
    )


def ivf_assign(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF list assignment: each vector -> its nearest centroid by
    cosine (ties broken by centroid_id) -> (vec_id, centroid_id).
    Centroids are broadcast and the argmax is a max_by AGGREGATION
    (map-side combinable), not a row_number window — the n_centroids-x
    row expansion never shuffles.

    Zero-norm vectors (cosine undefined against every centroid) are
    assigned the sentinel list ``centroid_id = -1`` explicitly — no
    query ever probes it, matching the module-wide rule that zero-norm
    vectors are never hits."""
    nz = _norm(F.col(vec_col)) > 0
    scored = (
        _with_norm(emb.filter(nz), vec_col)
        .crossJoin(F.broadcast(_with_norm(centroids, "centroid_vec", "_nc")))
        .select(
            F.col(id_col),
            F.col("centroid_id"),
            _cos_pre(
                F.col(vec_col),
                F.col("centroid_vec"),
                F.col("_nv"),
                F.col("_nc"),
            ).alias("cos"),
        )
    )
    # lexicographic max over (cos, -centroid_id) = highest cosine,
    # lowest centroid_id on ties
    assigned = scored.groupBy(id_col).agg(
        F.max_by(
            "centroid_id", F.struct(F.col("cos"), (-F.col("centroid_id")))
        ).alias("centroid_id")
    )
    zeros = emb.filter(~nz).select(
        F.col(id_col), F.lit(-1).cast("long").alias("centroid_id")
    )
    return assigned.unionByName(zeros)


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    centroids: "DataFrame | None" = None,
    assigned: "DataFrame | None" = None,
    round_cos: bool = True,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF approximate cosine top-k: exact scoring restricted to the
    vectors whose IVF list is among the query's ``n_probe`` closest
    centroids. Same output shape as cosine_topk; recall traded via
    n_probe/n_centroids (ANN ⊆ exact, tested). At scale the
    centroid-id equi-join replaces the full scan — the inverted lists
    are the partition key. ``round_cos=False`` returns the unrounded
    cosine (for callers that derive thresholds from it and must round
    at their own boundary, e.g. similar_documents).

    ``centroids`` / ``assigned``: pass the precomputed quantizer and
    list assignment (emb columns + centroid_id) — the STORED layout of
    a production IVF index, built once and partitioned by centroid_id —
    so queries never recompute assignment. Omitted = derived on the
    fly (the self-contained demo path)."""
    cents = (
        centroids
        if centroids is not None
        else ivf_centroids(emb, n_centroids, id_col, vec_col)
    )
    if assigned is None:
        assigned = emb.join(ivf_assign(emb, cents, id_col, vec_col), id_col)
    q_scored = queries.crossJoin(F.broadcast(cents)).select(
        F.col(query_id_col),
        F.col(query_vec_col),
        F.col("centroid_id"),
        _cos(F.col(query_vec_col), F.col("centroid_vec")).alias("cos"),
    )
    wq = Window.partitionBy(query_id_col).orderBy(
        F.col("cos").desc(), F.col("centroid_id").asc()
    )
    probes = (
        q_scored.withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= n_probe)
        .select(query_id_col, query_vec_col, "centroid_id")
    )
    scored = _with_norm(assigned, vec_col).join(
        F.broadcast(_with_norm(probes, query_vec_col, "_nq")),
        "centroid_id",
    ).select(
        F.col(query_id_col),
        F.col(id_col),
        _cos_pre(
            F.col(vec_col),
            F.col(query_vec_col),
            F.col("_nv"),
            F.col("_nq"),
        ).alias("cos"),
    )
    scored = scored.filter(
        F.col("cos").isNotNull()
        & (
            F.lit(True)
            if not exclude_self
            else (F.col(query_id_col) != F.col(id_col))
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            id_col,
            (F.round("cos", 6) if round_cos else F.col("cos")).alias("cos"),
            "rank",
        )
    )


def embedding_near_dups(
    emb: DataFrame,
    threshold: float = 0.95,
    n_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-duplicate pairs by cosine >= threshold, LSH-bucketed
    (pairs only within a bucket — no all-pairs join)."""
    withb = emb.join(sign_lsh_buckets(emb, n_bits, id_col, vec_col), id_col)
    a = withb.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), "bucket"
    )
    b = withb.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), "bucket"
    )
    return (
        _with_norm(a, "va", "_na")
        .join(_with_norm(b, "vb", "_nb"), "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            _cos_pre(
                F.col("va"), F.col("vb"), F.col("_na"), F.col("_nb")
            ).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 6).alias("cos"))
    )


def ivf_train_kmeans(
    emb: DataFrame,
    n_centroids: int = 8,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Spherical k-means training for the IVF coarse quantizer ->
    (centroid_id, centroid_vec), a drop-in for ``ivf_topk(centroids=)``.

    Deterministic Lloyd iterations from the sampled-centroid init
    (``ivf_centroids``): assign (max-cosine, the same map-side-combinable
    ivf_assign), recompute each list's mean direction (per-dimension avg
    via posexplode + one groupBy — dims x rows narrow explode, partial
    aggregation JVM-side), L2-normalize (spherical k-means — the right
    objective for cosine), keep the previous centroid for lists that go
    empty. Per-iteration driver traffic is n_centroids x dim floats
    (the centroid table itself); everything row-scale stays distributed.
    At 100 TB: train on a SAMPLE (emb.sample(fraction, seed)) — the
    quantizer only needs the density shape; the signature takes whatever
    DataFrame you pass.
    """
    if n_iter < 0:
        raise ValueError("n_iter must be >= 0")
    cents = ivf_centroids(emb, n_centroids, id_col, vec_col)
    spark = emb.sparkSession
    prev = {
        int(r["centroid_id"]): list(r["centroid_vec"])
        for r in cents.collect()
    }
    for _ in range(n_iter):
        assigned = ivf_assign(emb, cents, id_col, vec_col).filter(
            F.col("centroid_id") >= 0
        )
        sums = (
            emb.join(assigned, id_col)
            .select("centroid_id", F.posexplode(F.col(vec_col)))
            .groupBy("centroid_id", "pos")
            .agg(F.avg("col").alias("m"))
            .groupBy("centroid_id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("pos", "m"))
                ).alias("pm")
            )
            .select(
                "centroid_id",
                F.transform(F.col("pm"), lambda s: s["m"]).alias("mean_vec"),
            )
        )
        new = dict(prev)
        for r in sums.collect():
            v = r["mean_vec"]
            norm = sum(x * x for x in v) ** 0.5
            if norm > 0:
                new[int(r["centroid_id"])] = [x / norm for x in v]
        prev = new
        cents = local_frame(
            spark,
            sorted((cid, vec) for cid, vec in prev.items()),
            "centroid_id long, centroid_vec array<float>",
        )
    return cents


def build_vector_index(
    emb: DataFrame,
    n_centroids: int = 8,
    n_probe: int = 2,
    train_iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_fraction: "float | None" = None,
    seed: int = 13,
):
    """Train + materialize the stored IVF layout
    (:class:`~meilibridge_spark.sources.tables.VectorIndex`): spherical
    k-means centroids (optionally on a sample — at 100 TB the quantizer
    only needs the density shape) and the full assignment
    emb ⋈ nearest-centroid. Persist with ``save_vector_index``; serving
    (``search_hybrid_many`` / ``similar_documents``) then uses it
    automatically with zero training/assignment jobs."""
    from meilibridge_spark.sources.tables import VectorIndex

    if not 1 <= n_probe <= n_centroids:
        raise ValueError(
            f"n_probe must be in [1, n_centroids], got {n_probe}"
        )
    train_src = (
        emb.sample(fraction=train_fraction, seed=seed)
        if train_fraction is not None
        else emb
    )
    cents = ivf_train_kmeans(
        train_src, n_centroids, train_iters, id_col, vec_col
    )
    assigned = emb.join(ivf_assign(emb, cents, id_col, vec_col), id_col)
    return VectorIndex(
        centroids=cents,
        assigned=assigned,
        n_centroids=n_centroids,
        n_probe=n_probe,
        id_col=id_col,
        vec_col=vec_col,
    )


def retrain_vector_index(
    vec,
    n_centroids: "int | None" = None,
    n_probe: "int | None" = None,
    train_iters: int = 5,
    train_fraction: "float | None" = None,
    seed: int = 13,
):
    """Offline retrain of a drifted stored IVF layout — the action end
    of the drift signal (:func:`ivf_list_stats` ->
    ``retrain_recommended``). The quantizer stays FIXED under CDC
    (:func:`apply_cdc_vector_index`, the Meilisearch
    incremental-insert contract), so long upsert chains skew the
    inverted lists; this re-trains spherical k-means on the CURRENT
    vectors (all CDC folds included) and re-assigns every vector in
    one pass — the standard offline IVF maintenance job.

    Returns a fresh :class:`~meilibridge_spark.sources.tables.VectorIndex`
    (``dirty=True``, no ``base``); persist with ``save_vector_index``,
    which writes a NEW versioned ``vectors/base-{k}`` dir and commits
    it via meta.json — readers of the old base are never disturbed,
    and pending snapshot deltas recorded against the old base are
    correctly skipped by the load-time ``vec_base`` fold guard
    (their content is already inside the retrained assignment).
    ``n_centroids``/``n_probe`` default to the current layout's;
    ``train_fraction`` samples the training set (at 100 TB the
    quantizer only needs the density shape — assignment still covers
    every vector)."""
    emb = vec.assigned.drop("centroid_id")
    return build_vector_index(
        emb,
        n_centroids=n_centroids or vec.n_centroids,
        n_probe=n_probe or vec.n_probe,
        train_iters=train_iters,
        id_col=vec.id_col,
        vec_col=vec.vec_col,
        train_fraction=train_fraction,
        seed=seed,
    )


#: list-size skew (max list / ideal uniform size) above which a
#: retrain is recommended: probe latency is dominated by the largest
#: probed list, and at 4x the uniform size a fixed n_probe either
#: reads ~4x the bytes per probe hit on that list or (for queries
#: whose nearest lists are the starved ones) loses recall because the
#: drifted mass migrated into lists the probe no longer selects. The
#: quantizer stays FIXED under CDC (the Meilisearch incremental-insert
#: contract, apply_cdc_vector_index) — this threshold is the
#: documented signal for scheduling the offline retrain
#: (jobs/build_vectors.py / compaction).
RETRAIN_SKEW = 4.0


def ivf_list_stats(
    assigned: DataFrame, n_centroids: int, retrain_skew: float = RETRAIN_SKEW
) -> dict:
    """Exact inverted-list balance stats for a stored IVF layout: one
    column-pruned, map-side-combined count per ``centroid_id`` (at
    most ``n_centroids`` result rows). Returns per-list ``counts``
    plus the drift signal: ``skew`` = max list / ideal uniform size
    and ``retrain_recommended`` once skew exceeds ``retrain_skew`` (or
    any list is empty while vectors exist — starved lists are dead
    probe targets). Written into the vectors meta by
    ``save_vector_index`` (fresh build / compaction / full save) and
    kept current through delta commits via the ``vec_list_delta``
    counts from :func:`apply_cdc_vector_index`."""
    rows = (
        assigned.groupBy("centroid_id").count().collect()
    )  # <= n_centroids rows by construction
    counts = {int(r["centroid_id"]): int(r["count"]) for r in rows}
    return _stats_from_counts(counts, n_centroids, retrain_skew)


def _stats_from_counts(
    counts: "dict[int, int]", n_centroids: int, retrain_skew: float
) -> dict:
    # zero-count lists are dropped from the stored counts (a recount
    # from the assignment never sees them; empty_lists carries them)
    counts = {k: v for k, v in counts.items() if v > 0}
    n_vectors = sum(counts.values())
    nonempty = list(counts.values())
    ideal = n_vectors / n_centroids if n_centroids else 0.0
    max_list = max(nonempty, default=0)
    skew = (max_list / ideal) if ideal > 0 else 0.0
    empty = n_centroids - len(nonempty)
    return {
        "n_vectors": n_vectors,
        "n_centroids": n_centroids,
        "counts": {str(k): v for k, v in sorted(counts.items())},
        "max_list": max_list,
        "min_list": min(nonempty, default=0),
        "empty_lists": empty,
        "skew": round(skew, 4),
        "retrain_skew": retrain_skew,
        "retrain_recommended": bool(
            n_vectors and (skew > retrain_skew or empty > 0)
        ),
    }


def apply_cdc_vector_index(
    vec,
    deleted_ids: "DataFrame | None" = None,
    upserts: "DataFrame | None" = None,
):
    """CDC maintenance of a stored IVF layout -> (new VectorIndex,
    delta dict) — the Meilisearch incremental-vector-update analog
    (its vector DB inserts/removes per document write without
    retraining).

    - ``deleted_ids`` (one id column named ``vec.id_col``): their rows
      leave the assignment — deleted documents must never be served as
      semantic hits (ghost prevention).
    - ``upserts`` (``id_col`` + ``vec_col`` [+ extra cols matching the
      assigned schema]): REPLACE any existing row with that id and are
      assigned to the nearest STORED centroid — one broadcast-centroids
      pass (``ivf_assign``), zero training jobs. The quantizer stays
      fixed between retrains (``build_vector_index`` /
      ``jobs/build_vectors.py``), exactly the IVF serving contract: a
      drifted corpus re-trains offline, inserts stay cheap.

    The returned delta dict (``vec_touched_ids``: ids whose base rows
    are dead, ``vec_assigned``: the replacement rows) is what
    ``save_snapshot_delta`` persists for merge-on-read folding at
    load; cost O(touched vectors), never corpus size.
    """
    import dataclasses

    from meilibridge_spark.sources.tables import VectorIndex  # noqa: F401

    if deleted_ids is None and upserts is None:
        raise ValueError("apply_cdc_vector_index needs deletes or upserts")
    spark = vec.assigned.sparkSession
    idc = vec.id_col
    touched = None
    if deleted_ids is not None:
        touched = deleted_ids.select(F.col(deleted_ids.columns[0]).alias(idc))
    new_rows = None
    if upserts is not None:
        up_ids = upserts.select(F.col(idc))
        touched = (
            up_ids if touched is None else touched.unionByName(up_ids)
        ).distinct()
        assigned_cols = vec.assigned.columns
        extra = [
            c for c in assigned_cols if c not in (idc, "centroid_id")
        ]
        missing = [c for c in extra if c not in upserts.columns]
        if missing:
            raise ValueError(
                f"vector upserts missing assigned-schema columns {missing}"
            )
        new_rows = (
            upserts.join(
                ivf_assign(upserts, vec.centroids, idc, vec.vec_col), idc
            )
            .select(*assigned_cols)
        )
    else:
        touched = touched.distinct()
        # empty-but-schemaed frame so the delta table always exists
        new_rows = local_frame(spark, [], vec.assigned.schema)
    assigned_new = (
        vec.assigned.join(F.broadcast(touched), idc, "left_anti")
        .unionByName(new_rows)
        .select(*vec.assigned.columns)
    )
    # per-list count delta for the drift signal (ivf_list_stats):
    # +counts from the newly-assigned rows, -counts from the touched
    # ids' OLD lists (one broadcast semi-join over the (id, centroid)
    # columns — column-pruned, no shuffle; <= 2*n_centroids result
    # rows). Lazy: materialized only when a delta commit persists it
    # into the vectors meta (save_snapshot_delta).
    removed = (
        vec.assigned.select(idc, "centroid_id")
        .join(F.broadcast(touched), idc, "left_semi")
        .groupBy("centroid_id")
        .agg((-F.count(F.lit(1))).alias("delta"))
    )
    added = new_rows.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("delta")
    )
    list_delta = removed.unionByName(added)
    new_vec = dataclasses.replace(vec, assigned=assigned_new, dirty=True)
    return new_vec, {
        "vec_touched_ids": touched,
        "vec_assigned": new_rows,
        "vec_list_delta": list_delta,
    }


def similar_documents(
    emb: DataFrame,
    target_ids: "list[int]",
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    filter_docs: "DataFrame | None" = None,
    threshold: "float | None" = None,
    method: str = "auto",
    n_centroids: int = 8,
    n_probe: int = 2,
    centroids: "DataFrame | None" = None,
    assigned: "DataFrame | None" = None,
    vectors=None,
) -> DataFrame:
    """Meilisearch ``GET /indexes/{uid}/similar`` analog: for each
    target document, the ``k`` most similar other documents by
    embedding cosine -> (target_id, vec_id, cos, ranking_score, rank).

    ``ranking_score`` is Meilisearch's semantic score for cosine
    embedders, (1 + cos) / 2 in [0, 1] (the same normalization the
    hybrid-fusion path uses); ``threshold`` is the endpoint's
    ``rankingScoreThreshold`` — applied BEFORE ranking; because the
    score is monotone in cos, it removes exactly a suffix of each
    target's ranking, so surviving ranks are contiguous 1..k like the
    endpoint's hit list. ``filter_docs`` (a DataFrame with an
    ``id_col`` column) restricts the candidate side, like the
    endpoint's ``filter`` parameter.

    ``method="exact"`` scores every embedding (one scan — the
    correctness baseline); ``method="ivf"`` is the 100 TB path:
    scoring restricted to each target's ``n_probe`` nearest IVF lists
    via :func:`ivf_topk`, with ``centroids``/``assigned`` accepting the
    stored quantizer layout so serving never recomputes assignment
    (ANN ⊆ exact semantics, same as every other IVF path here).
    ``method="auto"`` (the serving default): the probed path when a
    stored layout is available — ``vectors`` (a
    :class:`~meilibridge_spark.sources.tables.VectorIndex`, e.g.
    ``index.vectors`` after load_snapshot) supplies the quantizer,
    assignment and stored n_probe — else exact.

    Unknown target ids raise (the endpoint 404s) — the validation
    lookup collects at most ``len(target_ids)`` rows off a pushed-down
    point filter. Plan shape: the (tiny) target vectors broadcast into
    one scan of the embeddings table (or of the probed lists);
    the threshold prunes before the per-target window, and only
    <= targets*k rows survive it.
    """
    if method not in ("exact", "ivf", "auto"):
        raise ValueError(
            f"method must be 'exact', 'ivf' or 'auto', got {method!r}"
        )
    if method == "auto":
        method = "ivf" if vectors is not None else "exact"
    stored_layout = False
    if vectors is not None and method == "ivf":
        # the stored layout supplies quantizer + assignment + defaults;
        # explicit keyword args (a caller experimenting) still win
        if centroids is None:
            centroids = vectors.centroids
        if assigned is None:
            assigned = vectors.assigned
            n_centroids = vectors.n_centroids
            n_probe = vectors.n_probe
            stored_layout = True
    ids = list(target_ids)
    if not ids:
        raise ValueError("similar_documents needs at least one target id")
    if threshold is not None and not (0.0 <= threshold <= 1.0):
        raise ValueError(f"threshold must be in [0, 1], got {threshold}")
    targets = emb.filter(F.col(id_col).isin(ids)).select(
        F.col(id_col).alias("target_id"), F.col(vec_col).alias("_qv")
    )
    # one pushed-down point scan serves BOTH the 404-style validation
    # and the broadcast side (rebuilt driver-side from the <= len(ids)
    # collected rows — no second scan for the crossJoin)
    rows = targets.collect()
    found = {r["target_id"] for r in rows}
    missing = [i for i in ids if i not in found]
    if missing:
        raise ValueError(f"unknown target id(s): {missing}")
    targets = local_frame(emb.sparkSession, rows, targets.schema)
    cands = emb
    if filter_docs is not None:
        cands = cands.join(filter_docs.select(id_col), id_col, "left_semi")
    if method == "ivf":
        # a stored layout bypasses ivf_topk's emb argument entirely, so
        # the endpoint filter must be applied to the layout itself —
        # otherwise the production (precomputed-assignment) path would
        # silently return hits the filter excludes
        if filter_docs is not None and assigned is not None:
            assigned = assigned.join(
                filter_docs.select(id_col), id_col, "left_semi"
            )
        if stored_layout:
            # the stored layout is directory-partitioned by
            # centroid_id: pre-prune it with a LITERAL probe-id filter
            # (PartitionFilters on the scan) computed driver-side from
            # the collected target vectors + the tiny centroid table.
            # The filter is a SUPERSET of ivf_topk's own JVM probe
            # selection: ties within 1e-9 of the n_probe-th cosine are
            # kept too, so float summation-order differences can never
            # drop a list the JVM would probe.
            import numpy as np

            valid = [
                (int(r["centroid_id"]), np.asarray(r["centroid_vec"], float))
                for r in centroids.collect()
            ]
            probe_ids: set = set()
            for r in rows:
                qv = np.asarray(r["_qv"], dtype=np.float64)
                qn = float(np.linalg.norm(qv))
                if qn == 0.0:
                    continue
                scored = []
                for cid, cv in valid:
                    cn = float(np.linalg.norm(cv))
                    if cn == 0.0:
                        continue
                    scored.append((float(cv @ qv) / (cn * qn), cid))
                scored.sort(key=lambda t: (-t[0], t[1]))
                if not scored:
                    continue
                kth = scored[min(n_probe, len(scored)) - 1][0]
                probe_ids |= {
                    cid for cos, cid in scored if cos >= kth - 1e-9
                }
            assigned = (
                assigned.filter(F.col("centroid_id").isin(sorted(probe_ids)))
                if probe_ids
                else assigned.filter(F.lit(False))
            )
        # probed-list scoring; thresholding the (cos-desc) top-k after
        # the fact removes only a suffix, so ranks stay contiguous.
        # round_cos=False: the threshold must compare the UNROUNDED
        # score exactly like the exact path, or boundary cosines break
        # the ==exact-at-full-probe contract
        hits = ivf_topk(
            cands, targets, k,
            n_centroids=n_centroids, n_probe=n_probe,
            id_col=id_col, vec_col=vec_col,
            query_id_col="target_id", query_vec_col="_qv",
            centroids=centroids, assigned=assigned, round_cos=False,
        ).withColumn(
            "ranking_score", (F.lit(1.0) + F.col("cos")) / F.lit(2.0)
        )
        if threshold is not None:
            hits = hits.filter(F.col("ranking_score") >= threshold)
        return hits.select(
            "target_id",
            id_col,
            F.round("cos", 6).alias("cos"),
            F.round("ranking_score", 6).alias("ranking_score"),
            "rank",
        )
    scored = _with_norm(cands, vec_col).crossJoin(
        F.broadcast(_with_norm(targets, "_qv", "_nq"))
    ).select(
        "target_id",
        F.col(id_col),
        _cos_pre(
            F.col(vec_col), F.col("_qv"), F.col("_nv"), F.col("_nq")
        ).alias("cos"),
    )
    scored = scored.filter(
        (F.col("target_id") != F.col(id_col)) & F.col("cos").isNotNull()
    ).withColumn("ranking_score", (F.lit(1.0) + F.col("cos")) / F.lit(2.0))
    if threshold is not None:
        scored = scored.filter(F.col("ranking_score") >= threshold)
    w = Window.partitionBy("target_id").orderBy(
        F.col("cos").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "target_id",
            id_col,
            F.round("cos", 6).alias("cos"),
            F.round("ranking_score", 6).alias("ranking_score"),
            "rank",
        )
    )


def validate_embedder_dims(
    emb: DataFrame,
    cfg,
    vec_col: str = "embedding",
    embedder: "str | None" = None,
) -> "int | None":
    """Meilisearch ``embedders`` setting enforcement (userProvided
    source: declared ``dimensions`` must match the supplied vectors).
    When ``cfg.embedders`` declares an embedder (by ``embedder`` name,
    else the single/first declared one), checks every vector's length
    against it in ONE column-pruned agg over ``F.size`` (a build-time
    pass; the assignment scan that follows reads the data anyway) and
    raises ``ConfigError`` loudly on a mismatch — Meilisearch's
    invalid_vector_dimensions analog. No declaration -> no-op, returns
    None; otherwise returns the validated dimension."""
    from meilibridge_spark.config import ConfigError

    declared = dict(getattr(cfg, "embedders", ()) or ())
    if not declared:
        return None
    if embedder is not None:
        if embedder not in declared:
            raise ConfigError(
                f"unknown embedder {embedder!r}; declared: "
                f"{sorted(declared)}"
            )
        dim = declared[embedder]
    else:
        dim = next(iter(declared.values()))
    row = emb.agg(
        F.min(F.size(vec_col)).alias("lo"),
        F.max(F.size(vec_col)).alias("hi"),
    ).first()
    if row["lo"] is None:
        return dim  # empty input: nothing to contradict the setting
    if row["lo"] != dim or row["hi"] != dim:
        raise ConfigError(
            f"embedder dimensions mismatch: setting declares {dim}, "
            f"supplied vectors have size range [{row['lo']}, {row['hi']}]"
        )
    return dim
