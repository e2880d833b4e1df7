"""Hybrid (keyword + semantic) search — Q16 embedders, completed.

The reference maps Meilisearch's experimental ``embedders`` setting
(`/root/reference/config/type.go:67,90`; README.md:242-253) so synced
indexes can serve AI-powered *hybrid* queries: a keyword (BM25) ranked
list fused with a vector-similarity ranked list under a
``semanticRatio`` blend. This module is the PySpark-native analog over
an :class:`InvertedIndex` plus an embeddings table.

Fusion semantics (deterministic, oracle-expressible — documented
simplification of Meilisearch's ranking-score fusion):

1. keyword pool  = top ``pool`` BM25 hits for ``query``.
2. semantic pool = top ``pool`` cosine hits for ``query_vec``.
3. candidates    = the union of both pools' doc ids.
4. per candidate:
   - ``kw``  = BM25 score / max BM25 score in the keyword pool
     (0 when the doc is outside the keyword pool — list fusion, the
     engine never rescans for keyword scores of semantic-only hits);
   - ``sem`` = (1 + cosine(query_vec, doc_vec)) / 2, 0 when the doc
     has no (or a zero-norm) embedding.
5. ``hybrid = (1 - semantic_ratio) * kw + semantic_ratio * sem``;
   top-k by (hybrid desc, doc_id asc).

Scale shape: the keyword side is the engine's scatter-gather (bounded
merge); the semantic side is ONE pruned scan of the embeddings table
ending in TakeOrdered (no global sort materialization); both pools are
<= ``pool`` rows, so every later join broadcasts a tiny candidate set
against the embeddings table — no wide shuffle anywhere. At 100 TB the
semantic pool swaps to the IVF path (`similarity.ivf_topk`) behind the
same fusion, which only changes step 2's plan —
``search_hybrid_many(semantic="ivf")`` implements exactly that swap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from meilibridge_spark.operators.search import InvertedIndex, search, search_many
from meilibridge_spark.operators.similarity import _cos, _cos_pre, _with_norm
from meilibridge_spark.session import local_frame


def search_hybrid(
    index: InvertedIndex,
    emb: DataFrame,
    query: str,
    query_vec: "list[float]",
    k: int = 10,
    semantic_ratio: float = 0.5,
    pool: int = 30,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    filter_docs: "DataFrame | None" = None,
) -> DataFrame:
    """Blend BM25 and cosine rankings -> (doc_id, kw, sem, hybrid).

    ``emb`` maps the index's doc ids (``id_col``) to ``array<float>``
    vectors (``vec_col``); ``query_vec`` is the already-embedded query
    (embedding happens upstream — the engine is model-agnostic, like
    the reference which delegates embedding to Meilisearch's
    configured embedder).

    ``filter_docs`` (the endpoint's ``filter`` + ``hybrid``
    combination): both pools restrict to the allowed doc ids — the
    keyword side through search's shard-local bitmap, the semantic
    side by a left-semi join on the embeddings scan BEFORE scoring.
    BM25 stats stay corpus-global (Meilisearch filter semantics).
    """
    if not 0.0 <= semantic_ratio <= 1.0:
        raise ValueError(f"semantic_ratio must be in [0, 1], got {semantic_ratio}")
    if pool < k:
        raise ValueError(f"pool ({pool}) must be >= k ({k})")
    if filter_docs is not None:
        emb = emb.join(
            filter_docs.select(F.col("doc_id").cast("long").alias(id_col)),
            id_col,
            "left_semi",
        )
    qv = F.array(*[F.lit(float(x)) for x in query_vec])
    # the query norm is a CONSTANT: the same left-to-right float64
    # accumulation _norm's aggregate performs, done driver-side —
    # bit-identical, and the scan pays one aggregate per row (the doc
    # norm) instead of three per row
    _qs = 0.0
    for _x in query_vec:
        _qs = _qs + float(_x) * float(_x)
    qn = F.lit(_qs**0.5)

    # 1. keyword pool: engine scatter-gather, already top-`pool` bounded.
    kw_pool = search(index, query, k=pool, filter_docs=filter_docs).select(
        "doc_id", F.col("score").alias("kw_raw")
    )
    kw_max = kw_pool.agg(F.max("kw_raw").alias("kw_max"))

    # 2. semantic pool: one scan -> TakeOrdered(pool). Column-pruned to
    #    (id, vec); zero-norm vectors yield NULL cosine and are dropped.
    sem_scored = _with_norm(emb, vec_col).select(
        F.col(id_col).alias("doc_id"),
        (
            (F.lit(1.0) + _cos_pre(F.col(vec_col), qv, F.col("_nv"), qn))
            / F.lit(2.0)
        ).alias("sem"),
    ).filter(F.col("sem").isNotNull())
    sem_pool = sem_scored.orderBy(F.col("sem").desc(), F.col("doc_id")).limit(pool)

    # 3. candidate union (<= 2*pool rows — broadcast-small by construction).
    cand = (
        kw_pool.select("doc_id").unionByName(sem_pool.select("doc_id")).distinct()
    )

    # 4-5. fuse: keyword-only docs still get their exact cosine via a
    # candidate-PRUNED probe — the (<= 2*pool row) candidate set
    # broadcasts into a second column-pruned embeddings scan, so only
    # candidate rows are re-scored (the full sem_scored pass exists
    # only to FIND the top-pool; re-scoring everything to serve 2*pool
    # lookups doubled the expensive pass). Broadcasting the preserved
    # side of an outer join is unsupported (Spark would shuffle the
    # full table), hence broadcast INNER here; the subsequent outer
    # joins are tiny-vs-tiny (<= 2*pool rows each side) with the right
    # side broadcast. Docs missing an embedding fall back to sem = 0.
    sem_cand = (
        _with_norm(emb.select(F.col(id_col).alias("doc_id"), vec_col), vec_col)
        .join(F.broadcast(cand), "doc_id")
        .select(
            "doc_id",
            (
                (
                    F.lit(1.0)
                    + _cos_pre(F.col(vec_col), qv, F.col("_nv"), qn)
                )
                / F.lit(2.0)
            ).alias("sem"),
        )
        .filter(F.col("sem").isNotNull())
    )
    fused = (
        cand.join(F.broadcast(sem_cand), "doc_id", "left")
        .join(F.broadcast(kw_pool), "doc_id", "left")
        .crossJoin(F.broadcast(kw_max))
        .select(
            "doc_id",
            F.coalesce(F.col("kw_raw") / F.col("kw_max"), F.lit(0.0)).alias("kw"),
            F.coalesce(F.col("sem"), F.lit(0.0)).alias("sem"),
        )
        .withColumn(
            "hybrid",
            F.lit(1.0 - semantic_ratio) * F.col("kw")
            + F.lit(semantic_ratio) * F.col("sem"),
        )
    )
    return fused.orderBy(F.col("hybrid").desc(), F.col("doc_id")).limit(k)


def search_hybrid_many(
    index: InvertedIndex,
    emb: DataFrame,
    queries: "list[tuple[str, str]]",
    query_vecs: "dict[str, list[float]]",
    k: int = 10,
    semantic_ratio: float = 0.5,
    pool: int = 30,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    semantic: str = "auto",
    n_centroids: int = 8,
    n_probe: int = 2,
    centroids: "DataFrame | None" = None,
    assigned: "DataFrame | None" = None,
    score_mode: str = "normalized",
    filter_docs: "DataFrame | None" = None,
) -> DataFrame:
    """Batch hybrid search, ONE Spark job for M queries ->
    (query_id, doc_id, kw, sem, hybrid, rank <= k).

    ``filter_docs`` (the endpoint's ``filter`` + ``hybrid``): the
    allowed doc ids restrict BOTH sides for every query in the batch —
    the keyword pools through search_many's shard-local bitmap
    cogroup, the semantic side by a left-semi join on the embeddings
    (and, on the ivf path, the assigned-lists) scan before scoring.
    BM25 stats stay corpus-global (Meilisearch filter semantics).

    Rank-identical per query to :func:`search_hybrid` (tested). The
    per-query driver loop pays Spark's fixed plan/schedule cost per
    call; here it amortizes exactly like ``search_many``:

    - keyword pools for the whole batch come from ONE ``search_many``
      scatter-gather (shuffle-free in serving mode);
    - semantic scores are ONE column-pruned pass of the embeddings
      table against the broadcast (query_id, qv) panel; the per-query
      top-``pool`` is a window over skinny (query_id, doc_id, sem)
      rows — at 100 TB this exact pass swaps to the IVF-probed
      candidate set (`similarity.ivf_topk`) with the same fusion;
    - every later join keys on (query_id, doc_id) over <= 2*M*pool
      broadcast rows.

    ``query_vecs`` must map every query_id in ``queries``; queries and
    vectors are paired by id, not position.

    ``semantic``: ``"exact"`` scores every embedding per query (the
    brute-force pass above); ``"ivf"`` restricts scoring to the
    query's ``n_probe`` nearest IVF lists — the 100 TB shape, where
    the stored layout (``centroids`` from `ivf_train_kmeans` /
    `ivf_centroids`, ``assigned`` partitioned by centroid_id) turns
    the full scan into a centroid-id equi-join. With ``"ivf"``, a
    keyword-only candidate outside the probed lists keeps sem = 0
    (unprobed = unseen, standard ANN semantics); with
    n_probe == n_centroids the output is rank-identical to exact
    (tested). ``"auto"`` (the serving default): the probed path
    driven by the index's STORED layout (``index.vectors``, attached
    by load_snapshot when ``save_vector_index`` ran) — quantizer,
    assignment and n_probe all come from the store, zero
    training/assignment jobs — else exact. Exact remains the
    correctness baseline and the oracle. ``"binary"`` (Meilisearch
    v1.10 binaryQuantized embedders): the semantic pool comes from a
    sign-packed Hamming bit scan (`similarity.binary_quantize`, 32
    dims per long word — 1/32nd the bytes of the float pass) whose
    top-``pool`` survivors are re-scored with EXACT cosine, so fusion
    stays on the same (1 + cos) / 2 scale as 'exact'; like 'ivf', a
    candidate outside the bit-scan pool keeps sem = 0 (un-scanned =
    unseen), and with pool >= the corpus the output is rank-identical
    to exact (tested). Query vector dimensionality drives the packing
    (all query vectors must agree).

    ``score_mode``: how the keyword side enters the blend.
    ``"normalized"`` (default, the original list-fusion analog):
    kw = BM25 / the query's pool-max — relative to the pool.
    ``"ranking_score"``: kw = the hit's ABSOLUTE [0, 1]
    ``_ranking_score`` (operators/relational.ranking_scores —
    matched_terms / n_query_terms for plain hits), matching
    Meilisearch's semantics of fusing both sides on ``_rankingScore``
    (the semantic side's (1 + cos) / 2 IS its ranking score for cosine
    embedders). Equivalence note: both modes blend two [0, 1] scores
    under the same semanticRatio; they differ exactly where
    Meilisearch's score differs from pool-relative BM25 — the
    ranking_score mode is scale-free across queries (a 1-term query's
    sole matching doc scores kw = 1 regardless of raw BM25), while the
    normalized mode preserves intra-pool BM25 contrast.
    """
    if not 0.0 <= semantic_ratio <= 1.0:
        raise ValueError(f"semantic_ratio must be in [0, 1], got {semantic_ratio}")
    if pool < k:
        raise ValueError(f"pool ({pool}) must be >= k ({k})")
    if semantic not in ("exact", "ivf", "auto", "binary"):
        raise ValueError(
            "semantic must be 'exact', 'ivf', 'auto' or 'binary', "
            f"got {semantic!r}"
        )
    vectors = getattr(index, "vectors", None)
    stored_probe = False
    if semantic == "auto":
        semantic = "ivf" if vectors is not None else "exact"
        if semantic == "ivf" and centroids is None and assigned is None:
            centroids = vectors.centroids
            assigned = vectors.assigned
            n_centroids = vectors.n_centroids
            n_probe = vectors.n_probe
            # serving off the stored directory-partitioned layout:
            # probes are selected DRIVER-SIDE from the (tiny) centroid
            # table so the probed lists become a literal centroid_id
            # filter the parquet scan prunes whole directories with.
            # SIZING RULE for the driver-side probe selection: the
            # centroid table is n_centroids x dim floats; with the IVF
            # heuristic n_centroids ~ sqrt(n_vectors) this stays < 40 MB
            # up to 10^10 vectors at dim=1024 (10^5 centroids) — fine to
            # collect. Past ~10^5 centroids (or dim such that
            # n_centroids*dim*8 approaches spark.driver.maxResultSize),
            # select probes with a broadcast join against the centroid
            # table instead of collecting it; the list-pruning shape is
            # unchanged.
            stored_probe = True
    if score_mode not in ("normalized", "ranking_score"):
        raise ValueError(
            f"score_mode must be 'normalized' or 'ranking_score', "
            f"got {score_mode!r}"
        )
    if filter_docs is not None:
        allowed = filter_docs.select(
            F.col("doc_id").cast("long").alias(id_col)
        )
        emb = emb.join(allowed, id_col, "left_semi")
        if assigned is not None:
            assigned = assigned.join(allowed, id_col, "left_semi")
    missing = [qid for qid, _ in queries if qid not in query_vecs]
    if missing:
        raise ValueError(f"query_vecs missing ids: {missing}")
    spark = emb.sparkSession
    qdf = local_frame(
        spark,
        [(qid, [float(x) for x in query_vecs[qid]]) for qid, _ in queries],
        "query_id string, qv array<double>",
    )
    # query norms ride the (tiny, broadcast) panel so the corpus scan
    # pays ONE aggregate per row — the doc norm — instead of three per
    # (row, query) pair; bit-identical values (see similarity._cos_pre)
    qdfn = _with_norm(qdf, "qv", "_nq")

    if score_mode == "ranking_score":
        from meilibridge_spark.functions.tokenizer import parse_query

        kw_hits = search_many(
            index, queries, k=pool, words_rank=True,
            filter_docs=filter_docs,
        )
        nq = local_frame(
            spark,
            [
                (qid, len(parse_query(q, index.cfg.analyzer)))
                for qid, q in queries
            ],
            "query_id string, _nq int",
        )
        # kw = the hit's absolute words-rule ranking score (the same
        # arithmetic ranking_scores emits for plain matched_terms hits)
        kw_scored = kw_hits.join(F.broadcast(nq), "query_id").select(
            "query_id",
            "doc_id",
            F.least(
                F.col("matched_terms").cast("double") / F.col("_nq"),
                F.lit(1.0),
            ).alias("_kw_val"),
        )
        kw = kw_scored.select("query_id", "doc_id")
    else:
        kw_raw = search_many(
            index, queries, k=pool, filter_docs=filter_docs
        ).select(
            "query_id", "doc_id", F.col("score").alias("kw_raw")
        )
        kw_max = kw_raw.groupBy("query_id").agg(
            F.max("kw_raw").alias("kw_max")
        )
        kw_scored = kw_raw.join(F.broadcast(kw_max), "query_id").select(
            "query_id",
            "doc_id",
            (F.col("kw_raw") / F.col("kw_max")).alias("_kw_val"),
        )
        kw = kw_scored.select("query_id", "doc_id")

    if semantic == "ivf":
        from meilibridge_spark.operators.similarity import (
            ivf_assign,
            ivf_centroids,
        )

        cents = (
            centroids
            if centroids is not None
            else ivf_centroids(emb, n_centroids, id_col, vec_col)
        )
        if assigned is None:
            assigned = emb.join(ivf_assign(emb, cents, id_col, vec_col), id_col)
        if stored_probe:
            # same (cos desc, centroid_id asc) selection as the JVM
            # window below, computed in numpy over the collected
            # centroid table (n_centroids x dim floats). The payoff:
            # the probed list ids are LITERALS, so the stored layout's
            # scan carries PartitionFilters [centroid_id IN (...)] and
            # reads only the probed directories — the JVM-window form
            # joins at runtime and must scan every list.
            import numpy as np

            valid = [
                (int(r["centroid_id"]), np.asarray(r["centroid_vec"], float))
                for r in cents.collect()
            ]
            probe_pairs: list = []
            for qid, _ in queries:
                qv = np.asarray(query_vecs[qid], dtype=np.float64)
                qn = float(np.linalg.norm(qv))
                if qn == 0.0:
                    continue  # zero-norm query: cosine undefined, no sem
                scored = []
                for cid, cv in valid:
                    cn = float(np.linalg.norm(cv))
                    if cn == 0.0:
                        continue  # sentinel/zero lists are never probed
                    scored.append((-float(cv @ qv) / (cn * qn), cid))
                scored.sort()
                qvl = [float(x) for x in query_vecs[qid]]
                probe_pairs.extend(
                    (qid, qvl, cid) for _, cid in scored[:n_probe]
                )
            probes = local_frame(
                spark,
                probe_pairs,
                "query_id string, qv array<double>, centroid_id long",
            )
            probe_ids = sorted({cid for _, _, cid in probe_pairs})
            pruned = (
                assigned.filter(F.col("centroid_id").isin(probe_ids))
                if probe_ids
                else assigned.filter(F.lit(False))
            )
            base = _with_norm(pruned, vec_col).join(
                F.broadcast(_with_norm(probes, "qv", "_nq")), "centroid_id"
            )
        else:
            q_probe = qdf.crossJoin(F.broadcast(cents)).select(
                "query_id",
                "qv",
                "centroid_id",
                _cos(F.col("qv"), F.col("centroid_vec")).alias("_pcos"),
            )
            w_probe = Window.partitionBy("query_id").orderBy(
                F.col("_pcos").desc(), F.col("centroid_id")
            )
            probes = (
                q_probe.withColumn("_rn", F.row_number().over(w_probe))
                .filter(F.col("_rn") <= n_probe)
                .select("query_id", "qv", "centroid_id")
            )
            base = _with_norm(assigned, vec_col).join(
                F.broadcast(_with_norm(probes, "qv", "_nq")), "centroid_id"
            )
    elif semantic == "binary":
        # binaryQuantized pool: Hamming bit scan over packed sign words
        # finds the top-pool candidates per query (bit_count(xor),
        # whole-stage codegen, ~1/32nd the bytes of the float pass);
        # exact cosine then re-scores ONLY those survivors, keeping
        # fusion on the same (1 + cos) / 2 scale as 'exact'
        from meilibridge_spark.operators.similarity import (
            binary_quantize,
        )

        dims = {len(v) for v in query_vecs.values()}
        if len(dims) != 1:
            raise ValueError(
                f"semantic='binary' needs equal-dim query vectors, "
                f"got dims {sorted(dims)}"
            )
        dim = dims.pop()
        eb = binary_quantize(emb, dim, id_col=id_col, vec_col=vec_col)
        qb = binary_quantize(
            qdf, dim, id_col="query_id", vec_col="qv", bits_col="_qbits"
        )
        hamming = F.aggregate(
            F.zip_with(
                F.col("bits"),
                F.col("_qbits"),
                lambda a, b: F.bit_count(a.bitwiseXOR(b)).cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        w_h = Window.partitionBy("query_id").orderBy(
            F.col("_h").asc(), F.col("doc_id").asc()
        )
        bit_pool = (
            eb.crossJoin(F.broadcast(qb))
            .select(
                "query_id",
                F.col(id_col).alias("doc_id"),
                hamming.alias("_h"),
            )
            .withColumn("_r", F.row_number().over(w_h))
            .filter(F.col("_r") <= pool)
            .select("query_id", "doc_id")
        )
        base = (
            _with_norm(
                emb.select(F.col(id_col).alias("doc_id"), vec_col), vec_col
            )
            .join(F.broadcast(bit_pool), "doc_id")
            .join(F.broadcast(qdfn), "query_id")
            .select(
                "query_id",
                F.col("doc_id").alias(id_col),
                vec_col,
                "qv",
                "_nv",
                "_nq",
            )
        )
    else:
        base = _with_norm(emb, vec_col).crossJoin(F.broadcast(qdfn))
    sem_scored = base.select(
        "query_id",
        F.col(id_col).alias("doc_id"),
        (
            (
                F.lit(1.0)
                + _cos_pre(
                    F.col(vec_col), F.col("qv"), F.col("_nv"), F.col("_nq")
                )
            )
            / F.lit(2.0)
        ).alias("sem"),
    ).filter(F.col("sem").isNotNull())
    w_sem = Window.partitionBy("query_id").orderBy(
        F.col("sem").desc(), F.col("doc_id")
    )
    sem_pool = (
        sem_scored.withColumn("_r", F.row_number().over(w_sem))
        .filter(F.col("_r") <= pool)
        .drop("_r")
    )

    cand = (
        kw.select("query_id", "doc_id")
        .unionByName(sem_pool.select("query_id", "doc_id"))
        .distinct()
    )
    if semantic == "exact":
        # sem for keyword-only candidates: candidate-PRUNED cosine pass
        # — the (tiny, <= 2*M*pool row) candidate set broadcasts into
        # one column-pruned embeddings probe, so only candidate pairs
        # are scored. Re-running the full sem_scored pass here (the old
        # shape) re-scored every (query, doc) pair a second time; the
        # full pass above exists only to FIND the top-pool, not to
        # serve lookups. Same _cos arithmetic -> identical values.
        sem_cand = (
            _with_norm(
                emb.select(F.col(id_col).alias("doc_id"), vec_col), vec_col
            )
            .join(F.broadcast(cand), "doc_id")
            .join(F.broadcast(qdfn), "query_id")
            .select(
                "query_id",
                "doc_id",
                (
                    (
                        F.lit(1.0)
                        + _cos_pre(
                            F.col(vec_col),
                            F.col("qv"),
                            F.col("_nv"),
                            F.col("_nq"),
                        )
                    )
                    / F.lit(2.0)
                ).alias("sem"),
            )
            .filter(F.col("sem").isNotNull())
        )
    else:
        # ivf: unprobed = unseen (sem stays 0 for candidates outside
        # the probed lists), so candidate sem must come from the probed
        # universe itself — which is already list-restricted and cheap.
        sem_cand = sem_scored.join(F.broadcast(cand), ["query_id", "doc_id"])
    fused = (
        cand.join(F.broadcast(sem_cand), ["query_id", "doc_id"], "left")
        .join(F.broadcast(kw_scored), ["query_id", "doc_id"], "left")
        .select(
            "query_id",
            "doc_id",
            F.coalesce(F.col("_kw_val"), F.lit(0.0)).alias("kw"),
            F.coalesce(F.col("sem"), F.lit(0.0)).alias("sem"),
        )
        .withColumn(
            "hybrid",
            F.lit(1.0 - semantic_ratio) * F.col("kw")
            + F.lit(semantic_ratio) * F.col("sem"),
        )
    )
    w_k = Window.partitionBy("query_id").orderBy(
        F.col("hybrid").desc(), F.col("doc_id")
    )
    return fused.withColumn("rank", F.row_number().over(w_k)).filter(
        F.col("rank") <= k
    )
