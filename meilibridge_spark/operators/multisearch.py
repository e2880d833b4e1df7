"""Non-federated multi-search (Meilisearch ``POST /multi-search``,
results mode): M heterogeneous (index, query, options) requests
answered together, one result list per request.

The reference's multi-index fan-out is exactly this shape — its
``index_map`` config routes one sync source to several named indexes
(/root/reference/config/type.go:30); the endpoint's results mode asks
M independent questions in one round trip.

Plan shape: requests are grouped by (index, batch-incompatible
options) and each group rides ONE ``search_many`` scatter-gather job —
M requests over T indexes cost at most |distinct option groups| jobs,
not M. Per-request ``k``/``offset`` never split a group: the group
scores to the max needed depth and each request trims its own rank
window from the (<= k rows/request) merged output — a filter against
literal query_id -> offset / k maps, nothing doc-granular.

Exhaustive-pagination requests (``page`` / ``hits_per_page``) group
exactly like offset-mode ones — same option key plus (page,
hits_per_page) — and each group rides ONE batch paged call
(``search_many(page=, hits_per_page=)``: the top-k scatter-gather
sliced to the page plus one shard-count pass through the same block
exchange, two jobs per group). ``hits_per_page=0`` count-only
requests ride the same grouping and contribute NULL-doc metadata
carrier rows. Their totalHits/totalPages surface as extra nullable
columns on the combined output (see multi_search).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from meilibridge_spark.operators.search import InvertedIndex, search_many
from meilibridge_spark.session import local_frame

#: request keys the results-mode endpoint analog accepts
_ALLOWED_KEYS = {
    "index_uid",
    "q",
    "k",
    "offset",
    "filter",
    "typo",
    "matching_strategy",
    "attributes_to_search_on",
    "prefix",
    "proximity",
    "page",
    "hits_per_page",
    "vector",
    "hybrid",
}

#: options that do not compose with vector/hybrid requests (the hybrid
#: fusion operator owns its own candidate machinery; loud beats a
#: silently dropped option)
_HYBRID_INCOMPATIBLE = (
    "typo",
    "prefix",
    "proximity",
    "matching_strategy",
    "attributes_to_search_on",
    "page",
    "hits_per_page",
    "offset",
)

MULTI_SEARCH_SCHEMA = (
    "request_no int, index_uid string, doc_id long, score double, rank int"
)

#: appended (nullable) when any request uses exhaustive pagination
MULTI_SEARCH_PAGE_SCHEMA = MULTI_SEARCH_SCHEMA + (
    ", total_hits long, total_pages int, page int, hits_per_page int"
)

_PAGE_META_COLS = (
    ("total_hits", "long"),
    ("total_pages", "int"),
    ("page", "int"),
    ("hits_per_page", "int"),
)


def _rank_window(
    hits: DataFrame,
    requests: "list[dict]",
    req_nos: "list[int]",
    default_k: int,
) -> DataFrame:
    """Keep each request's rank window ``(offset, offset + k]`` of a
    group's gathered hits (query_id ``r<request_no>``). The windows are
    literal query_id -> offset / k maps in the filter, so trimming adds
    no join and no Spark job."""
    qid, rank = F.col("query_id"), F.col("rank")

    def lookup(key: str, default: int):
        return F.create_map(
            *(
                F.lit(x)
                for i in req_nos
                for x in (f"r{i}", int(requests[i].get(key, default)))
            )
        )[qid]

    off = lookup("offset", 0)
    return hits.filter((rank > off) & (rank <= off + lookup("k", default_k)))


def multi_search(
    indexes: "dict[str, InvertedIndex]",
    requests: "list[dict]",
    default_k: int = 10,
    embeddings: "dict[str, DataFrame] | None" = None,
) -> DataFrame:
    """Answer ``requests`` (each a dict with ``index_uid`` + ``q`` and
    optional ``k``/``offset``/``filter`` (Meilisearch filter string)/
    ``typo``/``matching_strategy``/``attributes_to_search_on``/
    ``prefix`` (Meilisearch last-word prefix search)/``proximity``
    (the Q11 proximity ranking criterion; the index needs a positions
    table)) ->
    (request_no, index_uid, doc_id, score, rank) with rank the ABSOLUTE
    1-based position in that request's ranking (offset semantics
    identical to ``search_many``). request_no is the 0-based position
    in ``requests`` — the per-request hit lists of the endpoint's
    ``results`` array, flattened with their request index.

    Each (index, filter, typo, matching_strategy, search_on, prefix,
    proximity) group is
    ONE search_many job; identical-option requests batch regardless of
    their k/offset. Unknown request keys and unknown index uids raise
    (the endpoint 400s).

    Requests carrying ``page`` / ``hits_per_page`` (Meilisearch
    exhaustive pagination) group by the same option key plus (page,
    hits_per_page) and each group is ONE batch paged call —
    ``search_many(page=, hits_per_page=)``: the shared top-k
    scatter-gather sliced to the page, plus one shard-count pass
    through the same block exchange for the per-request exhaustive
    totals (two jobs per group, not one job per request). When ANY
    request is paged the output gains nullable ``total_hits`` /
    ``total_pages`` / ``page`` / ``hits_per_page`` columns (null on
    offset/limit-mode rows), exactly mirroring the endpoint's
    per-entry response-shape split; with no paged request the schema
    is unchanged (MULTI_SEARCH_SCHEMA). The batch path composes typo
    WITH prefix and every matching strategy under pagination — the
    earlier single-query-path rejections are lifted.

    A request with ``hits_per_page == 0`` (the endpoint's count-only
    entry) contributes ONE metadata carrier row — NULL
    doc_id/score/rank, exhaustive ``total_hits``/``total_pages=0``
    from the same batch count pass — instead of silently vanishing
    from the flattened rows; count-only requests group and compose
    (filter / typo / prefix / attributesToSearchOn / any matching
    strategy) exactly like paged ones.

    HYBRID requests (late round 5): ``vector`` (the already-embedded
    query — this engine is model-agnostic like the reference, which
    delegates embedding to Meilisearch's configured embedder) plus
    optional ``hybrid: {semanticRatio, embedder, pool}`` fuse keyword
    and semantic rankings; requests group by (index, semanticRatio,
    pool, filter) and each group is ONE ``search_hybrid_many`` batch
    call. ``vector`` WITHOUT ``q`` is the endpoint's pure semantic
    search — stored-IVF probed when the index carries a vector layout,
    exact cosine otherwise, score = (1 + cos) / 2 (the semantic
    rankingScore). ``filter`` composes with both forms (the endpoint's
    filter + hybrid combination): the allowed ids restrict the keyword
    pools shard-locally and left-semi-restrict the embeddings /
    assigned-lists scans before scoring. Embeddings resolve from the
    ``embeddings`` map (index_uid -> DataFrame with vec_id/embedding)
    or the index's stored vector layout; the remaining keyword-only
    options (typo/prefix/search-on/strategies/pagination) are rejected
    loudly on vector requests."""
    if not requests:
        raise ValueError("multi_search needs at least one request")
    if not indexes:
        raise ValueError("multi_search needs at least one index")
    groups: "dict[tuple, list[int]]" = {}
    paged_reqs: "list[int]" = []
    hybrid_groups: "dict[tuple, list[int]]" = {}
    vector_groups: "dict[str, list[int]]" = {}
    for i, req in enumerate(requests):
        unknown = set(req) - _ALLOWED_KEYS
        if unknown:
            raise ValueError(
                f"request {i}: unknown key(s) {sorted(unknown)}; "
                f"supported: {sorted(_ALLOWED_KEYS)}"
            )
        required = ("index_uid",) if "vector" in req else ("index_uid", "q")
        for name in required:
            if name not in req:
                raise ValueError(f"request {i}: missing {name!r}")
        uid = req["index_uid"]
        if uid not in indexes:
            raise KeyError(
                f"request {i}: unknown index_uid {uid!r}; "
                f"have: {sorted(indexes)}"
            )
        for kk in ("k", "offset", "page", "hits_per_page"):
            v = req.get(kk)
            # paging keys count by presence: a null page is absent
            absent = v is None and kk in ("page", "hits_per_page")
            if kk not in req or absent:
                continue
            if isinstance(v, bool) or not isinstance(v, int):
                raise ValueError(
                    f"request {i}: {kk!r} must be an integer, got {v!r}"
                )
        if req.get("offset", 0) < 0 or req.get("k", default_k) < 1:
            raise ValueError(f"request {i}: k must be >= 1, offset >= 0")
        if "hybrid" in req and "vector" not in req:
            raise ValueError(
                f"request {i}: 'hybrid' needs a 'vector' (the "
                "endpoint's missing 'vector' error; this engine is "
                "model-agnostic — embed upstream)"
            )
        if "vector" in req:
            # paging keys count by presence: hits_per_page=0 is the
            # count-only form, not an absent option
            bad = [
                kk
                for kk in _HYBRID_INCOMPATIBLE
                if (
                    req.get(kk) is not None
                    if kk in ("page", "hits_per_page")
                    else req.get(kk)
                )
            ]
            if bad:
                raise ValueError(
                    f"request {i}: vector/hybrid does not compose "
                    f"with {bad}; drop them or use a keyword request"
                )
            hy = req.get("hybrid") or {}
            unknown_h = set(hy) - {"semanticRatio", "embedder", "pool"}
            if unknown_h:
                raise ValueError(
                    f"request {i}: unknown hybrid key(s) "
                    f"{sorted(unknown_h)}; supported: 'semanticRatio', "
                    "'embedder' (accepted, informational — embedding "
                    "happens upstream), 'pool'"
                )
            if req.get("q"):
                key = (
                    uid,
                    float(hy.get("semanticRatio", 0.5)),
                    hy.get("pool"),
                    req.get("filter"),
                )
                hybrid_groups.setdefault(key, []).append(i)
            else:
                # vector without q: the endpoint's PURE SEMANTIC search
                vector_groups.setdefault(
                    (uid, req.get("filter")), []
                ).append(i)
            continue
        if req.get("page") is not None or req.get("hits_per_page") is not None:
            paged_reqs.append(i)
            continue
        son = req.get("attributes_to_search_on")
        key = (
            uid,
            req.get("filter"),
            bool(req.get("typo")),
            req.get("matching_strategy", "last"),
            tuple(son) if son is not None else None,
            bool(req.get("prefix")),
            bool(req.get("proximity")),
        )
        groups.setdefault(key, []).append(i)

    spark = next(iter(indexes.values())).postings.sparkSession
    out: "DataFrame | None" = None
    for (uid, fexpr, typo, mstrat, son, pfx, prox), req_nos in groups.items():
        index = indexes[uid]
        filter_docs = None
        if fexpr:
            from meilibridge_spark.functions.filters import filter_doc_ids

            filter_docs = filter_doc_ids(index, fexpr)
        k_call = max(
            requests[i].get("k", default_k) + requests[i].get("offset", 0)
            for i in req_nos
        )
        batch = [(f"r{i}", requests[i]["q"]) for i in req_nos]
        hits = search_many(
            index,
            batch,
            k=k_call,
            filter_docs=filter_docs,
            typo=typo,
            matching_strategy=mstrat,
            attributes_to_search_on=son,
            prefix=pfx,
            proximity_rank=prox,
        )
        part = (
            _rank_window(hits, requests, req_nos, default_k)
            .select(
                F.expr("cast(substring(query_id, 2) as int)").alias(
                    "request_no"
                ),
                F.lit(uid).alias("index_uid"),
                "doc_id",
                "score",
                "rank",
            )
        )
        if paged_reqs:
            for col, typ in _PAGE_META_COLS:
                part = part.withColumn(col, F.lit(None).cast(typ))
        out = part if out is None else out.unionByName(part)
    paged_groups: "dict[tuple, list[int]]" = {}
    for i in paged_reqs:
        req = requests[i]
        son = req.get("attributes_to_search_on")
        key = (
            req["index_uid"],
            req.get("filter"),
            bool(req.get("typo")),
            req.get("matching_strategy", "last"),
            tuple(son) if son is not None else None,
            bool(req.get("prefix")),
            bool(req.get("proximity")),
            req.get("page"),
            req.get("hits_per_page"),
        )
        paged_groups.setdefault(key, []).append(i)
    for key, req_nos in paged_groups.items():
        uid, fexpr, typo, mstrat, son, pfx, prox, pg, hpp = key
        index = indexes[uid]
        filter_docs = None
        if fexpr:
            from meilibridge_spark.functions.filters import filter_doc_ids

            filter_docs = filter_doc_ids(index, fexpr)
        batch = [(f"r{i}", requests[i]["q"]) for i in req_nos]
        # carrier_empty_pages: a request whose page holds no hits still
        # answers with its exhaustive totals (one NULL-doc row) — the
        # endpoint always returns totalHits/totalPages per request
        hits = search_many(
            index,
            batch,
            page=pg,
            hits_per_page=hpp,
            filter_docs=filter_docs,
            typo=typo,
            matching_strategy=mstrat,
            attributes_to_search_on=son,
            prefix=pfx,
            proximity_rank=prox,
            carrier_empty_pages=True,
        )
        part = hits.select(
            F.expr("cast(substring(query_id, 2) as int)").alias(
                "request_no"
            ),
            F.lit(uid).alias("index_uid"),
            "doc_id",
            "score",
            F.col("rank").cast("int").alias("rank"),
            F.col("total_hits").cast("long").alias("total_hits"),
            F.col("total_pages").cast("int").alias("total_pages"),
            F.col("page").cast("int").alias("page"),
            F.col("hits_per_page").cast("int").alias("hits_per_page"),
        )
        out = part if out is None else out.unionByName(part)
    def _emb_for(uid: str, req_no: int) -> DataFrame:
        if embeddings and uid in embeddings:
            return embeddings[uid]
        v = getattr(indexes[uid], "vectors", None)
        if v is not None:
            return v.assigned  # stored layout: emb columns + centroid_id
        raise ValueError(
            f"request {req_no}: index {uid!r} has no embeddings — pass "
            "embeddings={'" + uid + "': df} or build a stored vector "
            "layout (jobs/build_vectors.py)"
        )

    for (uid, ratio, pool_opt, fexpr), req_nos in hybrid_groups.items():
        from meilibridge_spark.operators.hybrid import search_hybrid_many

        index = indexes[uid]
        emb = _emb_for(uid, req_nos[0])
        filter_docs = None
        if fexpr:
            from meilibridge_spark.functions.filters import filter_doc_ids

            filter_docs = filter_doc_ids(index, fexpr)
        k_call = max(requests[i].get("k", default_k) for i in req_nos)
        pool = max(
            int(pool_opt) if pool_opt is not None else max(30, k_call),
            k_call,
        )
        batch = [(f"r{i}", requests[i]["q"]) for i in req_nos]
        vecs = {f"r{i}": requests[i]["vector"] for i in req_nos}
        hits = search_hybrid_many(
            index, emb, batch, vecs,
            k=k_call, semantic_ratio=ratio, pool=pool,
            filter_docs=filter_docs,
        )
        part = (
            _rank_window(hits, requests, req_nos, default_k)
            .select(
                F.expr("cast(substring(query_id, 2) as int)").alias(
                    "request_no"
                ),
                F.lit(uid).alias("index_uid"),
                "doc_id",
                # the fused score IS the request's ranking score (both
                # sides blend on the [0, 1] _rankingScore scale)
                F.col("hybrid").alias("score"),
                F.col("rank").cast("int").alias("rank"),
            )
        )
        if paged_reqs:
            for col, typ in _PAGE_META_COLS:
                part = part.withColumn(col, F.lit(None).cast(typ))
        out = part if out is None else out.unionByName(part)

    for (uid, fexpr), req_nos in vector_groups.items():
        # vector without q: the endpoint's pure semantic search —
        # stored-IVF probing when the index carries a vector layout,
        # exact cosine otherwise; score = (1 + cos) / 2, Meilisearch's
        # semantic rankingScore. A filter left-semi-restricts the
        # embeddings (and assigned-lists) scan before scoring.
        from meilibridge_spark.operators.similarity import (
            cosine_topk,
            ivf_topk,
        )

        index = indexes[uid]
        emb = _emb_for(uid, req_nos[0])
        allowed = None
        if fexpr:
            from meilibridge_spark.functions.filters import filter_doc_ids

            allowed = filter_doc_ids(index, fexpr).select(
                F.col("doc_id").cast("long").alias("vec_id")
            )
            emb = emb.join(allowed, "vec_id", "left_semi")
        k_call = max(requests[i].get("k", default_k) for i in req_nos)
        qdf = local_frame(
            spark,
            [
                (f"r{i}", [float(x) for x in requests[i]["vector"]])
                for i in req_nos
            ],
            "query_id string, query_vec array<double>",
        )
        v = getattr(index, "vectors", None)
        if v is not None and not (embeddings and uid in embeddings):
            assigned = v.assigned
            if allowed is not None:
                assigned = assigned.join(allowed, "vec_id", "left_semi")
            hits = ivf_topk(
                emb, qdf, k=k_call,
                n_centroids=v.n_centroids, n_probe=v.n_probe,
                centroids=v.centroids, assigned=assigned,
                exclude_self=False,
            )
        else:
            hits = cosine_topk(emb, qdf, k=k_call, exclude_self=False)
        part = (
            _rank_window(hits, requests, req_nos, default_k)
            .select(
                F.expr("cast(substring(query_id, 2) as int)").alias(
                    "request_no"
                ),
                F.lit(uid).alias("index_uid"),
                F.col("vec_id").alias("doc_id"),
                F.round((F.lit(1.0) + F.col("cos")) / F.lit(2.0), 6).alias(
                    "score"
                ),
                F.col("rank").cast("int").alias("rank"),
            )
        )
        if paged_reqs:
            for col, typ in _PAGE_META_COLS:
                part = part.withColumn(col, F.lit(None).cast(typ))
        out = part if out is None else out.unionByName(part)

    # <= sum(k_i) rows total: sort them in one partition — a global
    # orderBy would range-partition them, sampling in extra jobs
    return out.coalesce(1).sortWithinPartitions("request_no", "rank")
