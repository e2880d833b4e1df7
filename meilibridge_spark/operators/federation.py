"""Federated multi-index search (Meilisearch ``POST /multi-search``
with ``federation``): one query ranked across SEVERAL indexes, hits
merged into a single list by weighted ranking score.

Meilisearch federation merges per-index hits on
``weightedRankingScore = _rankingScore * weight`` (docs.meilisearch.com
multi-search, federated mode). This engine's absolute [0, 1]
``_ranking_score`` (operators/relational.ranking_scores — the
documented showRankingScore analog) plays that role: raw BM25 sums are
NOT comparable across indexes with different corpora/analyzers, the
normalized rule-wise score is.

Plan shape: each target contributes its own bounded top-k (the same
plans the single-index paths use — scatter-gather, pushed term
filters); the federation itself is a unionByName of T tiny (<= k row)
DataFrames and one ordered limit — no cross-index shuffle of anything
doc-granular, so federating T indexes costs T independent searches
plus an O(T*k) merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

from meilibridge_spark.functions.tokenizer import parse_query
from meilibridge_spark.operators.relational import (
    facet_distribution_exhaustive,
    ranking_scores,
)
from meilibridge_spark.operators.search import InvertedIndex, search
from meilibridge_spark.session import local_frame


def federated_search(
    targets: "list[tuple[str, InvertedIndex, float]]",
    query: str,
    k: "int | None" = None,
    per_index_kwargs: "dict[str, dict] | None" = None,
    query_vec: "list[float] | None" = None,
    embeddings: "dict[str, DataFrame] | None" = None,
    semantic_ratio: float = 0.5,
    pool: int = 30,
) -> DataFrame:
    """One ``query`` across ``targets`` = [(index_uid, index, weight)]
    -> global top-k (index_uid, doc_id, score, ranking_score,
    weighted_ranking_score), ordered by weighted score desc with
    (score desc, index_uid, doc_id) as the deterministic tie-break.

    ``weight`` is Meilisearch's federation weight (>= 0, default 1.0
    — boosts or demotes a whole index). ``per_index_kwargs`` forwards
    extra search() options (filter_docs, attributes_to_search_on, ...)
    to specific targets by uid, like per-query options in the
    multi-search body.

    HYBRID federation (second r5 session — Meilisearch v1.10 federated
    hybrid): with ``query_vec`` set, every target that has an entry in
    ``embeddings`` (uid -> embeddings DataFrame) answers through
    :func:`~meilibridge_spark.operators.hybrid.search_hybrid` and its
    FUSED [0, 1] score plays the ranking-score role in the weighted
    merge — exactly Meilisearch's contract, where a hybrid query's
    ``_rankingScore`` IS the fused score. Targets without embeddings
    stay keyword-only (mixed federations merge on the shared [0, 1]
    scale); a target whose analyzer yields no tokens serves
    PURE-SEMANTIC hits ((1 + cos) / 2) instead of being skipped. A
    per-target ``filter_docs`` in ``per_index_kwargs`` composes with
    the hybrid form too (pure-semantic hits included); any other
    per-target key on a hybrid target raises ``ValueError``.
    """
    if not targets:
        raise ValueError("federated_search needs at least one target")
    uids = [u for u, _, _ in targets]
    if len(set(uids)) != len(uids):
        raise ValueError(f"duplicate index_uid in targets: {uids}")
    parts = []
    for uid, index, weight in targets:
        if weight < 0:
            raise ValueError(f"weight for {uid!r} must be >= 0, got {weight}")
        kk = k or index.cfg.max_total_hits
        kw = (per_index_kwargs or {}).get(uid, {})
        n_q = len(parse_query(query, index.cfg.analyzer))
        emb = (embeddings or {}).get(uid) if query_vec is not None else None
        if emb is not None:
            from meilibridge_spark.operators.hybrid import search_hybrid
            from meilibridge_spark.operators.similarity import cosine_topk

            unsupported = sorted(set(kw) - {"filter_docs"})
            if unsupported:
                raise ValueError(
                    f"hybrid target {uid!r}: per_index_kwargs "
                    f"{unsupported} do not compose with query_vec; "
                    "only 'filter_docs' does"
                )
            filter_docs = kw.get("filter_docs")
            if n_q == 0:
                # no indexable tokens: the target serves pure semantic
                # hits — (1 + cos) / 2 is its ranking score; a filter
                # left-semi-restricts the embeddings before scoring
                if filter_docs is not None:
                    emb = emb.join(
                        filter_docs.select(
                            F.col("doc_id").cast("long").alias("vec_id")
                        ),
                        "vec_id",
                        "left_semi",
                    )
                qdf = local_frame(
                    emb.sparkSession,
                    [("q", [float(x) for x in query_vec])],
                    "query_id string, query_vec array<double>",
                )
                sem = cosine_topk(
                    emb, qdf, k=kk, exclude_self=False
                ).select(
                    F.col("vec_id").alias("doc_id"),
                    ((F.lit(1.0) + F.col("cos")) / F.lit(2.0)).alias(
                        "_rs"
                    ),
                )
            else:
                hy = search_hybrid(
                    index, emb, query, list(query_vec), k=kk,
                    semantic_ratio=semantic_ratio, pool=max(pool, kk),
                    filter_docs=filter_docs,
                )
                sem = hy.select(
                    "doc_id", F.col("hybrid").alias("_rs")
                )
            parts.append(
                sem.select(
                    F.lit(uid).alias("index_uid"),
                    "doc_id",
                    F.col("_rs").alias("score"),
                    F.col("_rs").alias("ranking_score"),
                    (F.col("_rs") * F.lit(float(weight))).alias(
                        "weighted_ranking_score"
                    ),
                )
            )
            continue
        if n_q == 0:
            continue
        hits = search(index, query, kk, **kw)
        scored = ranking_scores(hits, n_query_terms=n_q)
        parts.append(
            scored.select(
                F.lit(uid).alias("index_uid"),
                "doc_id",
                "score",
                F.col("_ranking_score").alias("ranking_score"),
                (F.col("_ranking_score") * F.lit(float(weight))).alias(
                    "weighted_ranking_score"
                ),
            )
        )
    spark = targets[0][1].postings.sparkSession
    schema = (
        "index_uid string, doc_id long, score double, "
        "ranking_score double, weighted_ranking_score double"
    )
    if not parts:
        return local_frame(spark, [], schema)
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.unionByName(p)
    return merged.orderBy(
        F.col("weighted_ranking_score").desc(),
        F.col("score").desc(),
        F.col("index_uid").asc(),
        F.col("doc_id").asc(),
    ).limit(k or max(t[1].cfg.max_total_hits for t in targets))


def federated_facets(
    targets: "list[tuple[str, InvertedIndex, float]]",
    query: str,
    facets_by_index: "dict[str, list[str]]",
    merge: bool = False,
    max_values: int = 100,
    per_index_filter_docs: "dict[str, DataFrame] | None" = None,
) -> DataFrame:
    """Meilisearch v1.11 federated facets: ``federation.facetsByIndex``
    (per-index facet distributions over each index's FULL candidate
    set for the shared ``query``) and ``federation.mergeFacets``
    (``merge=True``: one distribution, counts summed across indexes,
    capped at ``max_values`` values per facet — Meilisearch's
    ``mergeFacets.maxValuesPerFacet``).

    Output: ``(index_uid, facet, value, count)`` per-index, or
    ``(facet, value, count)`` merged; values alphabetical within each
    facet (the engine's facet ordering, matching
    relational.facet_distribution).

    Plan shape: one exhaustive candidate resolution per index (the
    same pruned posting scan + semi-join facet_distribution_exhaustive
    pays — Meilisearch computes federation facets from each index's
    full candidate bitmap, not the merged hit page), then a union of
    T tiny aggregated frames; the merge GROUPs only aggregated
    (facet, value) counts, never doc-granular rows.
    """
    if not targets:
        raise ValueError("federated_facets needs at least one target")
    uid_of = {u: idx for u, idx, _ in targets}
    unknown = sorted(set(facets_by_index) - set(uid_of))
    if unknown:
        raise ValueError(
            f"facetsByIndex names unknown index_uid(s) {unknown}; "
            f"targets are {sorted(uid_of)}"
        )
    parts = []
    for uid, attrs in sorted(facets_by_index.items()):
        if not attrs:
            continue
        filt = (per_index_filter_docs or {}).get(uid)
        # merged mode caps AFTER summing across indexes (Meilisearch's
        # mergeFacets.maxValuesPerFacet) — a per-index cap here would
        # silently drop counts from values that survive the merge
        per_index_cap = (1 << 31) - 1 if merge else max_values
        dist = facet_distribution_exhaustive(
            uid_of[uid], query, list(attrs), filter_docs=filt,
            max_values=per_index_cap,
        )
        parts.append(dist.select(F.lit(uid).alias("index_uid"), "*"))
    spark = targets[0][1].postings.sparkSession
    if not parts:
        schema = "facet string, value string, count bigint"
        if not merge:
            schema = "index_uid string, " + schema
        return local_frame(spark, [], schema)
    dists = parts[0]
    for p in parts[1:]:
        dists = dists.unionByName(p)
    if not merge:
        return dists.orderBy("index_uid", "facet", "value")
    merged = (
        dists.groupBy("facet", "value")
        .agg(F.sum("count").alias("count"))
    )
    w = Window.partitionBy("facet").orderBy(F.col("value").asc())
    return (
        merged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_values)
        .drop("_rn")
        .orderBy("facet", "value")
    )


def network_federated_search(
    spark,
    root: str,
    query: str,
    targets: "list[dict]",
    k: "int | None" = None,
) -> "tuple[DataFrame, dict]":
    """Remote federated search (the Meilisearch v1.13 ``network``
    feature): one ``query`` fanned out across indexes that live in
    OTHER instance roots on shared storage (``sources/network.py``
    registry — the no-socket analog of Meilisearch's HTTP remotes).

    ``targets``: the federated request's query list —
    ``{"indexUid": uid, "remote": name | None, "weight": float}``
    per entry (``remote`` None or equal to the network's ``self``
    targets the local ``root``). Each resolvable target is loaded
    from ``{remote_root}/{indexUid}`` with its STORED config
    (snapshots carry their full build settings) and searched exactly
    like :func:`federated_search`; the global merge is the same
    weighted-ranking-score order.

    Returns ``(hits, remote_errors)``: hits carry ``remote`` +
    ``index_uid`` columns (the endpoint's per-hit ``_federation``
    object), and ``remote_errors`` maps ``"remote/indexUid"`` to
    ``{"message", "code"}`` for targets that failed to resolve or
    load — the endpoint's partial-failure contract (the search
    succeeds with the remotes that answered; errors are reported,
    never raised mid-merge).

    Plan shape: identical to :func:`federated_search` — T independent
    bounded top-k plans + an O(T*k) merge; loading a remote index is
    a manifest read + lazy parquet scans, so a remote target costs
    the same as a local one. At 100 TB the remote roots are the SAME
    object store the local indexes live in — fan-out adds zero data
    movement beyond each index's own pruned scans.
    """
    from meilibridge_spark.sources.network import get_network
    from meilibridge_spark.sources.tables import (
        load_snapshot,
        stored_index_config,
    )

    if not targets:
        raise ValueError("network_federated_search needs >= 1 target")
    net = get_network(root)
    loaded: "list[tuple[str, InvertedIndex, float]]" = []
    remote_errors: "dict[str, dict]" = {}
    for t in targets:
        uid = t["indexUid"]
        rname = t.get("remote")
        label_remote = rname or net.get("self") or "self"
        label = f"{label_remote}/{uid}"
        try:
            if rname is None or rname == net.get("self"):
                rroot = root
            else:
                remotes = net.get("remotes", {})
                if rname not in remotes:
                    raise KeyError(
                        f"remote {rname!r} is not in the network "
                        f"(have: {sorted(remotes)})"
                    )
                rroot = remotes[rname]["root"]
            index_dir = f"{rroot}/{uid}"
            cfg = stored_index_config(index_dir)
            if cfg is None:
                raise FileNotFoundError(
                    f"index {uid!r} at remote {label_remote!r} has no "
                    "stored config (pre-full-config snapshot)"
                )
            idx = load_snapshot(spark, index_dir, cfg)
            loaded.append((label, idx, float(t.get("weight", 1.0))))
        except Exception as e:  # noqa: BLE001 — the endpoint contract:
            # per-remote failures become remoteErrors, never a raise
            remote_errors[label] = {
                "message": str(e),
                "code": type(e).__name__,
            }
    schema = (
        "remote string, index_uid string, doc_id long, score double, "
        "ranking_score double, weighted_ranking_score double"
    )
    if not loaded:
        return local_frame(spark, [], schema), remote_errors
    hits = federated_search(loaded, query, k)
    split = F.split(F.col("index_uid"), "/", 2)
    hits = hits.select(
        split.getItem(0).alias("remote"),
        split.getItem(1).alias("index_uid"),
        "doc_id",
        "score",
        "ranking_score",
        "weighted_ranking_score",
    )
    return hits, remote_errors
