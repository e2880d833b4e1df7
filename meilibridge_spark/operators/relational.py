"""Relational post-processing of hit sets (SURVEY.md §2B Q6-Q10).

These are the Meilisearch settings the reference ships
(config/type.go:55-96) re-expressed as stock DataFrame ops over
(hits ⋈ docs): faceting, sort override, distinct attribute, displayed
attributes. All JVM-side Catalyst plans — no UDFs.

Scale contract: the hit set is only broadcast when the caller attests a
row bound (``hit_bound``) within ``MAX_BROADCAST_HITS``. Unbounded hit
sets (facet/sort/distinct over ALL matching docs of a hot term — tens
of millions of rows at 100 TB) take a plain shuffle join and let
Catalyst/AQE pick the strategy from stats instead of a forced hint
that would OOM the executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from meilibridge_spark.session import local_frame

#: Forced-broadcast ceiling for hit sets: ~100k rows of
#: (doc_id, score, matched_terms) is ~2 MB serialized — safely below
#: any executor budget. Above it (or with no bound at all) the join
#: shuffles; AQE may still choose broadcast from *measured* sizes.
MAX_BROADCAST_HITS = 100_000


def _maybe_broadcast(hits: DataFrame, hit_bound: "int | None") -> DataFrame:
    if hit_bound is not None and hit_bound <= MAX_BROADCAST_HITS:
        return F.broadcast(hits)
    return hits


def hits_with_docs(
    hits: DataFrame,
    docs: DataFrame,
    attrs: "list[str]",
    hit_bound: "int | None" = None,
) -> DataFrame:
    """hits(doc_id, score, ...) ⋈ docs on doc_id, keeping score + attrs.

    ``hit_bound``: caller-attested upper bound on the hit row count
    (usually the top-k ``k``). Bounded small hit sets are broadcast;
    unbounded ones shuffle (see module docstring).
    """
    return _maybe_broadcast(hits, hit_bound).join(
        docs.select("doc_id", *attrs), "doc_id"
    )


def with_vectors(
    hits: DataFrame,
    embeddings,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    hit_bound: "int | None" = None,
) -> DataFrame:
    """Meilisearch ``retrieveVectors: true`` (v1.10): attach each hit's
    stored embedding as a ``_vectors`` column (NULL when the document
    has none — the endpoint's ``_vectors: {}`` case).

    ``embeddings`` is an embeddings DataFrame ``(id_col, vec_col)`` or
    a stored :class:`~meilibridge_spark.sources.tables.VectorIndex`
    (its partitioned ``assigned`` table is probed; ``id_col``/
    ``vec_col`` then come from the layout).

    Plan shape: the big embeddings table is probed with a broadcast
    INNER join on the (bounded) hit ids — never the preserved side of
    an outer join, which Spark can't broadcast — then the <=|hits|-row
    probe result left-joins back onto the hits. One pruned scan of two
    embedding columns; no embeddings shuffle.
    """
    from meilibridge_spark.sources.tables import VectorIndex

    if isinstance(embeddings, VectorIndex):
        id_col, vec_col = embeddings.id_col, embeddings.vec_col
        embeddings = embeddings.assigned
    ids = _maybe_broadcast(hits.select("doc_id"), hit_bound)
    probe = embeddings.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(vec_col).alias("_vectors"),
    ).join(ids, "doc_id")
    return hits.join(probe, "doc_id", "left")


def facet_counts(
    hits: DataFrame,
    docs: DataFrame,
    attr: str,
    max_values: int = 100,
    hit_bound: "int | None" = None,
    sort_by: str = "alpha",
) -> DataFrame:
    """Q8: per-facet value counts over matching docs, <= max_values
    (faceting.max_values_per_facet, config/type.go:86-88).

    ``sort_by``: Meilisearch sortFacetValuesBy — 'alpha' (default,
    lexicographic) or 'count' (count desc, value asc tie-break).

    Counts need only doc identity, so the hit set is projected down to
    ``doc_id`` before the join — the shuffle moves 8-byte keys, not
    scores, and the post-join aggregation is a map-side-combined count.
    """
    if sort_by not in ("alpha", "count"):
        raise ValueError(f"sort_by must be 'alpha' or 'count', got {sort_by!r}")
    order = (
        [F.col(attr).asc()]
        if sort_by == "alpha"
        else [F.col("count").desc(), F.col(attr).asc()]
    )
    ids = _maybe_broadcast(hits.select("doc_id"), hit_bound)
    return (
        ids.join(docs.select("doc_id", attr), "doc_id")
        .groupBy(attr)
        .agg(F.count("*").alias("count"))
        .orderBy(*order)
        .limit(max_values)
    )


def facet_search(
    hits: "DataFrame | None",
    docs: DataFrame,
    attr: str,
    facet_query: "str | None" = None,
    max_values: int = 100,
    hit_bound: "int | None" = None,
    sort_by: "str | None" = None,
    cfg: "IndexConfig | None" = None,
) -> DataFrame:
    """Q8 facet-value search (Meilisearch ``POST /indexes/{uid}/facet-search``):
    facet values of ``attr`` whose string form starts with ``facet_query``
    (case-insensitive, like Meilisearch's charabia-normalized match;
    diacritic folding is out of scope for this ASCII corpus), each with
    its matching-document count -> (value, count), <= ``max_values``
    (the endpoint's hard 100-value cap is the caller's default).
    With ``cfg``, the index's typoTolerance applies to the facet query
    exactly like the endpoint: a query >= minWordSizeForTypos.oneTypo
    chars also matches values whose same-length prefix is within the
    1-or-2-edit budget (disableOnWords / disableOnNumbers zero it;
    body comment records the whole-query-budget simplification).

    ``hits=None`` is the no-``q`` form of the endpoint: values counted
    over the whole index. With ``hits``, counts are restricted to the
    matching docs exactly like :func:`facet_counts`.

    ``sort_by=None`` (the default) resolves the rule from the index's
    ``faceting.sortFacetValuesBy`` map when ``cfg`` is given — the
    per-facet override for ``attr`` if one exists, else the map's
    ``"*"`` default — exactly how the endpoint orders facetHits from
    the index settings; without ``cfg`` it falls back to 'alpha'. An
    explicit ``sort_by`` always wins.

    Plan shape: the prefix predicate is applied to the doc side BEFORE
    the join/aggregation, so non-matching values never reach the
    shuffle; the count is map-side combinable and at most one value per
    distinct facet value survives to the (tiny) ordered limit.
    """
    if sort_by is None:
        if cfg is not None:
            m = cfg.facet_sort_map()
            sort_by = m.get(attr, m.get("*", "alpha"))
        else:
            sort_by = "alpha"
    if sort_by not in ("alpha", "count"):
        raise ValueError(f"sort_by must be 'alpha' or 'count', got {sort_by!r}")
    if cfg is not None and not cfg.facet_search:
        # v1.12 facetSearch=false: the endpoint is disabled per index
        # (Meilisearch invalid_facet_search_disabled — a loud 400, not
        # an empty result). Pass cfg=None to use this as a bare
        # relational primitive outside the endpoint analog.
        from meilibridge_spark.config import ConfigError

        raise ConfigError(
            f"facet search is disabled for index {cfg.index_name!r} "
            "(facet_search=False)"
        )
    if cfg is not None:
        feats = cfg.filter_features(attr)
        if feats is not None and not feats.get("facet_search", True):
            # v1.12 per-attribute feature (invalid_facet_search_facet_name
            # analog): the attribute's filterableAttributes rule opts it
            # out of the facet-search endpoint. Undeclared attributes
            # stay permitted — this operator doubles as a bare
            # relational primitive (documented relaxation).
            from meilibridge_spark.config import ConfigError

            raise ConfigError(
                f"attribute {attr!r} is not facet-searchable: its "
                "filterableAttributes rule sets facetSearch=false"
            )
    vals = docs.select(
        "doc_id", F.col(attr).cast("string").alias("value")
    ).where(F.col("value").isNotNull())
    if facet_query:
        # Meilisearch facet search honors the index's typoTolerance:
        # the typo budget comes from the QUERY's length against
        # minWordSizeForTypos (0 under one_typo, 1 under two_typos,
        # else 2), disableOnWords/disableOnNumbers zero it. A value
        # matches when its len(q)-char prefix is within the budget of
        # the query (values shorter than q accrue the missing chars as
        # edits, so they only match within budget). Simplification vs
        # the endpoint (recorded): the budget is whole-query, not
        # per-word charabia segmentation. budget=0 keeps the plain
        # startswith predicate (scan-pushable); a positive budget pays
        # one levenshtein per distinct value row — the typo price.
        q = facet_query.lower()
        budget = 0
        tcfg = cfg.typo if cfg is not None else None
        if tcfg is not None and tcfg.enabled:
            if q in tcfg.disable_on_words:
                budget = 0
            elif tcfg.disable_on_numbers and any(
                ch.isdigit() for ch in q
            ):
                budget = 0
            elif len(q) >= tcfg.two_typos:
                budget = 2
            elif len(q) >= tcfg.one_typo:
                budget = 1
        if budget:
            vals = vals.where(
                F.levenshtein(
                    F.lower(F.substring(F.col("value"), 1, len(q))),
                    F.lit(q),
                )
                <= budget
            )
        else:
            vals = vals.where(F.lower(F.col("value")).startswith(q))
    if hits is not None:
        vals = _maybe_broadcast(hits.select("doc_id"), hit_bound).join(
            vals, "doc_id"
        )
    order = (
        [F.col("value").asc()]
        if sort_by == "alpha"
        else [F.col("count").desc(), F.col("value").asc()]
    )
    return (
        vals.groupBy("value")
        .agg(F.count("*").alias("count"))
        .orderBy(*order)
        .limit(max_values)
    )


def facet_distribution(
    hits: DataFrame,
    docs: DataFrame,
    attrs: "list[str]",
    max_values: int = 100,
    hit_bound: "int | None" = None,
    sort_by: "str | dict" = "alpha",
) -> DataFrame:
    """Q8 multi-facet form (Meilisearch facetDistribution): value counts
    for SEVERAL facet attributes over the matching docs in ONE job ->
    (facet, value, count), <= max_values values per facet.
    ``sort_by`` maps the ``faceting.sortFacetValuesBy`` index setting:
    'alpha' (default, lexicographic within each facet) or 'count'
    (count-desc, value-asc ties) — the cap keeps the TOP values under
    the chosen order, exactly the setting's semantics. The endpoint's
    FULL map form is accepted too: a dict ``{"*": <default>,
    <facet>: <rule>, ...}`` applies a PER-FACET rule
    (``IndexConfig.facet_sort_map()`` builds it from the index
    settings) — implemented as ONE window whose sort key encodes each
    facet's rule (``-count`` primary for count-ordered facets, a
    constant for alpha ones), so the per-facet rules cost no extra
    shuffle over the single-rule form.

    One join + one explode of per-row (facet, value) structs + one
    map-side-combined count; the per-facet cap is a window over the
    (tiny) aggregated counts — never over hit rows.
    """
    ids = _maybe_broadcast(hits.select("doc_id"), hit_bound)
    pairs = ids.join(docs.select("doc_id", *attrs), "doc_id").select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(a).alias("facet"),
                        F.col(a).cast("string").alias("value"),
                    )
                    for a in attrs
                ]
            )
        ).alias("fv")
    )
    counts = (
        pairs.select("fv.facet", "fv.value")
        .where(F.col("value").isNotNull())
        .groupBy("facet", "value")
        .agg(F.count("*").alias("count"))
    )
    if isinstance(sort_by, dict):
        bad = {
            r for r in sort_by.values() if r not in ("alpha", "count")
        }
        if bad:
            raise ValueError(
                f"sort_by rules must be 'alpha' or 'count', got {bad}"
            )
        default = sort_by.get("*", "alpha")
        count_facets = [
            a for a in attrs
            if sort_by.get(a, default) == "count"
        ]
        if not count_facets:
            order = [F.col("value").asc()]
        elif len(count_facets) == len(attrs):
            order = [F.col("count").desc(), F.col("value").asc()]
        else:
            # one window for every facet: the primary key encodes the
            # per-facet rule — count-ordered facets sort by -count
            # (desc), alpha facets by a constant, then value asc ties
            primary = F.when(
                F.col("facet").isin(count_facets), -F.col("count")
            ).otherwise(F.lit(0))
            order = [primary.asc(), F.col("value").asc()]
    else:
        if sort_by not in ("alpha", "count"):
            raise ValueError(
                f"sort_by must be 'alpha' or 'count', got {sort_by!r}"
            )
        order = (
            [F.col("value").asc()]
            if sort_by == "alpha"
            else [F.col("count").desc(), F.col("value").asc()]
        )
    w = Window.partitionBy("facet").orderBy(*order)
    return (
        counts.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_values)
        .drop("_rn")
        .orderBy(F.col("facet"), *order)
    )


def facet_distribution_exhaustive(
    index,
    query_text: str,
    attrs: "list[str]",
    filter_docs: "DataFrame | None" = None,
    max_values: int = 100,
) -> DataFrame:
    """Meilisearch-EXACT facetDistribution: value counts over ALL
    documents matching the query (default 'last' OR semantics — at
    least one query term after synonym expansion) and the filter, not
    just the top max_total_hits page the bounded
    :func:`facet_counts`/:func:`facet_distribution` analogs count
    (Meilisearch computes facets from the full candidate bitmap before
    pagination; the bounded forms remain the cheap page-level option).

    Cost at scale: one pruned posting scan of the query terms ->
    distinct candidate ids (the only doc-granular shuffle, the same
    bitmap walk Meilisearch pays), one semi-join against the docs
    scan, one map-side-combined count per (facet, value). No hit
    ranking, no top-k machinery."""
    from meilibridge_spark.functions.tokenizer import parse_query
    from meilibridge_spark.operators.search import candidate_rows

    terms = parse_query(query_text, index.cfg.analyzer)
    if not terms:
        return local_frame(
            index.docs.sparkSession,
            [],
            "facet string, value string, count bigint",
        )
    cand = candidate_rows(index, terms).select("doc_id").distinct()
    if filter_docs is not None:
        cand = cand.join(
            filter_docs.select("doc_id"), "doc_id", "left_semi"
        )
    return facet_distribution(cand, index.docs, attrs, max_values)


def facet_stats(
    hits: DataFrame,
    docs: DataFrame,
    attr: str,
    hit_bound: "int | None" = None,
) -> DataFrame:
    """Q8 numeric-facet stats (Meilisearch facetStats): min/max of a
    numeric attribute over the matching docs -> one row
    (facet_min, facet_max, n_docs)."""
    ids = _maybe_broadcast(hits.select("doc_id"), hit_bound)
    return ids.join(docs.select("doc_id", attr), "doc_id").agg(
        F.min(attr).alias("facet_min"),
        F.max(attr).alias("facet_max"),
        F.count("*").alias("n_docs"),
    )


def distinct_hits(
    hits: DataFrame,
    docs: DataFrame,
    attr: str,
    hit_bound: "int | None" = None,
) -> DataFrame:
    """Q10: keep the best-scoring hit per attribute value
    (distinct_attribute, config/type.go:57). Ordering inside each group
    pins floats via 1e-9 rounding + doc_id tie-break."""
    w = Window.partitionBy(attr).orderBy(
        F.round(F.col("score"), 9).desc(), F.col("doc_id").asc()
    )
    return (
        hits_with_docs(hits, docs, [attr], hit_bound)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def sort_hits(
    hits: DataFrame,
    docs: DataFrame,
    sort_attrs: "list[tuple[str, bool]]",
    k: "int | None" = None,
    hit_bound: "int | None" = None,
) -> DataFrame:
    """Q9: user sort overrides relevancy order (sortable_attributes,
    config/type.go:63). sort_attrs = [(col, ascending)]; relevancy then
    doc_id remain the final tie-breaks. With ``k`` the sort compiles to
    a bounded TakeOrderedAndProject, never a global sort."""
    attrs = [a for a, _ in sort_attrs]
    order = [
        (F.col(a).asc() if asc else F.col(a).desc()) for a, asc in sort_attrs
    ] + [F.round(F.col("score"), 9).desc(), F.col("doc_id").asc()]
    out = hits_with_docs(hits, docs, attrs, hit_bound).orderBy(*order)
    return out.limit(k) if k else out


def geo_sort_hits(
    hits: DataFrame,
    docs: DataFrame,
    geo_attrs: "tuple[str, str]",
    lat: float,
    lng: float,
    ascending: bool = True,
    k: "int | None" = None,
    hit_bound: "int | None" = None,
) -> DataFrame:
    """Meilisearch ``_geoPoint(lat, lng):asc|desc`` sort rule: order
    hits by great-circle distance to the point and add the
    ``_geoDistance`` response field (whole meters, like the endpoint).
    Documents without coordinates sort AFTER located ones in either
    direction (Meilisearch geosearch semantics); relevancy then doc_id
    remain the final tie-breaks. With ``k`` this stays a bounded
    TakeOrderedAndProject like :func:`sort_hits` — the distance is one
    codegen'd expression per surviving hit, never a global sort."""
    from meilibridge_spark.functions.geo import (
        _check_lat_lng,
        haversine_meters,
    )

    _check_lat_lng(lat, lng, "_geoPoint")
    lat_col, lng_col = geo_attrs
    dist = haversine_meters(F.col(lat_col), F.col(lng_col), lat, lng)
    out = hits_with_docs(hits, docs, list(geo_attrs), hit_bound).withColumn(
        "_geoDistance", F.round(dist).cast("long")
    )
    order = [
        (
            F.col("_geoDistance").asc_nulls_last()
            if ascending
            else F.col("_geoDistance").desc_nulls_last()
        ),
        F.round(F.col("score"), 9).desc(),
        F.col("doc_id").asc(),
    ]
    out = out.orderBy(*order)
    return out.limit(k) if k else out


def display(
    hits: DataFrame,
    docs: DataFrame,
    attrs: "list[str]",
    hit_bound: "int | None" = None,
) -> DataFrame:
    """Q6: displayed_attributes projection of returned hits
    (config/type.go:59)."""
    return hits_with_docs(hits, docs, list(attrs), hit_bound).select(
        "doc_id", *attrs, "score"
    )


def _boundary_class(token_pattern: str) -> str:
    """Char class for highlight word boundaries, derived from the
    analyzer's token pattern when it is a plain ``[...]+`` class
    (both default patterns are); else the \\w fallback."""
    import re as _re

    m = _re.fullmatch(r"\[(.+)\]\+", token_pattern)
    return m.group(1) if m else r"\w"


def highlight_hits(
    hits: DataFrame,
    docs: DataFrame,
    query_terms: "list[str]",
    attributes: "tuple[str, ...]" = ("text",),
    pre_tag: str = "<em>",
    post_tag: str = "</em>",
    token_pattern: str = r"[^\W_]+",
    hit_bound: "int | None" = None,
) -> DataFrame:
    """Meilisearch ``attributesToHighlight`` analog (the ``_formatted``
    response object): wrap every standalone occurrence of a query term
    in ``pre_tag``/``post_tag`` inside each requested attribute ->
    hits' columns + one ``_formatted_<attr>`` per attribute.

    ``query_terms``: the analyzed (and synonym/typo-expanded, if the
    caller expanded) term list — pass ``parse_query(query, analyzer)``;
    expanded alternates highlight like Meilisearch's derived matches.
    Matching is case-insensitive (the analyzer lowercases) and bounded
    by the analyzer's token class on both sides, so 'join' does not
    highlight inside 'joining'. One JVM regexp_replace per attribute —
    no UDFs, scales with the hits⋈docs join it rides on.
    """
    import re as _re

    joined = hits_with_docs(hits, docs, list(attributes), hit_bound)
    terms = [t for t in dict.fromkeys(query_terms) if t]
    if not terms:
        for a in attributes:
            joined = joined.withColumn(f"_formatted_{a}", F.col(a))
        return joined
    cls = _boundary_class(token_pattern)
    alts = "|".join(
        _re.escape(t) for t in sorted(terms, key=len, reverse=True)
    )
    pat = f"(?i)(?<![{cls}])({alts})(?![{cls}])"
    repl = (
        pre_tag.replace("\\", "\\\\").replace("$", "\\$")
        + "$1"
        + post_tag.replace("\\", "\\\\").replace("$", "\\$")
    )
    for a in attributes:
        joined = joined.withColumn(
            f"_formatted_{a}", F.regexp_replace(F.col(a), pat, repl)
        )
    return joined


def crop_hits(
    hits: DataFrame,
    docs: DataFrame,
    query_terms: "list[str]",
    attributes: "tuple[str, ...]" = ("text",),
    crop_length: int = 10,
    crop_marker: str = "…",
    hit_bound: "int | None" = None,
) -> DataFrame:
    """Meilisearch ``attributesToCrop``/``cropLength`` analog: per
    requested attribute, a ``_cropped_<attr>`` column holding a
    ``crop_length``-word window around the BEST match window
    (case-insensitive whole-word equality), clamped to the text, with
    ``crop_marker`` on each truncated side. "Best" is Meilisearch's
    multi-match rule made precise: among the query-term match
    positions, anchor on the one whose (clamped) window contains the
    MOST term occurrences, earliest anchor on ties — so a document
    mentioning one term in passing and three terms together crops
    around the cluster, like the endpoint. No match (or no terms) ->
    the leading ``crop_length`` words. Pure Catalyst array ops (the
    densest-window scan is a nested higher-order transform/filter over
    the per-row match-position array — O(matches²) on a bounded row,
    no UDFs, no shuffle).

    Each entry in ``attributes`` may carry the endpoint's per-attribute
    length suffix (``attributesToCrop: ["text:5", "title"]``):
    ``"attr:N"`` crops that attribute to N words, overriding
    ``crop_length`` exactly like Meilisearch.
    """
    if crop_length < 1:
        raise ValueError(f"crop_length must be >= 1, got {crop_length}")
    parsed: "list[tuple[str, int]]" = []
    for a in attributes:
        name, sep, ln = str(a).partition(":")
        if sep:
            try:
                a_len = int(ln)
            except ValueError:
                raise ValueError(
                    f"attributesToCrop entry {a!r}: the ':N' suffix "
                    "must be an integer word count"
                ) from None
            if a_len < 1:
                raise ValueError(
                    f"attributesToCrop entry {a!r}: crop length must "
                    "be >= 1"
                )
        else:
            a_len = crop_length
        parsed.append((name, a_len))
    joined = hits_with_docs(
        hits, docs, [name for name, _ in parsed], hit_bound
    )
    terms = [t.lower() for t in dict.fromkeys(query_terms) if t]
    for a, crop_length in parsed:
        half, last = crop_length // 2, crop_length - 1
        words = F.split(F.col(a), r"\s+")
        n = F.size(words)
        lower = F.transform(words, lambda w: F.lower(w))
        if terms:
            # 1-based positions of every query-term occurrence
            matches = F.filter(
                F.transform(
                    lower,
                    lambda x, i: F.when(x.isin(terms), i + 1).otherwise(
                        F.lit(-1)
                    ),
                ),
                lambda p: p > 0,
            )

            def _start_of(anchor_col):
                s = F.greatest(F.lit(1), anchor_col - F.lit(half))
                return F.least(s, F.greatest(F.lit(1), n - F.lit(last)))

            # occurrences inside each candidate anchor's clamped window
            counts = F.transform(
                matches,
                lambda p: F.size(
                    F.filter(
                        matches,
                        lambda q: (q >= _start_of(p))
                        & (q < _start_of(p) + F.lit(crop_length)),
                    )
                ),
            )
            # densest window, earliest anchor on ties (array_position
            # returns the FIRST index of the max)
            best = F.element_at(
                matches,
                F.array_position(counts, F.array_max(counts)).cast("int"),
            )
            anchor = F.coalesce(best, F.lit(1))
        else:
            anchor = F.lit(1)
        start = F.greatest(F.lit(1), anchor - F.lit(half))
        start = F.least(start, F.greatest(F.lit(1), n - F.lit(last)))
        body = F.array_join(F.slice(words, start, crop_length), " ")
        pre = F.when(start > 1, F.lit(crop_marker)).otherwise(F.lit(""))
        post = F.when(
            start + F.lit(crop_length - 1) < n, F.lit(crop_marker)
        ).otherwise(F.lit(""))
        joined = joined.withColumn(
            f"_cropped_{a}", F.concat(pre, body, post)
        )
    return joined


def ranking_scores(
    hits: DataFrame,
    n_query_terms: int,
    n_attrs: "int | None" = None,
    threshold: "float | None" = None,
    score_details: bool = False,
    n_prox_pairs: "int | None" = None,
) -> DataFrame:
    """Meilisearch ``showRankingScore`` / ``rankingScoreThreshold``
    analog: a per-hit ``_ranking_score`` in [0, 1], absolute (no
    dependence on the other hits), derived from whichever Q11 criteria
    columns the hit set carries:

    - ``words``:     matched_terms / n_query_terms  (always; requires
      the ``matched_terms`` column every search() result has)
    - ``typo``:      matched_exact / matched_terms  (when the hits were
      produced with ``typo_rank`` -> ``matched_exact`` present)
    - ``proximity``: (max_cost - prox_cost) / max_cost with max_cost =
      PROX_MAX * n_prox_pairs (when the hits were produced with
      ``proximity_rank`` -> ``prox_cost`` present AND ``n_prox_pairs``
      given; pass ``len(positions.proximity_pairs(query, cfg))``)
    - ``attribute``: (n_attrs - best_attr) / n_attrs, sentinel/no-info
      -> 0 (when ``best_attr`` present AND ``n_attrs`` given)
    - ``exactness``: exact_form / matched_terms (when ``exact_form``
      present)

    ``_ranking_score`` = arithmetic mean of the active per-rule
    subscores. DOCUMENTED ANALOG, not milli's arithmetic: Meilisearch
    derives its global score from the same rule-wise [0, 1] subscores
    but merges them with rule-order weighting; the mean keeps the same
    [0, 1] range and monotonicity per rule without pretending to
    reproduce milli's exact blend. Emitted per-rule columns
    (``_score_words`` etc.) expose the inputs so a caller can apply
    any other blend.

    ``threshold``: drop hits whose ``_ranking_score`` is below it
    (rankingScoreThreshold). Pure Catalyst arithmetic on the (already
    tiny, <= k rows) hit set — no joins, no shuffle.

    ``score_details``: also emit ``_ranking_score_details``, the
    ``showRankingScoreDetails`` analog — one struct per hit with a
    sub-struct per ACTIVE rule in Meilisearch's rule order, each
    carrying its ``order``, its rule-specific inputs
    (matchingWords/maxMatchingWords, typoCount/maxTypoCount,
    attributeRankingOrder, matchType) and its [0, 1] ``score``. Same
    documented-analog caveat as the global score.
    """
    if n_query_terms <= 0:
        raise ValueError("n_query_terms must be positive")
    if threshold is not None and not (0.0 <= threshold <= 1.0):
        raise ValueError(f"threshold must be in [0, 1], got {threshold}")
    cols = set(hits.columns)
    if "matched_terms" not in cols:
        raise ValueError("ranking_scores needs a matched_terms column")
    matched = F.col("matched_terms").cast("double")
    subs = {
        "_score_words": F.least(matched / F.lit(float(n_query_terms)), F.lit(1.0))
    }
    if "matched_exact" in cols:
        subs["_score_typo"] = F.col("matched_exact") / matched
    if "prox_cost" in cols and n_prox_pairs:
        from meilibridge_spark.operators.positions import PROX_MAX

        max_cost = float(PROX_MAX * n_prox_pairs)
        subs["_score_proximity"] = (
            F.lit(max_cost) - F.least(F.col("prox_cost"), F.lit(max_cost))
        ) / F.lit(max_cost)
    if "best_attr" in cols and n_attrs is not None:
        subs["_score_attribute"] = (
            F.greatest(
                F.lit(n_attrs) - F.least(F.col("best_attr"), F.lit(n_attrs)),
                F.lit(0),
            ).cast("double")
            / F.lit(float(n_attrs))
        )
    if "exact_form" in cols:
        subs["_score_exactness"] = F.col("exact_form") / matched
    out = hits
    for name, expr in subs.items():
        out = out.withColumn(name, expr)
    mean = sum((F.col(n) for n in subs), F.lit(0.0)) / F.lit(float(len(subs)))
    out = out.withColumn("_ranking_score", mean)
    if score_details:
        details, order = [], 0
        details.append(
            F.struct(
                F.lit(order).alias("order"),
                F.col("matched_terms").alias("matchingWords"),
                F.lit(n_query_terms).alias("maxMatchingWords"),
                F.col("_score_words").alias("score"),
            ).alias("words")
        )
        if "_score_typo" in subs:
            order += 1
            details.append(
                F.struct(
                    F.lit(order).alias("order"),
                    (F.col("matched_terms") - F.col("matched_exact")).alias(
                        "typoCount"
                    ),
                    F.col("matched_terms").alias("maxTypoCount"),
                    F.col("_score_typo").alias("score"),
                ).alias("typo")
            )
        if "_score_proximity" in subs:
            order += 1
            details.append(
                F.struct(
                    F.lit(order).alias("order"),
                    F.col("prox_cost").alias("proximityCost"),
                    F.col("_score_proximity").alias("score"),
                ).alias("proximity")
            )
        if "_score_attribute" in subs:
            order += 1
            details.append(
                F.struct(
                    F.lit(order).alias("order"),
                    F.col("best_attr").alias("attributeRankingOrder"),
                    F.col("_score_attribute").alias("score"),
                ).alias("attribute")
            )
        if "_score_exactness" in subs:
            order += 1
            details.append(
                F.struct(
                    F.lit(order).alias("order"),
                    F.when(
                        F.col("exact_form") > 0, F.lit("exactMatch")
                    ).otherwise(F.lit("noExactMatch")).alias("matchType"),
                    F.col("_score_exactness").alias("score"),
                ).alias("exactness")
            )
        out = out.withColumn("_ranking_score_details", F.struct(*details))
    if threshold is not None:
        out = out.filter(F.col("_ranking_score") >= threshold)
    return out


def get_documents(
    docs: DataFrame,
    filterable_attributes: "tuple[str, ...]" = (),
    filter_expr: "str | None" = None,
    fields: "tuple[str, ...] | None" = None,
    offset: int = 0,
    limit: int = 20,
    id_col: str = "doc_id",
    fold_case: bool = False,
    ids: "list | None" = None,
) -> DataFrame:
    """Meilisearch ``GET /indexes/{uid}/documents`` (and the POST
    ``/documents/fetch`` body form) analog: a stable page of documents,
    no search ranking involved.

    ``ids``: the fetch body's retrieve-by-ids list — an equality-set
    predicate on ``id_col``, pushed to the scan like the filter and
    composing with it (both = intersection, matching the endpoint);
    pagination then applies over the id-ordered survivors.

    - ``filter_expr``: the same Meilisearch filter grammar searches use
      (functions/filters.py), enforced against ``filterable_attributes``
      exactly like the endpoint (filtering on an undeclared attribute is
      a loud error). This generic form takes the declared set as an
      argument (for bare corpus tables with no index); when an index
      exists, use :func:`get_index_documents` so enforcement stays
      index-defined (manifest settings), matching ``filter_doc_ids``.
    - ``fields``: projection list (the endpoint returns ONLY the
      requested fields — the id is included only if asked for);
      default all columns.
    - ``offset``/``limit``: the endpoint's pagination, over ascending
      ``id_col`` (the engine's internal doc id — the analog of
      Meilisearch's internal ordering, and deterministic here).

    Plan shape: the filter compiles to one Catalyst predicate pushed to
    the parquet scan, the projection prunes the read schema, and the
    ordered page is a TakeOrdered of offset+limit rows — no full sort,
    no unbounded driver state. 100 TB-safe for sane page depths (like
    the endpoint, deep offsets cost offset+limit; max_total_hits-style
    caps are the caller's policy).
    """
    if offset < 0 or limit <= 0:
        raise ValueError(f"need offset >= 0 and limit > 0, got {offset}/{limit}")
    out = docs
    if ids is not None:
        if not ids:
            raise ValueError("ids must be a non-empty list (or None)")
        from meilibridge_spark.operators.search import terms_in

        out = out.filter(terms_in(id_col, list(ids)))
    if filter_expr:
        from meilibridge_spark.functions.filters import parse_filter

        out = out.filter(
            parse_filter(filter_expr, tuple(filterable_attributes), fold_case)
        )
    page = out.orderBy(F.col(id_col).asc()).offset(offset).limit(limit)
    if fields is not None:
        missing = [f for f in fields if f not in docs.columns]
        if missing:
            raise ValueError(f"unknown field(s): {missing}")
        page = page.select(*fields)
    return page


def get_index_documents(
    index,
    filter_expr: "str | None" = None,
    fields: "tuple[str, ...] | None" = None,
    offset: int = 0,
    limit: int = 20,
    fold_case: "bool | None" = None,
) -> DataFrame:
    """Index-defined form of :func:`get_documents`: filterable
    enforcement (and case folding) come from the snapshot settings the
    index was BUILT with — the same single enforcement surface
    ``filter_doc_ids`` uses — not from a caller-supplied tuple, so the
    endpoint's undeclared-filterable error cannot drift per call site."""
    if fold_case is None:
        fold_case = getattr(index.cfg, "filter_fold_case", False)
    return get_documents(
        index.docs,
        tuple(index.cfg.filterable_attributes),
        filter_expr,
        fields=fields,
        offset=offset,
        limit=limit,
        id_col="doc_id",
        fold_case=fold_case,
    )
