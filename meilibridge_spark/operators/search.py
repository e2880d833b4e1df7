"""BM25 top-k query execution (SURVEY.md §3.3 'fourth lifecycle').

Three paths over the same postings tables, all rank-identical (tested):

- ``search``        distributed DataFrame path: filter postings to the
                    query's terms (parquet row-group pruning via the
                    term-sorted layout), decode via mapInPandas, score
                    JVM-side, groupBy(doc_id) + orderBy + limit(k).
- ``search_many``   batch of queries in ONE job — the throughput path:
                    doc-shard scatter-gather over compressed blocks;
                    each shard scores every query in a dense numpy pass
                    and emits local top-k; merge via driver gather /
                    window / tree (see _gather_hits).
- ``search_wand``   driver-side block-max WAND over the collected term
                    postings — the serving path; exact (WAND-on ==
                    WAND-off, FIXTURES.md §6).

Scores: sum_t idf(t)·tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)), ordering
(score desc, doc_id asc); `score` is rounded to 1e-9 only at comparison
boundaries (tests / oracles), not here.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from meilibridge_spark.functions.bm25 import idf as idf_fn
from meilibridge_spark.functions.bm25 import impact_upper_bound
# decode_block (one block) stays a module attribute: perfbench's
# DriverShims wrap it by name; the scorers here call decode_blocks
from meilibridge_spark.functions.codec import (  # noqa: F401
    decode_block,
    decode_blocks,
)
from meilibridge_spark.functions.tokenizer import parse_query
from meilibridge_spark.functions.wand import (
    TermPostings,
    dense_topk,
    wand_topk,
    wand_topk_budgeted,
)
from meilibridge_spark.operators.ranking import RankingPlan, resolve_ranking
from meilibridge_spark.session import local_frame
from meilibridge_spark.sources.tables import InvertedIndex

DECODED_SCHEMA = "term string, doc_id long, tf long, dl long"

#: base scorer output; Q11 criteria append int columns (matched,
#: best_attr, exact_form) in search_many's rank_cols order
SCORED_SCHEMA = "qkey string, doc_id long, score double"

#: batch rank_cols entry per built-in criterion: (scorer column, output
#: column, ascending); 'typo' is single-path only, 'sort' a doc field
_BATCH_CRITERIA = {
    "words": ("matched", "matched_terms", False),
    "proximity": ("prox", "prox_cost", True),
    "attribute": ("best_attr", "best_attr", True),
    "exactness": ("exact_form", "exact_form", False),
}

#: per-pair proximity cost cap for the batch path — MUST equal
#: operators.positions.PROX_MAX (importing it here would be circular:
#: positions imports search); equality is asserted by a test.
PROX_MAX_BATCH = 8


def terms_in(col: str, terms: "list") -> "F.Column":
    """IN predicate over a literal list built with ONE py4j call.

    ``Column.isin(lst)`` costs one py4j round trip PER literal — ~0.5 s
    of pure driver time at ~700 terms (measured), a constant that does
    not scale with cores and therefore caps batch-query scaling
    efficiency. Rendering the literal list into ``F.expr`` parses the
    SAME In(...) predicate JVM-side in ~40 ms, with identical semantics
    and identical parquet PushedFilters (plan-tested).

    Accepts all-int lists too (rendered unquoted) — the single tested
    renderer for every literal-IN in the engine; don't hand-roll."""
    if not terms:
        return F.lit(False)
    if all(isinstance(t, int) and not isinstance(t, bool) for t in terms):
        rendered = ",".join(str(t) for t in terms)
    else:
        rendered = ",".join(
            "'" + str(t).replace("\\", "\\\\").replace("'", "\\'") + "'"
            for t in terms
        )
    ident = col.replace("`", "``")
    return F.expr(f"`{ident}` IN ({rendered})")


def decode_postings(postings: DataFrame) -> DataFrame:
    """Posting blocks -> (term, doc_id, tf, dl) rows via mapInPandas
    (numpy varint decode, Arrow-batched)."""

    # manual column pruning: mapInPandas consumes every input column, so
    # without this select the parquet scan reads all block metadata too
    postings = postings.select(
        "term", "first_doc", "docs_bin", "tfs_bin", "dls_bin"
    )

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            d, t, dl, n = decode_blocks(
                pdf["first_doc"], pdf["docs_bin"], pdf["tfs_bin"], pdf["dls_bin"]
            )
            yield pd.DataFrame(
                {
                    "term": np.repeat(pdf["term"].to_numpy(), n),
                    "doc_id": d,
                    "tf": t,
                    "dl": dl,
                }
            )

    return postings.mapInPandas(_decode, schema=DECODED_SCHEMA)


def _idf_map(index: InvertedIndex, q_terms: "list[str]") -> "dict[str, float]":
    """Tiny driver-side lookup of the query terms' df -> idf (term
    metadata broadcast, SURVEY §3 note). Results are memoized on the
    index (terms are immutable within a snapshot), so a warm serving
    loop pays zero Spark jobs here; absent terms memoize as misses."""
    if not q_terms:
        return {}
    cache: "dict[str, float | None] | None" = getattr(index, "_idf_cache", None)
    if cache is None:
        cache = {}
        index._idf_cache = cache
    missing = [t for t in q_terms if t not in cache]
    if missing:
        df_map = getattr(index, "_df_map", None)
        if df_map is not None:
            # vocabulary prefetched (prepare_serving): zero Spark jobs
            for t in missing:
                df = df_map.get(t)
                cache[t] = (
                    float(idf_fn(index.n_docs, df)) if df is not None else None
                )
        else:
            rows = index.terms.filter(terms_in("term", missing)).collect()
            found = {
                r["term"]: float(idf_fn(index.n_docs, r["df"])) for r in rows
            }
            for t in missing:
                cache[t] = found.get(t)
    return {t: v for t in q_terms if (v := cache.get(t)) is not None}


def _contrib_col(index: InvertedIndex) -> "F.Column":
    k1, b = index.cfg.k1, index.cfg.b
    dl_norm = F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(index.avgdl)
    )
    return F.col("idf") * F.col("tf") * F.lit(k1 + 1.0) / (F.col("tf") + dl_norm)


def candidate_rows(index: InvertedIndex, q_terms: "list[str]") -> DataFrame:
    """Decoded candidate postings for the query terms. The term filter
    lands on the parquet scan (sorted-by-term layout -> row-group skip)."""
    return decode_postings(index.postings.filter(terms_in("term", q_terms)))


#: best_attr for a matched (term, doc) without attribute info — re-export
#: of operators/attrs.ATTR_RANK_SENTINEL (kept import-light here)
ATTR_RANK_SENTINEL = 1 << 20


def freq_drop_ranks(
    groups: "list[list[str]]", idf_map: "dict[str, float]"
) -> "list[tuple[int, list[str]]]":
    """matching_strategy='frequency' drop order (Meilisearch v1.8+
    matchingStrategy=frequency: when a query can't be fully satisfied,
    words are removed most-frequent-first instead of last-first).

    Input: per-word alternate groups in query order
    (query_word_groups); output: (drop_rank, indexed_alternates) with
    drop_rank 1 = dropped first. Order: corpus document frequency DESC
    — computed as idf ASC, idf being monotone-decreasing in df — with
    ties dropped later-query-position-first (the 'last' flavor). A
    group whose frequency is that of its most common indexed alternate
    (min idf over alternates: a synonym/typo alternate stands in for
    the word). A group with NO indexed alternate is treated as the most
    frequent of all (pre-dropped, so it never blocks qualification) and
    is omitted from the output.

    A document's words level is then max(drop_rank) over groups it
    does NOT satisfy (0 if it satisfies every group) == the number of
    drops after which the doc matches every remaining word; level ASC
    is the frequency-strategy words criterion."""
    indexed: "list[tuple[float, int, list[str]]]" = []
    for pos, g in enumerate(groups):
        alts = [t for t in g if t in idf_map]
        if alts:
            indexed.append((min(idf_map[t] for t in alts), -pos, alts))
    indexed.sort(key=lambda x: (x[0], x[1]))
    return [(r, alts) for r, (_, _, alts) in enumerate(indexed, start=1)]


def search(
    index: InvertedIndex,
    query: str,
    k: "int | None" = None,
    filter_docs: "DataFrame | None" = None,
    exclude_docs: "DataFrame | None" = None,
    words_rank: "bool | None" = None,
    orig_terms: "list[str] | None" = None,
    typo_rank: bool = False,
    proximity_rank: bool = False,
    attribute_rank: bool = False,
    exact_terms: "list[str] | None" = None,
    exactness_rank: bool = False,
    matching_strategy: str = "last",
    word_groups: "list[list[str]] | None" = None,
    attributes_to_search_on: "tuple[str, ...] | None" = None,
    offset: int = 0,
    ranking_rules: "list[str] | tuple[str, ...] | None" = None,
    sort_params: "list[tuple[str, bool]] | None" = None,
    page: "int | None" = None,
    hits_per_page: "int | None" = None,
    page_rank_col: "str | None" = None,
) -> DataFrame:
    """Top-k hits as a DataFrame (doc_id, score, matched_terms
    [, matched_exact][, best_attr][, exact_form][, rule fields...]).

    ``page`` / ``hits_per_page`` (Meilisearch exhaustive pagination,
    v0.30+): setting either switches to page-sliced results with
    exhaustive ``total_hits`` / ``total_pages`` metadata columns,
    ignoring ``k`` / ``offset`` — see :func:`_paginate_exhaustive`
    for the contract and the bounded plan shape. ``page_rank_col``
    (paged mode only) additionally keeps each hit's absolute 1-based
    ranking position under that column name (multi-search results
    mode reports it per request).

    ``ranking_rules`` (Meilisearch rankingRules, reference
    config/type.go:56 / config.example.yml:108-116; parsed by
    operators/ranking.py): a user-supplied ordered list of the six
    built-in rules (any subset, any order) plus custom ``field:asc`` /
    ``field:desc`` rules at any position. When given (here or on
    ``index.cfg.ranking_rules``), the LIST decides both which criteria
    participate and their order — the ``*_rank`` flags then only supply
    side data (``orig_terms`` for typo, ``exact_terms`` for exactness);
    a listed rule whose data is absent is skipped (see
    operators/ranking.py's activation contract). Without a list the
    flags activate criteria over DEFAULT_RANKING_RULES (both forms
    resolve through ``ranking.resolve_ranking``). Custom-rule fields are
    joined from the docs table and returned as output columns.

    ``sort_params`` ([(field, ascending)], Q9/Meilisearch ``sort``
    search parameter): composed AT the position of the ``sort`` rule in
    the effective rule list (the Meilisearch semantics) — NOT a
    post-hoc relevancy override; for that legacy behavior use
    ``relational.sort_hits``. Without an explicit rule list the default
    order applies, i.e. sort slots between attribute and exactness.

    ``offset`` (Q13, Meilisearch's offset/limit pagination): skip the
    first ``offset`` ranked hits and return the next ``k`` — one
    TakeOrdered of offset+k rows, the skip applied to that (tiny)
    ordered prefix.

    ``attributes_to_search_on`` (Meilisearch's attributesToSearchOn
    search parameter): restrict matching to terms occurring in the
    named searchable attributes — a (term, doc) pair qualifies iff its
    attribute bitmask (operators/attrs.py) intersects the requested
    set; requires with_attributes=True. Documented deviations: BM25
    tf/dl stay those of the full concatenated searchable text (stats
    are index-global, like filters), and dictionary compounds spanning
    an attribute boundary carry no mask, so they never match under a
    restriction.

    ``filter_docs``: optional DataFrame with a doc_id column restricting
    candidates (Q7 filterable attributes -> pre-score semi-join); BM25
    stats stay corpus-global (Meilisearch filter semantics).

    ``exclude_docs``: optional DataFrame with a doc_id column REMOVED
    from the candidates (anti-join) — the execution half of Meilisearch
    v1.8 negative keywords/phrases; ``positions.search_with_phrases``
    parses the ``-word`` / ``-"phrase"`` syntax and builds the set.

    ``matching_strategy``: ``'last'`` (default, OR semantics ranked by
    the words rule), ``'all'`` (every word group must match), or
    ``'frequency'`` (Meilisearch v1.8 matchingStrategy=frequency: the
    words criterion becomes the drop level under most-frequent-first
    word removal — ``freq_drop_ranks`` — exposed as an output column
    ``freq_level`` and sorted ascending ahead of every other rule).

    Ranking criteria — the reference's default ranking_rules list
    [words, typo, proximity, attribute, sort, exactness]
    (config/type.go:56) composes here in exactly that order ahead of
    the BM25 score (sort is the separate Q9 operator):

    - ``words_rank`` (default cfg.words_ranking): docs matching more
      query terms first (matched_terms desc).
    - ``orig_terms`` + ``typo_rank``: docs matching more ORIGINAL
      (pre-typo-expansion) terms above expansion-only matches
      (matched_exact desc) — the documented 'typo' simplification.
    - ``proximity_rank``: docs where adjacent query words sit closer
      together (in query order) first — ``prox_cost`` asc, the summed
      per-pair min raw-slot distance from
      ``positions.proximity_costs`` (reversed-order pairs +1, capped
      at PROX_MAX per pair; missing pairs worst). Needs the positions
      table (``with_positions=True``) under the default
      ``proximity_precision='byWord'``, or the attrs table under
      'byAttribute'. Adds a ``prox_cost`` output column.
    - ``attribute_rank``: docs whose matched terms occur in more
      important searchable attributes first (best_attr asc; Q5 order;
      requires an index built with with_attributes=True). Per-doc key =
      min attribute rank over matched terms; docs with no attribute
      info take ATTR_RANK_SENTINEL.
    - ``exact_terms`` + ``exactness_rank``: docs matching more terms in
      their EXACT user-typed form (vs synonym/prefix/typo derivatives)
      first (exact_form desc) — the 'exactness' simplification; pass
      the pre-expansion term list as ``exact_terms``.
    """
    k = k or index.cfg.max_total_hits
    if offset < 0:
        raise ValueError(f"offset must be >= 0, got {offset}")
    ranking = resolve_ranking(
        index.cfg, index, ranking_rules, sort_params,
        words=words_rank, typo=typo_rank, proximity=proximity_rank,
        attribute=attribute_rank, exactness=exactness_rank,
        typo_data=orig_terms is not None,
        exact_data=exact_terms is not None,
    )
    typo_rank = ranking.active["typo"]
    proximity_rank = ranking.active["proximity"]
    attribute_rank = ranking.active["attribute"]
    exactness_rank = ranking.active["exactness"]
    if typo_rank and orig_terms is None:
        raise ValueError("typo_rank requires orig_terms")
    if exactness_rank and exact_terms is None:
        raise ValueError("exactness_rank requires exact_terms")
    if attribute_rank and index.attrs is None:
        raise ValueError(
            "attribute_rank requires an index built with "
            "with_attributes=True (operators/attrs.py)"
        )
    search_on_mask: "int | None" = None
    if attributes_to_search_on is not None:
        if index.attrs is None:
            raise ValueError(
                "attributes_to_search_on requires an index built with "
                "with_attributes=True (operators/attrs.py)"
            )
        from meilibridge_spark.operators.attrs import attrs_search_mask

        search_on_mask = attrs_search_mask(index.cfg, attributes_to_search_on)
    if matching_strategy not in ("last", "all", "frequency"):
        raise ValueError(
            "matching_strategy must be 'last', 'all' or 'frequency', "
            f"got {matching_strategy!r}"
        )
    q_terms = parse_query(query, index.cfg.analyzer)
    idf_map = _idf_map(index, q_terms)
    spark = index.postings.sparkSession
    if not idf_map:
        return _empty_hits(spark, page, hits_per_page, page_rank_col)
    groups: "list[list[str]] | None" = None
    if matching_strategy in ("all", "frequency"):
        from meilibridge_spark.functions.tokenizer import query_word_groups

        groups = (
            word_groups
            if word_groups is not None
            else query_word_groups(query, index.cfg.analyzer)
        )
        present = set(idf_map)
        if matching_strategy == "all":
            groups = [[t for t in g if t in present] for g in groups]
            if any(not g for g in groups):
                # a word with no indexed alternates can never be satisfied
                return _empty_hits(spark, page, hits_per_page, page_rank_col)
            groups = groups or None
        else:
            # frequency: _wg{i} flag order == drop order, so the level
            # of a doc is max(i+1) over its unsatisfied flags;
            # no-alternate groups are pre-dropped (freq_drop_ranks)
            groups = [
                alts for _, alts in freq_drop_ranks(groups, idf_map)
            ] or None
    rows = candidate_rows(index, list(idf_map))
    if filter_docs is not None:
        # no forced broadcast: a filterable-attribute set can be a large
        # fraction of the corpus (same hazard as the relational hit-set
        # joins) — AQE picks broadcast from the MEASURED filter size
        # when it is actually small
        rows = rows.join(filter_docs.select("doc_id"), "doc_id", "left_semi")
    if exclude_docs is not None:
        # negative keywords / phrases (Meilisearch v1.8 '-word'
        # syntax, parsed by positions.search_with_phrases): documents
        # in the exclusion set never become candidates
        rows = rows.join(exclude_docs.select("doc_id"), "doc_id", "left_anti")
    if attribute_rank or search_on_mask is not None:
        # tf slot = attribute bitmask (operators/attrs.py); the Q11 rank
        # is its lowest set bit: bit_count((m & -m) - 1) == ctz(m)
        mask_col = F.col("tf")
        if search_on_mask is not None:
            mask_col = mask_col.bitwiseAND(F.lit(search_on_mask))
        attr_rows = decode_postings(
            index.attrs.filter(terms_in("term", list(idf_map)))
        ).select(
            "term",
            "doc_id",
            F.bit_count(
                mask_col.bitwiseAND(-mask_col) - F.lit(1)
            ).alias("_attr_rank"),
            mask_col.alias("_attr_mask"),
        )
        if search_on_mask is not None:
            # inner restriction: only (term, doc) pairs whose mask
            # intersects the requested attributes stay candidates
            rows = rows.join(
                attr_rows.filter(F.col("_attr_mask") != 0),
                ["term", "doc_id"],
            )
        else:
            rows = rows.join(attr_rows, ["term", "doc_id"], "left")
        rows = rows.drop("_attr_mask")
    idf_expr = F.create_map(
        *[x for t, v in idf_map.items() for x in (F.lit(t), F.lit(v))]
    )
    scored = rows.withColumn("idf", idf_expr[F.col("term")]).withColumn(
        "contrib", _contrib_col(index)
    )
    aggs = [
        F.sum("contrib").alias("score"),
        F.count("*").cast("int").alias("matched_terms"),
    ]
    if orig_terms is not None:
        aggs.append(
            F.sum(
                F.when(F.col("term").isin(list(orig_terms)), 1).otherwise(0)
            )
            .cast("int")
            .alias("matched_exact")
        )
    if attribute_rank:
        aggs.append(
            F.min(
                F.coalesce(F.col("_attr_rank"), F.lit(ATTR_RANK_SENTINEL))
            )
            .cast("int")
            .alias("best_attr")
        )
    if exact_terms is not None:
        aggs.append(
            F.sum(
                F.when(F.col("term").isin(list(exact_terms)), 1).otherwise(0)
            )
            .cast("int")
            .alias("exact_form")
        )
    if groups is not None:
        # matching_strategy='all': per word group, did ANY alternate
        # match this doc? (group satisfied = max over its terms)
        for i, g in enumerate(groups):
            aggs.append(
                F.max(F.when(F.col("term").isin(g), 1).otherwise(0)).alias(
                    f"_wg{i}"
                )
            )
    agg = scored.groupBy("doc_id").agg(*aggs)
    if groups is not None:
        wg_cols = [f"_wg{i}" for i in range(len(groups))]
        if matching_strategy == "all":
            cond = F.lit(True)
            for i in range(len(groups)):
                cond = cond & (F.col(f"_wg{i}") == 1)
            agg = agg.filter(cond).drop(*wg_cols)
        else:
            # frequency: level = max drop_rank over unsatisfied groups
            # (_wg{i} order == drop order, drop_rank = i+1)
            lvl_terms = [
                F.when(F.col(f"_wg{i}") == 1, F.lit(0)).otherwise(
                    F.lit(i + 1)
                )
                for i in range(len(groups))
            ]
            lvl = (
                F.greatest(*lvl_terms) if len(lvl_terms) > 1 else lvl_terms[0]
            )
            agg = agg.withColumn(
                "freq_level", lvl.cast("int")
            ).drop(*wg_cols)
    if proximity_rank:
        # Q11 'proximity' criterion (positions.proximity_costs): lower
        # summed adjacent-pair distance ranks higher; docs containing
        # none of the pair terms' positions take the worst cost. The
        # cost frame is posting-sized (term-pruned positions scan), so
        # the doc_id join stays in the candidates' magnitude; AQE picks
        # broadcast when the candidate set is actually small.
        from meilibridge_spark.operators.positions import (
            PROX_MAX,
            proximity_costs,
            proximity_pairs,
        )

        pairs = proximity_pairs(query, index.cfg)
        prox = proximity_costs(index, query)
        if prox is None:
            # <2 distinct adjacent words: the criterion is a no-op but
            # the output contract keeps the column
            agg = agg.withColumn("prox_cost", F.lit(0))
        else:
            agg = agg.join(prox, "doc_id", "left").withColumn(
                "prox_cost",
                F.coalesce(
                    F.col("prox_cost"), F.lit(PROX_MAX * len(pairs))
                ).cast("int"),
            )
    if ranking.doc_fields:
        # custom-rule / sort fields join in from docs (one doc_id
        # equi-join, AQE-sized — candidates are posting-sized)
        agg = agg.join(
            index.docs.select("doc_id", *ranking.doc_fields), "doc_id", "left"
        )
    order = ranking.order() + [F.col("score").desc(), F.col("doc_id").asc()]
    if matching_strategy == "frequency" and groups is not None:
        # the frequency words criterion outranks every other rule
        order = [F.col("freq_level").asc()] + order
    ordered = agg.orderBy(*order)
    if page is not None or hits_per_page is not None:
        return _paginate_exhaustive(
            ordered, order, page, hits_per_page, index.cfg.max_total_hits,
            rank_col=page_rank_col,
        )
    if offset:
        return ordered.offset(offset).limit(k)
    return ordered.limit(k)


def _empty_hits(
    spark,
    page: "int | None" = None,
    hits_per_page: "int | None" = None,
    rank_col: "str | None" = None,
) -> DataFrame:
    """Zero-hit result with the schema the live path would produce:
    the base hit columns, plus (in paged mode) the exhaustive
    pagination metadata columns — so unionByName consumers (e.g.
    multi-search results mode) never see a schema fork on the
    empty-query / unsatisfiable-'all' early returns."""
    schema = "doc_id long, score double, matched_terms int"
    if page is not None or hits_per_page is not None:
        if (1 if page is None else page) < 1:
            raise ValueError(f"page must be >= 1, got {page}")
        if (20 if hits_per_page is None else hits_per_page) < 0:
            raise ValueError(
                f"hitsPerPage must be >= 0, got {hits_per_page}"
            )
        if rank_col:
            schema += f", {rank_col} int"
        schema += (
            ", total_hits long, page int, hits_per_page int,"
            " total_pages int"
        )
    return local_frame(spark, [], schema)


def _paginate_exhaustive(
    ordered: DataFrame,
    order: "list[Column]",
    page: "int | None",
    hits_per_page: "int | None",
    cap: int,
    rank_col: "str | None" = None,
) -> DataFrame:
    """Meilisearch exhaustive pagination (``page`` / ``hitsPerPage``,
    v0.30+): setting either search parameter switches the response from
    offset/limit + estimatedTotalHits to page slices + EXHAUSTIVE
    ``totalHits`` / ``totalPages``, with totalHits capped at
    ``maxTotalHits`` (the pagination index setting) — the endpoint
    contract. ``limit`` / ``offset`` are ignored in this mode, as in
    Meilisearch. Output = the requested page's hits with constant
    metadata columns (page, hits_per_page, total_hits, total_pages);
    a page past the end is empty but keeps the schema. Deviation
    (recorded): ``hitsPerPage=0`` — Meilisearch's count-only query —
    returns an empty DataFrame here (response-level metadata has no
    rows to ride on); use total_hits on a hitsPerPage>=1 call instead.

    Plan shape (100 TB note): the ranked candidates are FIRST bounded
    by a distributed TakeOrdered (``limit(cap)``), so the
    single-partition window that numbers rows and counts total_hits
    only ever sees <= maxTotalHits rows (1000 default) regardless of
    corpus size — the same bounded-counter contract Meilisearch's own
    capped totalHits has.
    """
    from pyspark.sql.window import Window

    page = 1 if page is None else page
    hits_per_page = 20 if hits_per_page is None else hits_per_page
    if page < 1:
        raise ValueError(f"page must be >= 1, got {page}")
    if hits_per_page < 0:
        raise ValueError(
            f"hitsPerPage must be >= 0, got {hits_per_page}"
        )
    top = ordered.limit(cap)
    part = Window.partitionBy(F.lit(1))
    ranked = top.withColumn(
        "_rn", F.row_number().over(part.orderBy(*order))
    ).withColumn("total_hits", F.count("*").over(part).cast("long"))
    if hits_per_page:
        lo = (page - 1) * hits_per_page
        out = ranked.filter(
            (F.col("_rn") > lo) & (F.col("_rn") <= lo + hits_per_page)
        )
        total_pages = F.ceil(
            F.col("total_hits") / F.lit(hits_per_page)
        ).cast("int")
    else:
        out = ranked.filter(F.lit(False))
        total_pages = F.lit(0)
    out = (
        out.withColumn("page", F.lit(page))
        .withColumn("hits_per_page", F.lit(hits_per_page))
        .withColumn("total_pages", total_pages)
        .orderBy("_rn")
    )
    if rank_col:
        # keep the absolute (pre-slice, 1-based) ranking position —
        # multi-search results mode reports it per request
        return out.withColumnRenamed("_rn", rank_col)
    return out.drop("_rn")


def placeholder_search(
    index: InvertedIndex,
    k: "int | None" = None,
    filter_docs: "DataFrame | None" = None,
    exclude_docs: "DataFrame | None" = None,
    offset: int = 0,
    ranking_rules: "list[str] | tuple[str, ...] | None" = None,
    sort_params: "list[tuple[str, bool]] | None" = None,
    page: "int | None" = None,
    hits_per_page: "int | None" = None,
    page_rank_col: "str | None" = None,
) -> DataFrame:
    """Meilisearch placeholder search: a query with no positive terms
    matches ALL documents (the negative-only / empty-``q`` semantics —
    v1.8 negative keywords over a placeholder candidate set). Every
    matching criterion is vacuously inactive (nothing matched), so the
    effective order is just the DOC-FIELD rules — custom
    ``field:asc|desc`` rules and the ``sort`` parameter at its rule
    position — then ``doc_id`` asc; ``score`` is 0.0 and
    ``matched_terms`` 0 for every hit (same output contract as
    :func:`search`, custom-rule/sort fields as output columns).

    Endpoint layers route here automatically: ``search_with_phrases``
    (and the query CLI) for any query whose positive part yields no
    indexable tokens — empty ``q``, stop-word-only ``q``, or
    negative-only syntax — and ``search_many`` / ``multi_search`` via
    the same classification per batch entry; ``search_count`` answers
    the count-only form. The low-level :func:`search` primitive stays
    term-scoring-only (empty token set = no hits).

    Plan shape: one column-pruned docs scan + optional left-semi
    (``filter_docs``) / left-anti (``exclude_docs``) joins + a bounded
    TakeOrdered of ``offset + k`` rows — no postings work at all.
    """
    k = k or index.cfg.max_total_hits
    if offset < 0:
        raise ValueError(f"offset must be >= 0, got {offset}")
    ranking = resolve_ranking(index.cfg, index, ranking_rules, sort_params)
    need_fields = ranking.doc_fields
    cand = index.docs.select("doc_id", *need_fields)
    if filter_docs is not None:
        cand = cand.join(
            filter_docs.select("doc_id"), "doc_id", "left_semi"
        )
    if exclude_docs is not None:
        cand = cand.join(
            exclude_docs.select("doc_id"), "doc_id", "left_anti"
        )
    # matching criteria are vacuously inactive (nothing matched); the
    # sort slot stays active when the query carries sort params
    order = ranking.order(matched=False) + [F.col("doc_id").asc()]
    out = (
        cand.withColumn("score", F.lit(0.0))
        .withColumn("matched_terms", F.lit(0))
        .select("doc_id", "score", "matched_terms", *need_fields)
        .orderBy(*order)
    )
    if page is not None or hits_per_page is not None:
        # exhaustive pagination composes with placeholder queries
        # exactly as with term queries (the endpoint's empty-q +
        # page/hitsPerPage combination); total_hits is capped at
        # maxTotalHits like the endpoint's counter
        return _paginate_exhaustive(
            out,
            order,
            page,
            hits_per_page,
            index.cfg.max_total_hits,
            rank_col=page_rank_col,
        )
    if offset:
        return out.offset(offset).limit(k)
    return out.limit(k)


def _count_candidates(
    cand: DataFrame,
    filter_docs: "DataFrame | None",
    exclude_docs: "DataFrame | None",
    cap: int,
) -> DataFrame:
    """One-row ``(total_hits long, total_pages int)`` over a candidate
    doc-id frame: optional left-semi filter / left-anti exclusion, one
    capped count — no sort, no window, no top-k machinery."""
    if filter_docs is not None:
        cand = cand.join(filter_docs.select("doc_id"), "doc_id", "left_semi")
    if exclude_docs is not None:
        cand = cand.join(exclude_docs.select("doc_id"), "doc_id", "left_anti")
    return cand.agg(
        F.least(
            F.count(F.lit(1)).cast("long"), F.lit(cap).cast("long")
        ).alias("total_hits")
    ).withColumn("total_pages", F.lit(0).cast("int"))


def search_count(
    index: InvertedIndex,
    query: str,
    *,
    filter_docs: "DataFrame | None" = None,
    exclude_docs: "DataFrame | None" = None,
    matching_strategy: str = "last",
) -> DataFrame:
    """Count-only query — Meilisearch's ``hitsPerPage=0`` request (the
    endpoint answers ``hits: []`` with exhaustive ``totalHits`` and
    ``totalPages: 0``; the reference forwards pagination untouched,
    config/type.go:82-84). Returns ONE row ``(total_hits long,
    total_pages int)``: ``total_hits`` is the exhaustive match count
    capped at maxTotalHits, ``total_pages`` is fixed at 0 — exactly the
    endpoint's count-only response shape. This closes the recorded
    DataFrame-path deviation: ``search(page=, hits_per_page=0)`` has no
    hit row to carry response-level metadata on, a dedicated count
    plan does.

    Counts agree with the totals ``search(page=...)`` /
    ``DriverSearcher.search_page`` report for the same query (parity
    tested). An empty / stop-word-only ``query`` counts ALL documents
    (the endpoint's placeholder semantics, same routing as
    negative-only queries); a query with no indexed term counts 0.

    Plan shapes (the cheapest that answers the semantics — counting
    never pays ranking costs):

    - single indexed term, no filter/exclusion: metadata-only
      ``sum(n)`` over the term's posting blocks — ZERO decode; the
      term-sorted layout prunes row groups and the scan reads only
      ``(term, n)`` (plan-asserted in tests);
    - otherwise: pruned posting scan -> decode -> distinct candidate
      ids — for ``matching_strategy='all'`` docs must satisfy EVERY
      word group (alternates stand in for their word; a term shared by
      two groups satisfies both via a tiny broadcast (term, group)
      map) — -> optional filter semi-join / exclusion anti-join -> one
      capped count.

    ``typo`` / ``prefix`` / ``attributes_to_search_on`` compositions
    go through ``search(page=...)``'s totals instead (they change the
    candidate set, not the counting)."""
    if matching_strategy not in ("last", "all"):
        raise ValueError(
            "search_count matching_strategy must be 'last' or 'all', "
            f"got {matching_strategy!r}"
        )
    cap = index.cfg.max_total_hits
    spark = index.postings.sparkSession
    q_terms = parse_query(query, index.cfg.analyzer)
    if not q_terms:
        # placeholder count: every document (minus filters/exclusions)
        return _count_candidates(
            index.docs.select("doc_id"), filter_docs, exclude_docs, cap
        )
    idf_map = _idf_map(index, q_terms)
    if not idf_map:
        return local_frame(spark, [(0, 0)], "total_hits long, total_pages int")
    groups: "list[list[str]] | None" = None
    if matching_strategy == "all":
        from meilibridge_spark.functions.tokenizer import query_word_groups

        groups = query_word_groups(query, index.cfg.analyzer)
        present = set(idf_map)
        groups = [[t for t in g if t in present] for g in groups]
        if any(not g for g in groups):
            # a word with no indexed alternates can never be satisfied
            return local_frame(
                spark, [(0, 0)], "total_hits long, total_pages int"
            )
    if (
        groups is None
        and len(idf_map) == 1
        and filter_docs is None
        and exclude_docs is None
    ):
        # single-term fast path: df(t) docs == sum of per-block doc
        # counts — block METADATA, no posting decode at all
        t = next(iter(idf_map))
        return (
            index.postings.filter(terms_in("term", [t]))
            .agg(
                F.least(
                    F.coalesce(F.sum("n"), F.lit(0)).cast("long"),
                    F.lit(cap).cast("long"),
                ).alias("total_hits")
            )
            .withColumn("total_pages", F.lit(0).cast("int"))
        )
    if groups is not None and len(groups) > 1:
        fetch = sorted({t for g in groups for t in g})
        pairs = [(t, i) for i, g in enumerate(groups) for t in g]
        gmap = local_frame(spark, pairs, "term string, _g int")
        cand = (
            candidate_rows(index, fetch)
            .select("term", "doc_id")
            .join(F.broadcast(gmap), "term")
            .groupBy("doc_id")
            .agg(F.countDistinct("_g").alias("_ng"))
            .filter(F.col("_ng") == len(groups))
            .select("doc_id")
        )
    else:
        terms = (
            sorted(idf_map)
            if groups is None
            else sorted({t for g in groups for t in g})
        )
        cand = candidate_rows(index, terms).select("doc_id").distinct()
    return _count_candidates(cand, filter_docs, exclude_docs, cap)


def _decode_term_blocks(rows):
    """One shard's blocks (rows with ``term``, ``first_doc`` and the
    three ``*_bin`` fields) -> (terms in first-appearance order, each
    entry's index into them, doc_ids, tfs, dls): every block decoded
    by ONE decode_blocks call, entries in row order."""
    rows = rows if isinstance(rows, list) else list(rows)
    code_of: "dict[str, int]" = {}
    block_codes = np.fromiter(
        (code_of.setdefault(r.term, len(code_of)) for r in rows),
        dtype=np.int64,
        count=len(rows),
    )
    d, t, dl, n = decode_blocks(
        [r.first_doc for r in rows],
        [r.docs_bin for r in rows],
        [r.tfs_bin for r in rows],
        [r.dls_bin for r in rows],
    )
    return list(code_of), np.repeat(block_codes, n), d, t, dl


def _split_by_term(
    terms: "list[str]", codes: np.ndarray, *arrays: np.ndarray
) -> "dict[str, tuple[np.ndarray, ...]]":
    """Per-entry arrays -> term -> its entries' slices, for EVERY term
    (empty when all its entries were dropped). The grouping is stable,
    so a term's entries keep their block order — each term's arrays
    equal the per-block concatenation they replace, element for
    element. Already-grouped input (a term's blocks adjacent, as they
    usually arrive) is split into views without a sort."""
    if codes.size and (codes[1:] < codes[:-1]).any():
        order = np.argsort(codes, kind="stable")
        codes = codes[order]
        arrays = tuple(a[order] for a in arrays)
    bounds = np.searchsorted(codes, np.arange(len(terms) + 1))
    return {
        term: tuple(a[bounds[i] : bounds[i + 1]] for a in arrays)
        for i, term in enumerate(terms)
    }


def _decode_shard_terms(
    rows,
    base: int,
    avgdl: float,
    k1: float,
    b: float,
    mask: "np.ndarray | None" = None,
    idf_map: "dict[str, float] | None" = None,
) -> "dict[str, tuple[np.ndarray, np.ndarray]]":
    """Decode one shard's blocks: term -> (doc offsets, BM25 impacts),
    each term decoded ONCE. With ``idf_map`` the per-term idf constant
    is folded into the impact HERE, so the per-(query, term)
    scatter-add needs no multiply/temporary — a hot term used by many
    queries pays the product once. ``mask`` (bool, shard_range wide)
    drops disallowed doc offsets at decode time, so a filtered batch
    pays the filter once per term instead of once per query.

    All blocks decode in one batched pass and every step is
    elementwise, so each term's arrays are bit-identical to decoding
    and scoring its blocks one by one."""
    terms, codes, d, t, dl = _decode_term_blocks(rows)
    # expression kept bit-identical to the single-query JVM path
    imp = t * (k1 + 1.0) / (t + k1 * (1.0 - b + b * dl / avgdl))
    if idf_map is not None:
        idf = np.array([idf_map[term] for term in terms], dtype=np.float64)
        imp *= idf[codes]
    o = d - base
    if mask is not None:
        keep = mask[o]
        o, imp, codes = o[keep], imp[keep], codes[keep]
    return _split_by_term(terms, codes, o, imp)


def _decode_shard_attrs(
    rows, base: int, search_on_mask: "int | None" = None
) -> "dict[str, tuple[np.ndarray, np.ndarray]]":
    """Decode one shard's attribute-mask blocks (operators/attrs.py:
    tf slot = attr bitmask): term -> (doc offsets, 0-based attr ranks).

    With ``search_on_mask`` (attributesToSearchOn), masks are first
    intersected with the requested subset and offsets whose
    intersection is empty are DROPPED — the surviving offsets double as
    the term's allowed-doc set for _restrict_terms_to_attrs, and the
    rank is the best attribute WITHIN the subset; a term with no
    surviving offset is left out."""
    terms, codes, d, t, _ = _decode_term_blocks(rows)
    o = d - base
    if search_on_mask is not None:
        t = t & search_on_mask
        keep = t != 0
        o, t, codes = o[keep], t[keep], codes[keep]
    # ctz via the isolated lowest bit: log2 is exact on powers of 2
    ranks = np.log2(t & -t).astype(np.int32)
    per_attr = _split_by_term(terms, codes, o, ranks)
    if search_on_mask is None:
        return per_attr
    return {term: v for term, v in per_attr.items() if v[0].size}


def _restrict_terms_to_attrs(
    per_term: "dict[str, tuple[np.ndarray, np.ndarray]]",
    per_attr: "dict[str, tuple[np.ndarray, np.ndarray]]",
    shard_range: int,
) -> "dict[str, tuple[np.ndarray, np.ndarray]]":
    """attributesToSearchOn in the batch path: keep only score postings
    whose (term, doc) appears in the subset-filtered attr decode. One
    dense bool per term per shard — cost O(shard_range) per term, paid
    once per shard for the whole query batch. Terms absent from the
    attr blocks (dictionary compounds spanning attribute boundaries)
    have no allowed docs and drop entirely (documented deviation).
    Negated terms' ban offsets are snapshotted BEFORE this restriction
    (_make_shard_body builds ban_src): a negation excludes corpus-wide
    like the single-query exclude_docs path — the restriction narrows
    what can MATCH, never what a negation excludes — and a term that is
    positive in one query and negated in another stays restricted for
    scoring while banning from its full posting."""
    out: "dict[str, tuple[np.ndarray, np.ndarray]]" = {}
    allow = np.zeros(shard_range, dtype=bool)
    for term, (o, imp) in per_term.items():
        a = per_attr.get(term)
        if a is None or not a[0].size:
            continue
        allow[:] = False
        allow[a[0]] = True
        keep = allow[o]
        if keep.any():
            out[term] = (o[keep], imp[keep])
    return out


def _pair_costs_dense(
    da: np.ndarray,
    pa: np.ndarray,
    db: np.ndarray,
    pb: np.ndarray,
    shard_range: int,
) -> np.ndarray:
    """Dense per-doc min word-pair proximity cost for ONE adjacent
    query pair (a, b) over one shard — the exact single-path formula
    (positions._pair_cost_sql: in-order q-p, reversed p-q+1, capped at
    PROX_MAX_BATCH, absent pair = worst) computed with one merged scan
    instead of a quadratic cross product.

    Inputs are the pair terms' flattened occurrences (doc offset, raw
    slot), each sorted by (doc, pos). Encode (doc, pos) into one int64
    key, sort the union with b-before-a on exact ties, then
    ``np.maximum.accumulate`` gives every element its latest preceding
    a-key / b-key: b elements yield in-order candidates (tie order
    makes the preceding a STRICT), a elements yield reversed
    candidates (ties allowed -> q==p costs 1, the single-path else
    branch). Cross-doc / no-predecessor candidates come out >= 2^32-ish
    and clamp harmlessly to the PROX_MAX_BATCH init. O(n log n), fully
    vectorized."""
    cost = np.full(shard_range, PROX_MAX_BATCH, dtype=np.int32)
    if not da.size or not db.size:
        return cost
    big = np.int64(1) << 32
    keys = np.concatenate((da.astype(np.int64) * big + pa,
                           db.astype(np.int64) * big + pb))
    is_a = np.zeros(keys.size, dtype=bool)
    is_a[: da.size] = True
    order = np.lexsort((is_a, keys))  # ties: b (False) before a (True)
    keyo, tago = keys[order], is_a[order]
    neg = np.int64(-1) << 40
    last_a = np.maximum.accumulate(np.where(tago, keyo, neg))
    last_b = np.maximum.accumulate(np.where(~tago, keyo, neg))
    cap = np.int64(PROX_MAX_BATCH)
    # in-order (a strictly before b): candidate q - p per b element
    bsel = ~tago
    d_in = np.minimum(keyo[bsel] - last_a[bsel], cap)
    np.minimum.at(
        cost, (keyo[bsel] // big).astype(np.int64), d_in.astype(np.int32)
    )
    # reversed (b at-or-before a): candidate p - q + 1 per a element
    asel = tago
    d_rev = np.minimum(keyo[asel] - last_b[asel] + 1, cap)
    np.minimum.at(
        cost, (keyo[asel] // big).astype(np.int64), d_rev.astype(np.int32)
    )
    return cost


def _attr_pair_costs_dense(
    oa: np.ndarray,
    ma: np.ndarray,
    ob: np.ndarray,
    mb: np.ndarray,
    shard_range: int,
) -> np.ndarray:
    """proximityPrecision='byAttribute' pair cost for one shard: 1
    when the two words co-occur in at least one common searchable
    attribute (bitmask intersection), PROX_MAX_BATCH otherwise — the
    exact single-path formula (positions._attr_pair_cost_sql). Inputs:
    each term's (doc offsets, attr bitmasks) from the attr blocks
    already riding the exchange."""
    cost = np.full(shard_range, PROX_MAX_BATCH, dtype=np.int32)
    if not oa.size or not ob.size:
        return cost
    da = np.zeros(shard_range, dtype=np.int64)
    db = np.zeros(shard_range, dtype=np.int64)
    da[oa] = ma
    db[ob] = mb
    cost[(da & db) != 0] = 1
    return cost


def _decode_shard_attr_masks(
    rows, base: int
) -> "dict[str, tuple[np.ndarray, np.ndarray]]":
    """Decode one shard's attribute-mask blocks keeping the RAW masks:
    term -> (doc offsets, attr bitmasks) — the byAttribute proximity
    input (_attr_pair_costs_dense). Masks stay corpus-wide (no
    attributesToSearchOn intersection): the restriction narrows what
    MATCHES, never which attributes the words live in — single-path
    parity (positions.proximity_costs reads the full attrs table)."""
    terms, codes, d, t, _ = _decode_term_blocks(rows)
    return _split_by_term(terms, codes, d - base, t)


def _positions_shard_map(
    pos_pdf: "pd.DataFrame", base: int
) -> "dict[str, tuple[np.ndarray, np.ndarray]]":
    """One shard's positional rows (term, doc_id, positions[]) ->
    term -> (flattened doc offsets, raw slots), sorted by (doc, pos)
    — the _pair_costs_dense input layout. Rows per (term, doc) are
    unique and position arrays are stored ascending, so a doc sort per
    term suffices."""
    out: "dict[str, tuple[np.ndarray, np.ndarray]]" = {}
    for term, g in pos_pdf.groupby("term", sort=False):
        g = g.sort_values("doc_id")
        lens = g["positions"].map(len).to_numpy(dtype=np.int64)
        if not lens.sum():
            continue
        docs = np.repeat(g["doc_id"].to_numpy(dtype=np.int64) - base, lens)
        slots = np.concatenate(
            [np.asarray(p, dtype=np.int64) for p in g["positions"]]
        )
        out[term] = (docs, slots)
    return out


def _phrase_doc_offsets(
    steps: "tuple[tuple[str, int], ...]",
    pos_map: "dict[str, tuple[np.ndarray, np.ndarray]]",
) -> "np.ndarray":
    """Shard-local doc offsets containing the phrase ``steps``
    ([(term, raw_slot)...], from positions.phrase_steps) as a
    contiguous raw-slot sequence — the numpy analog of
    positions.phrase_candidates' iterative adjacency join, used for
    negative-phrase bans in the batch scorer. Anchor = a position p
    such that term_i occurs at p + slot_i for every step: per step,
    pack (doc offset, occurrence position - slot) into one int64 key
    and intersect across steps; surviving keys' doc halves are the
    banned docs. Each step's keys are unique ((term, doc) rows are
    unique with ascending position arrays), so assume_unique holds
    throughout the intersection chain."""
    _empty = np.empty(0, dtype=np.int64)
    cur: "np.ndarray | None" = None
    for t, slot in steps:
        d, p = pos_map.get(t, (_empty, _empty))
        if slot:
            keep = p >= slot
            d, p = d[keep], p[keep]
        if not d.size:
            return _empty
        keys = (d << 32) | (p - slot)
        cur = (
            keys
            if cur is None
            else np.intersect1d(cur, keys, assume_unique=True)
        )
        if not cur.size:
            return _empty
    return np.unique(cur >> 32) if cur is not None else _empty


def _score_shard(
    per_term: "dict[str, tuple[np.ndarray, np.ndarray]]",
    term_plan: "dict[str, list[tuple[str, float]]]",
    qkeys: "list[str]",
    shard_range: int,
    base: int,
    k: int,
    query_chunk: int,
    track_matched: bool = False,
    per_attr: "dict[str, tuple[np.ndarray, np.ndarray]] | None" = None,
    attr_rank: bool = False,
    exact_sets: "dict[str, frozenset] | None" = None,
    require_groups: "dict[str, list[list[str]]] | None" = None,
    freq_groups: "dict[str, list[tuple[int, list[str]]]] | None" = None,
    forbid_terms: "dict[str, list[str]] | None" = None,
    ban_src: "dict[str, np.ndarray] | None" = None,
    prox_pairs: "dict[str, list[tuple[str, str]]] | None" = None,
    pos_of: "dict[str, tuple[np.ndarray, np.ndarray]] | None" = None,
    prox_attr: bool = False,
    crit_order: "list[str] | None" = None,
    forbid_phrases: (
        "dict[str, list[tuple[tuple[str, int], ...]]] | None"
    ) = None,
    phrase_pos: "dict[str, tuple[np.ndarray, np.ndarray]] | None" = None,
    count_only: bool = False,
) -> "tuple[list, list, list, dict[str, list]]":
    """Dense scatter-add scoring of one shard for every query; exact
    per-query local top-k. Queries are chunked to bound the dense array
    at chunk*shard_range*8 bytes (64 * 2^14 * 8 = 8 MiB at the default
    cfg.shard_range of 2^14).

    ``forbid_terms`` (negative keywords, Meilisearch v1.8 ``-word``):
    per qkey the literal terms whose presence EXCLUDES a doc — banned
    docs are zeroed before the local top-k (a shard-local doc filter,
    like 'all' above), so the scatter-gather stays exact. The negated
    terms' postings ride the same block exchange with idf folded to 0
    (they never contribute score, only the ban mask).

    Ordering: (score desc, doc_id asc); the optional Q11 ranking
    criteria compose in reference rule order ahead of the score —
    ``track_matched`` ('words': matched desc), ``attr_rank`` +
    ``per_attr`` ('attribute': best_attr asc via a dense running-min
    array), ``exact_sets`` ('exactness': per-qkey exact-form term set,
    exact_form desc) — each local top-k rank-identical to the
    single-query contract (tested). Criteria that are off cost
    nothing.

    ``prox_pairs`` + ``pos_of`` (Q11 'proximity', batch path): per
    qkey the adjacent query-word pairs, and this shard's flattened
    positional occurrences per pair term (_positions_shard_map). Each
    distinct pair's dense per-doc cost (_pair_costs_dense) is computed
    ONCE per shard and memoized across queries; a query's prox_cost =
    sum over its pairs, composed prox asc between 'words' and
    'attribute' in the rule order — rank-identical to the single-query
    ``search(proximity_rank=True)`` contract (tested). Queries with no
    pairs rank with prox_cost 0.

    ``freq_groups`` (matching_strategy='frequency'): per qkey the
    query's word groups as (drop_rank, alternates) in df-descending
    drop order; a doc's level = max drop_rank over groups it does NOT
    satisfy (0 if it satisfies all) — the analog of Meilisearch
    removing words most-frequent-first. level asc is the PRIMARY sort
    key, ahead of every other criterion.

    ``count_only`` (batch exhaustive pagination): emit per (query,
    shard) ONE row whose doc_id is the shard's candidate COUNT after
    every mask, instead of the local top-k — ranking criteria cannot
    change WHICH docs are candidates, so the caller forces them off."""
    out_q, out_d, out_s = [], [], []
    extras: "dict[str, list]" = {}
    if freq_groups is not None:
        extras["freq_level"] = []
    if track_matched:
        extras["matched"] = []
    if prox_pairs is not None:
        extras["prox"] = []
    if attr_rank:
        extras["best_attr"] = []
    if exact_sets is not None:
        extras["exact_form"] = []
    pair_cache: "dict[tuple[str, str], np.ndarray]" = {}
    # negative-phrase bans: each distinct phrase's banned-doc offsets
    # computed ONCE per shard and memoized across the batch's queries
    phrase_cache: "dict[tuple, np.ndarray]" = {}
    _empty_pos = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64))

    def _pair_cost(a: str, b: str) -> np.ndarray:
        got = pair_cache.get((a, b))
        if got is None:
            da, pa = (pos_of or {}).get(a, _empty_pos)
            db, pb = (pos_of or {}).get(b, _empty_pos)
            fn = _attr_pair_costs_dense if prox_attr else _pair_costs_dense
            got = fn(da, pa, db, pb, shard_range)
            pair_cache[(a, b)] = got
        return got

    for c0 in range(0, len(qkeys), query_chunk):
        chunk = qkeys[c0 : c0 + query_chunk]
        scores = np.zeros((len(chunk), shard_range), dtype=np.float64)
        counts = (
            np.zeros((len(chunk), shard_range), dtype=np.int32)
            if track_matched
            else None
        )
        best = (
            np.full(
                (len(chunk), shard_range), ATTR_RANK_SENTINEL, dtype=np.int32
            )
            if attr_rank
            else None
        )
        exc = (
            np.zeros((len(chunk), shard_range), dtype=np.int32)
            if exact_sets is not None
            else None
        )
        touched = np.zeros(len(chunk), dtype=bool)
        for qi, qkey in enumerate(chunk):
            exact = exact_sets.get(qkey) if exact_sets is not None else None
            for term, _idf in term_plan[qkey]:
                hit = per_term.get(term)
                if hit is None or not hit[0].size:
                    continue
                # a term's doc offsets are unique within a shard,
                # so plain fancy-index += is a correct scatter-add
                # (idf is folded into the impact at decode time)
                scores[qi][hit[0]] += hit[1]
                if counts is not None:
                    counts[qi][hit[0]] += 1
                if exc is not None and exact and term in exact:
                    exc[qi][hit[0]] += 1
                if best is not None and per_attr is not None:
                    a = per_attr.get(term)
                    if a is not None and a[0].size:
                        # offsets unique per term -> fancy-min is exact
                        b = best[qi]
                        b[a[0]] = np.minimum(b[a[0]], a[1])
                touched[qi] = True
        extras_only_score = (
            counts is None
            and best is None
            and exc is None
            and freq_groups is None
            and prox_pairs is None
        )
        for qi, qkey in enumerate(chunk):
            if not touched[qi]:
                continue
            row = scores[qi]
            if forbid_terms is not None:
                # negative keywords: a doc containing ANY negated term
                # never becomes a candidate (row=0 drops it from
                # flatnonzero below, in every strategy's path). Ban
                # offsets come from ban_src — snapshotted BEFORE any
                # attributesToSearchOn restriction, so the exclusion
                # stays corpus-wide (single-path parity)
                for t in forbid_terms.get(qkey, ()):
                    o = None
                    if ban_src is not None:
                        o = ban_src.get(t)
                    if o is None:
                        hit = per_term.get(t)
                        o = hit[0] if hit is not None else None
                    if o is not None and o.size:
                        row[o] = 0.0
            if forbid_phrases is not None:
                # negative phrases (-"..."): docs containing the
                # phrase as a contiguous raw-slot sequence are banned,
                # from positional rows riding the cogrouped side
                for steps in forbid_phrases.get(qkey, ()):
                    off = phrase_cache.get(steps)
                    if off is None:
                        off = _phrase_doc_offsets(steps, phrase_pos or {})
                        phrase_cache[steps] = off
                    if off.size:
                        row[off] = 0.0
            lvl = None
            if freq_groups is not None:
                # matching_strategy='frequency': level = max drop_rank
                # over word groups the doc does NOT satisfy (dense
                # per-group presence pass, same shape as 'all' below)
                lvl = np.zeros(shard_range, dtype=np.int32)
                for drop_rank, g in freq_groups[qkey]:
                    pres = np.zeros(shard_range, dtype=bool)
                    for t in g:
                        hit = per_term.get(t)
                        if hit is not None and hit[0].size:
                            pres[hit[0]] = True
                    np.maximum(
                        lvl, np.where(pres, 0, drop_rank), out=lvl
                    )
            if require_groups is not None:
                # matching_strategy='all': zero out docs missing any
                # word group BEFORE local top-k (a shard-local doc
                # filter — exactness of the scatter-gather unaffected)
                groups = require_groups[qkey]
                gsat = np.zeros(shard_range, dtype=np.int16)
                for g in groups:
                    pres = np.zeros(shard_range, dtype=bool)
                    for t in g:
                        hit = per_term.get(t)
                        if hit is not None and hit[0].size:
                            pres[hit[0]] = True
                    gsat += pres
                row = np.where(gsat >= len(groups), row, 0.0)
            if count_only:
                # batch exhaustive totals (page/hitsPerPage): BM25
                # impacts are strictly positive (idf > 0, tf >= 1), so
                # nonzero score == candidate after every shard-local
                # mask (filter bitmap at decode, negative bans, 'all'
                # word groups). ONE row per (query, shard) with the
                # count carried in doc_id — nothing doc-granular ever
                # leaves the shard, exactly like the top-k rows.
                n = int(np.count_nonzero(row))
                if n:
                    out_q.append(np.repeat(qkey, 1))
                    out_d.append(np.array([n], dtype=np.int64))
                    out_s.append(np.zeros(1, dtype=np.float64))
                continue
            prox_row = None
            if prox_pairs is not None:
                pairs = prox_pairs.get(qkey)
                if pairs:
                    prox_row = _pair_cost(*pairs[0]).copy()
                    for pr in pairs[1:]:
                        prox_row += _pair_cost(*pr)
            pos = np.flatnonzero(row)
            vals = row[pos]
            if extras_only_score:
                if pos.size > k:
                    kth = np.partition(vals, pos.size - k)[pos.size - k]
                    keep = vals >= kth
                    pos, vals = pos[keep], vals[keep]
                order = np.lexsort((pos, -vals))[:k]
                pos, vals = pos[order], vals[order]
            else:
                # lexsort: LAST key is primary. Priority (first to
                # last): the composed criteria order — the reference
                # default (freq_level asc, matched desc, prox asc,
                # best_attr asc, exact_form desc) or a user
                # ``crit_order`` (configurable rankingRules) — then
                # score desc, doc_id asc.
                crit_arrays = {
                    "freq_level": (lvl[pos], 1) if lvl is not None else None,
                    "matched": (
                        (counts[qi][pos], -1) if counts is not None else None
                    ),
                    "prox": (
                        (
                            prox_row[pos]
                            if prox_row is not None
                            else np.zeros(pos.size, dtype=np.int32),
                            1,
                        )
                        if prox_pairs is not None
                        else None
                    ),
                    "best_attr": (
                        (best[qi][pos], 1) if best is not None else None
                    ),
                    "exact_form": (
                        (exc[qi][pos], -1) if exc is not None else None
                    ),
                }
                prio = crit_order or [
                    "freq_level",
                    "matched",
                    "prox",
                    "best_attr",
                    "exact_form",
                ]
                keys: "list[np.ndarray]" = [pos, -vals]
                for name in reversed(prio):
                    got = crit_arrays.get(name)
                    if got is not None:
                        arr, sign = got
                        keys.append(arr if sign > 0 else -arr)
                order = np.lexsort(tuple(keys))[:k]
                if lvl is not None:
                    extras["freq_level"].append(lvl[pos][order])
                if counts is not None:
                    extras["matched"].append(counts[qi][pos][order])
                if prox_pairs is not None:
                    extras["prox"].append(
                        prox_row[pos][order]
                        if prox_row is not None
                        else np.zeros(order.size, dtype=np.int32)
                    )
                if best is not None:
                    extras["best_attr"].append(best[qi][pos][order])
                if exc is not None:
                    extras["exact_form"].append(exc[qi][pos][order])
                pos, vals = pos[order], vals[order]
            out_q.append(np.repeat(qkey, pos.size))
            out_d.append(pos + base)
            out_s.append(vals)
    return out_q, out_d, out_s, extras


def _out_cols(out_q, out_d, out_s, extras) -> "dict[str, np.ndarray]":
    cols = {
        "qkey": np.concatenate(out_q),
        "doc_id": np.concatenate(out_d),
        "score": np.concatenate(out_s),
    }
    for name, parts in extras.items():
        cols[name] = np.concatenate(parts)
    return cols


def _make_shard_body(
    plan: "list[tuple[str, list[tuple[int, float]]]]",
    qkeys: "list[str]",
    shard_range: int,
    avgdl: float,
    k1: float,
    b: float,
    k: int,
    query_chunk: int = 64,
    track_matched: bool = False,
    attr_rank: bool = False,
    exact_sets: "dict[str, frozenset] | None" = None,
    require_groups: "dict[str, list[list[str]]] | None" = None,
    freq_groups: "dict[str, list[tuple[int, list[str]]]] | None" = None,
    search_on_mask: "int | None" = None,
    forbid_terms: "dict[str, list[str]] | None" = None,
    prox_pairs: "dict[str, list[tuple[str, str]]] | None" = None,
    prox_attr: bool = False,
    crit_order: "list[str] | None" = None,
    forbid_phrases: (
        "dict[str, list[tuple[tuple[str, int], ...]]] | None"
    ) = None,
    count_only: bool = False,
):
    """The batch scatter-gather's per-shard scoring (document-
    partitioned search, the standard sharded-index query architecture)
    -> ``score(rows, attr_rows, base, mask=None, pos_map=None)``
    returning _score_shard's (out_q, out_d, out_s, extras).

    One shard's input: ``rows`` = its compressed score blocks for the
    batch's query terms, ``attr_rows`` = its attribute-mask blocks
    (operators/attrs.py; empty unless the request needs them),
    ``mask`` = the allowed-doc bitmap of a filter (applied at decode
    time; BM25 stats stay corpus-global, Meilisearch filter semantics)
    and ``pos_map`` = the positional rows of the byWord proximity pair
    terms and negative-phrase terms (_positions_shard_map). Each term
    is decoded ONCE with its idf folded into the BM25 impact, then
    every query's scores accumulate into a dense (queries x
    shard_range) float64 array — doc offsets within a shard index
    directly, so accumulation is pure numpy scatter-add. Exact
    per-query local top-k is selected under the composed Q11 criteria
    key; only n_shards*k rows per query leave the partition.

    byAttribute proximity (``prox_attr``) reads its pair costs from the
    attr blocks' raw masks instead of ``pos_map`` — no positional side.
    Negated terms' ban offsets are snapshotted before the
    ``search_on_mask`` restriction (see _restrict_terms_to_attrs)."""
    term_plan: dict[str, list[tuple[int, float]]] = dict(plan)
    idf_of = {t: i for terms in term_plan.values() for t, i in terms}
    if forbid_terms:
        # negated terms ride the exchange for the ban mask only: fold
        # idf 0 so their decoded impacts are 0 (and the fold never
        # KeyErrors on a term no surviving positive plan uses)
        for ts in forbid_terms.values():
            for t in ts:
                idf_of.setdefault(t, 0.0)
    forbid_all = (
        frozenset(t for ts in forbid_terms.values() for t in ts)
        if forbid_terms
        else None
    )

    def score(rows, attr_rows, base: int, mask=None, pos_map=None):
        per_term = _decode_shard_terms(
            rows, base, avgdl, k1, b, mask=mask, idf_map=idf_of
        )
        per_attr = (
            _decode_shard_attrs(attr_rows, base, search_on_mask)
            if attr_rank or search_on_mask is not None
            else None
        )
        # byWord proximity and negative-phrase bans share the same
        # positional rows; byAttribute proximity takes attr masks while
        # phrase bans keep the real slots
        pos_of = pos_map if prox_pairs is not None else None
        if prox_pairs is not None and prox_attr:
            pos_of = _decode_shard_attr_masks(attr_rows, base)
        ban_src = None
        if forbid_all is not None:
            ban_src = {
                t: per_term[t][0] for t in forbid_all if t in per_term
            }
        if search_on_mask is not None:
            per_term = _restrict_terms_to_attrs(
                per_term, per_attr, shard_range
            )
        return _score_shard(
            per_term, term_plan, qkeys, shard_range, base, k, query_chunk,
            track_matched, per_attr if attr_rank else None, attr_rank,
            exact_sets, require_groups, freq_groups,
            forbid_terms=forbid_terms, ban_src=ban_src,
            prox_pairs=prox_pairs, pos_of=pos_of, prox_attr=prox_attr,
            crit_order=crit_order, forbid_phrases=forbid_phrases,
            phrase_pos=pos_map if forbid_phrases is not None else None,
            count_only=count_only,
        )

    return score


def _make_shard_scorer(score, shard_range: int):
    """``mapInPandas`` adapter over a _make_shard_body ``score``: input
    rows are the batch's compressed blocks, partitioned so one
    doc-shard's blocks land in one partition; a ``bkind`` column marks
    attribute-mask blocks (1) co-shuffled with the score blocks (0) in
    the same exchange (no extra doc-granular traffic)."""

    def scorer(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        # buffer the partition's (compressed) blocks grouped by shard
        by_shard: "dict[int, list]" = {}
        attr_by_shard: "dict[int, list]" = {}
        for pdf in batches:
            has_kind = "bkind" in pdf.columns
            for row in pdf.itertuples(index=False):
                shard = int(row.first_doc) // shard_range
                if has_kind and row.bkind == 1:
                    attr_by_shard.setdefault(shard, []).append(row)
                else:
                    by_shard.setdefault(shard, []).append(row)
        for shard in sorted(by_shard):
            out_q, out_d, out_s, extras = score(
                by_shard[shard],
                attr_by_shard.get(shard, ()),
                shard * shard_range,
            )
            if out_q:
                yield pd.DataFrame(_out_cols(out_q, out_d, out_s, extras))

    return scorer


def _make_filtered_shard_scorer(
    score, shard_range: int, columns: "list[str]", has_filter: bool
):
    """Cogroup adapter over a _make_shard_body ``score`` for filtered
    and/or positional batch search: key = doc-shard; left = the shard's
    compressed blocks (``bkind`` as in _make_shard_scorer), right = the
    shard's allowed doc_ids from ``filter_docs`` and/or (rows flagged
    ``_ispos``) the positional rows of the byWord proximity pair terms
    and negative-phrase terms. The allowed set becomes the shard-local
    decode mask. With ``has_filter``, a shard with blocks but no
    allowed docs emits nothing; a shard with allowed docs but no blocks
    has no candidates by construction; positions-only right sides
    (``has_filter=False``) score unmasked — a shard with no positional
    rows just ranks every pair at the worst cost. Attr ranks of docs
    the mask drops are harmless: their scores stay 0. ``columns``: the
    scored schema's column names (empty-shard frame)."""
    empty = pd.DataFrame({c: [] for c in columns})

    def scorer(key, blocks_pdf: pd.DataFrame, right_pdf: pd.DataFrame) -> pd.DataFrame:
        if blocks_pdf.empty:
            return empty
        base = int(key[0]) * shard_range
        pos_map = None
        filt_pdf = right_pdf
        if "_ispos" in right_pdf.columns:
            ispos = right_pdf["_ispos"].to_numpy(dtype=bool)
            pos_pdf = right_pdf[ispos]
            filt_pdf = right_pdf[~ispos]
            pos_map = (
                {} if pos_pdf.empty else _positions_shard_map(pos_pdf, base)
            )
        mask = None
        if has_filter:
            if filt_pdf.empty:
                return empty
            mask = np.zeros(shard_range, dtype=bool)
            mask[filt_pdf["doc_id"].to_numpy(dtype=np.int64) - base] = True
        attr_rows: "list" = []
        if "bkind" in blocks_pdf.columns:
            attr_rows = list(
                blocks_pdf[blocks_pdf["bkind"] == 1].itertuples(index=False)
            )
            blocks_pdf = blocks_pdf[blocks_pdf["bkind"] == 0]
        out_q, out_d, out_s, extras = score(
            blocks_pdf.itertuples(index=False), attr_rows, base,
            mask=mask, pos_map=pos_map,
        )
        if not out_q:
            return empty
        return pd.DataFrame(_out_cols(out_q, out_d, out_s, extras))

    return scorer


def _neg_only_hits(
    index: InvertedIndex,
    res: DataFrame,
    neg_only: "dict[str, tuple[list[str], list[str]]]",
    k_all: int,
    filter_docs: "DataFrame | None",
    ranking: RankingPlan,
) -> DataFrame:
    """Union placeholder hits for negative-ONLY batch queries onto the
    scored result: per query, ALL documents minus its exclusion set
    (Meilisearch v1.8 negative-keyword semantics over the placeholder
    candidate set) — one column-pruned docs scan shared across the
    queries, a per-query anti-join, and a bounded TakeOrdered(k_all).
    Matching criteria are vacuously inactive (nothing matched), so the
    order is the doc-field rules then doc_id asc; criteria columns take
    their no-match values typed to the result schema."""
    from pyspark.sql.window import Window

    from meilibridge_spark.operators.positions import (
        negative_exclusion_docs,
    )

    # matching criteria vacuously inactive; sort stays active
    order = ranking.order(matched=False) + [F.col("doc_id").asc()]
    need_fields = ranking.doc_fields
    base = index.docs.select("doc_id", *need_fields)
    if filter_docs is not None:
        base = base.join(
            filter_docs.select("doc_id"), "doc_id", "left_semi"
        )
    dtypes = dict(res.dtypes)
    out = res
    for qid, (nw, nph) in sorted(neg_only.items()):
        excl = negative_exclusion_docs(index, nw, nph)
        cand = (
            base.join(excl.select("doc_id"), "doc_id", "left_anti")
            if excl is not None
            else base
        )
        # TakeOrdered bounds the scan; the rank window then runs over
        # <= k_all rows (single-task by construction, not a bottleneck)
        top = (
            cand.orderBy(*order)
            .limit(k_all)
            .withColumn("rank", F.row_number().over(Window.orderBy(*order)))
        )
        cols = []
        for c in res.columns:
            if c == "query_id":
                cols.append(F.lit(qid).alias(c))
            elif c in ("doc_id", "rank") or c in need_fields:
                cols.append(F.col(c))
            elif c == "score":
                cols.append(F.lit(0.0).alias(c))
            else:
                cols.append(F.lit(0).cast(dtypes[c]).alias(c))
        out = out.unionByName(top.select(*cols))
    return out


def search_many(
    index: InvertedIndex,
    queries: "list[tuple[str, str]]",
    k: "int | None" = None,
    gather: str = "auto",
    filter_docs: "DataFrame | None" = None,
    typo: bool = False,
    typo_cfg=None,
    words_rank: "bool | None" = None,
    attribute_rank: bool = False,
    proximity_rank: bool = False,
    exactness_rank: bool = False,
    exact_terms: "dict[str, list[str]] | None" = None,
    matching_strategy: str = "last",
    attributes_to_search_on: "tuple[str, ...] | None" = None,
    offset: int = 0,
    prefix: bool = False,
    prefix_max_expansions: int = 10,
    ranking_rules: "list[str] | tuple[str, ...] | None" = None,
    sort_params: "list[tuple[str, bool]] | None" = None,
    page: "int | None" = None,
    hits_per_page: "int | None" = None,
    carrier_empty_pages: bool = False,
    _count_only: bool = False,
) -> DataFrame:
    """Score a batch of (query_id, query_text) in one Spark job ->
    (query_id, doc_id, score[, matched_terms][, prox_cost]
    [, best_attr][, exact_form][, rule fields...], rank<=k).

    ``ranking_rules`` / ``sort_params``: configurable rankingRules
    (reference config/type.go:56; operators/ranking.py), same contract
    as the single-query ``search`` — the list decides criterion
    activation AND order, custom ``field:asc|desc`` rules join the
    field from docs, and ``sort_params`` composes AT the ``sort``
    rule's position. The composed order is threaded into the
    shard-local top-k (``crit_order``) so the scatter-gather stays
    exact under any rule permutation. Batch-path deviations: the
    'typo' criterion is single-path only (a listed 'typo' is skipped,
    matching the pre-existing batch contract), and a rule list with
    doc-field rules (custom or an active ``sort``) disables
    shard-local truncation — every candidate row reaches the global
    ranking stage, because a doc-attribute can reorder across any
    local cut. That is the same cost class as Meilisearch's own sort
    criterion (it walks the full candidate bitmap) and as exhaustive
    facetDistribution here: one doc-granular window per batch, only
    candidate rows move. Rank-identical to the single path (tested).

    Q11 ranking criteria compose in reference rule order ahead of
    (score desc, doc_id asc), each rank-identical to the single-query
    contract (tested) and free when off:

    - ``words_rank`` (default cfg.words_ranking): matched_terms desc —
      a per-query count array alongside the dense scatter-add.
    - ``attribute_rank``: best_attr asc — the attr-rank blocks
      (operators/attrs.py; requires with_attributes=True) ride the SAME
      doc-shard exchange as the score blocks marked ``bkind``, decoded
      into a per-shard running-min array. Shuffle-free in serving mode
      when prepare_serving co-resided the attr blocks.
    - ``proximity_rank``: prox_cost asc — the Q11 'proximity'
      criterion (rule #3, between words and attribute) in the batch
      path. Per query, adjacent-word pairs come from its positive
      text; the pair terms' POSITIONAL postings ride a cogrouped
      per-doc-shard side next to the block exchange (the same pattern
      the filter bitmap uses — in serving mode the resident blocks
      stay put and only the term-pruned positional rows shuffle), each
      distinct pair's dense per-doc cost is computed once per shard
      and memoized across queries (_pair_costs_dense: one merged
      O(n log n) scan, not a cross product), and the composed
      shard-local top-k stays exact. Rank-identical to
      ``search(..., proximity_rank=True)`` (tested). Under
      ``proximityPrecision='byWord'`` (default) it needs the positions
      table; under 'byAttribute' the pair cost is attr-bitmask
      co-occurrence read from the attr blocks ALREADY riding the
      exchange — no positional side, no extra shuffle at all.
    - ``exactness_rank``: exact_form desc — count of matched terms in
      the query's exact user-typed form (default: its pre-expansion
      tokens; override per query via ``exact_terms[qid]``).

    ``typo=True`` applies Q12 typo expansion to every query before
    planning: ONE candidate lookup covers the whole batch
    (typo_expansion_map — key-pruned against the deletion-neighborhood
    table when prepare_typo_index ran, else one levenshtein scan), then
    each expanded term scores with its own idf exactly as in
    ``search_typo`` (rank-identical, tested).

    ``matching_strategy`` (Meilisearch's matchingStrategy search
    param): ``"last"`` = the default OR semantics ranked by
    ``words_rank`` (our documented analog of Meilisearch's
    drop-words-from-the-end); ``"all"`` = only documents matching
    EVERY query word qualify, where a word is satisfied by itself, a
    synonym, or (with ``typo=True``) a typo alternate — the word-group
    mask is applied shard-locally before the local top-k, so the
    scatter-gather stays exact. A query containing a word with no
    indexed alternates returns zero hits (dropped from the plan before
    the job). Rank-identical to the single-path ``search(...,
    matching_strategy='all')`` contract (tested). ``"frequency"`` =
    Meilisearch v1.8 matchingStrategy=frequency: the words criterion
    becomes the drop level under most-frequent-first word removal
    (``freq_drop_ranks``; output column ``freq_level``, level asc
    ahead of every other rule, computed shard-locally from the same
    word-group presence passes as 'all') — rank-identical to the
    single path (tested).

    ``offset`` (Q13 pagination): per query, skip the first ``offset``
    ranked hits and return the next ``k``; ``rank`` stays the ABSOLUTE
    position (offset+1..offset+k). Shards rank their local top
    offset+k, the skip is a final rank filter.

    ``page`` / ``hits_per_page`` (Meilisearch EXHAUSTIVE pagination,
    v0.30+) — batch form: setting either switches EVERY query in the
    batch to page slices + exhaustive ``total_hits`` / ``total_pages``
    metadata columns (capped at maxTotalHits), with ``k`` / ``offset``
    ignored exactly as the endpoint ignores limit/offset in this mode.
    Cost for M queries: TWO jobs — the normal top-k scatter-gather
    sliced to the page, plus ONE count pass where each shard emits a
    single (query, candidate-count) row through the same block
    exchange (``_count_only`` scorer mode; nothing doc-granular moves)
    — versus M single-query paged jobs through multi_search.
    ``hits_per_page=0`` is the count-only batch: one metadata carrier
    row per query (NULL doc_id/score/rank), the multi-search
    convention. Queries whose requested page is past the end
    contribute zero rows (single-path parity). See also
    :func:`search_many_count` for bare (query_id, total_hits).

    ``prefix=True`` (Meilisearch's always-on last-word prefix search):
    each query's final word also matches dictionary terms it prefixes,
    bounded to ``prefix_max_expansions`` lexicographic candidates with
    their own idf — rank-identical to the single-path ``search_prefix``
    (tested). ONE job resolves every unique prefix in the batch
    (prefix_expansion_map: pushed per-prefix TakeOrdered scans);
    candidates satisfy the last word's group under
    matching_strategy='all'/'frequency' exactly like typo alternates.

    Negative keywords (Meilisearch v1.8 ``-word`` query syntax) are
    parsed out of each query's text: docs containing a negated word
    never become candidates for THAT query. The ban is per query,
    applied shard-locally from the negated terms' own postings riding
    the normal block exchange — no doc-granular exclusion set is built
    or shuffled, and it composes with every strategy/criterion/filter
    here. Negated words stay literal (no synonym/typo expansion, same
    contract as positions.negative_exclusion_docs); negative PHRASES
    (``-"..."``) raise — they need positional adjacency, which the
    single-query positions.search_with_phrases path owns.

    ``attributes_to_search_on`` (Meilisearch's attributesToSearchOn):
    restrict matching for EVERY query in the batch to terms occurring
    in the named searchable attributes. The attr-mask blocks ride the
    same doc-shard exchange as for ``attribute_rank`` (bkind column);
    per shard, each term's allowed-doc set is computed ONCE from its
    subset-intersected mask and applied to the score postings before
    the scatter-add, so the restriction costs one dense bool pass per
    term per shard regardless of batch size. Same documented deviations
    as the single path (index-global BM25 stats; boundary-spanning
    dictionary compounds never match under a restriction), and
    rank-identical to ``search(..., attributes_to_search_on=...)``
    (tested). Composes with ``attribute_rank``: best_attr becomes the
    best attribute WITHIN the requested subset.

    ``filter_docs``: optional DataFrame with a doc_id column restricting
    candidates for EVERY query in the batch (Q7 filterable attributes,
    config/type.go:62); BM25 stats stay corpus-global. The filter rides
    the same scatter-gather: allowed ids are cogrouped with the posting
    blocks by doc-shard and applied as a shard-local bitmap at decode
    time — nothing doc-granular beyond the filtered ids themselves is
    shuffled. Batches mixing different filters = one search_many call
    per filter group. In serving mode the cogroup groups on the
    resident layout's materialized _shard column, so the blocks side
    never re-shuffles — only the allowed ids move (plan-tested).

    Document-partitioned scatter-gather: the only shuffle moves the
    batch's COMPRESSED posting blocks (grouped by doc-shard); each
    shard scores all queries in one vectorized pass and emits its local
    top-k, and the global merge ranks just n_shards*k rows per query.
    Nothing doc-granular is ever shuffled or materialized, so the
    heavy stage scales with shard count (= corpus size /
    cfg.shard_range, default 2^14), independent of query count or term
    hotness. At extreme shard
    counts the final single-level merge generalizes to a tree merge;
    at 10^12 turns the per-query merge input is n_shards*k rows,
    which a two-level (salted) merge handles the same way.

    One Spark job: with the driver gather (``gather='driver'``, or
    ``'auto'`` under DRIVER_GATHER_MAX_ROWS) the scorer stage is the
    call's only job — the gather collects it inside this call and
    returns the merged hits as a local relation, so collecting the
    result runs no further job (tested on the serving layout). The
    window / tree merges stay lazy and run when the result is read.
    """
    if page is not None or hits_per_page is not None:
        if _count_only:
            raise ValueError(
                "page/hits_per_page cannot combine with _count_only"
            )
        return _search_many_paged(
            index, queries, page, hits_per_page,
            gather=gather, filter_docs=filter_docs,
            typo=typo, typo_cfg=typo_cfg,
            words_rank=words_rank, attribute_rank=attribute_rank,
            proximity_rank=proximity_rank, exactness_rank=exactness_rank,
            exact_terms=exact_terms, matching_strategy=matching_strategy,
            attributes_to_search_on=attributes_to_search_on,
            prefix=prefix, prefix_max_expansions=prefix_max_expansions,
            ranking_rules=ranking_rules, sort_params=sort_params,
            carrier_empty_pages=carrier_empty_pages,
        )
    k = k or index.cfg.max_total_hits
    if offset < 0:
        raise ValueError(f"offset must be >= 0, got {offset}")
    # pagination: shards and merge rank the top offset+k, the skip is a
    # rank filter at the very end (rank stays the ABSOLUTE position,
    # Meilisearch offset/limit semantics)
    k_all = k + offset
    if matching_strategy not in ("last", "all", "frequency"):
        raise ValueError(
            "matching_strategy must be 'last', 'all' or 'frequency', "
            f"got {matching_strategy!r}"
        )
    if _count_only:
        # batch COUNT mode (exhaustive totals): ranking criteria cannot
        # change WHICH docs are candidates, only their order — force
        # them all off so shards do pure mask+count work. The
        # candidate-SHAPING params (filters, matching strategies,
        # typo/prefix expansion, attributesToSearchOn, negatives) stay
        # live — they decide membership. Dedup gets STRONGER here:
        # queries differing only in ranking inputs (exact form, word
        # order) legitimately share one count key.
        ranking = RankingPlan([], {}, [])
    else:
        # 'typo' never activates here — the typo CRITERION is
        # single-path only (documented above); exactness data is each
        # query's own typed form (or its exact_terms entry)
        ranking = resolve_ranking(
            index.cfg, index, ranking_rules, sort_params,
            words=words_rank, proximity=proximity_rank,
            attribute=attribute_rank, exactness=exactness_rank,
            exact_data=True,
        )
    words_rank = ranking.active.get("words", False)
    proximity_rank = ranking.active.get("proximity", False)
    attribute_rank = ranking.active.get("attribute", False)
    exactness_rank = ranking.active.get("exactness", False)
    need_fields = ranking.doc_fields
    if attribute_rank and index.attrs is None:
        raise ValueError(
            "attribute_rank requires an index built with "
            "with_attributes=True (operators/attrs.py)"
        )
    prox_attr = False
    if proximity_rank:
        if index.cfg.proximity_precision == "byAttribute":
            # byAttribute proximity reads the attr blocks that already
            # ride the exchange — no positional side needed
            prox_attr = True
            if index.attrs is None:
                raise ValueError(
                    "proximity_rank with proximityPrecision="
                    "'byAttribute' requires an index built with "
                    "with_attributes=True (operators/attrs.py)"
                )
        elif index.positions is None:
            raise ValueError(
                "proximity_rank requires a positions table (build the "
                "snapshot with with_positions=True)"
            )
    search_on_mask: "int | None" = None
    if attributes_to_search_on is not None:
        if index.attrs is None:
            raise ValueError(
                "attributes_to_search_on requires an index built with "
                "with_attributes=True (operators/attrs.py)"
            )
        from meilibridge_spark.operators.attrs import attrs_search_mask

        search_on_mask = attrs_search_mask(index.cfg, attributes_to_search_on)
    need_attr_blocks = (
        attribute_rank or search_on_mask is not None or prox_attr
    )
    spark = index.postings.sparkSession
    # Meilisearch v1.8 negative keywords are query SYNTAX: strip
    # '-word' segments per query BEFORE tokenization — the tokenizer
    # has no dash concept, so raw '-table' would become the REQUIRED
    # positive term 'table', the exact inverse of exclusion. Negated
    # words stay literal (no synonym/typo expansion, matching
    # negative_exclusion_docs) and ban shard-locally through the same
    # block exchange (forbid_terms in the scorer). Negative PHRASES
    # ban shard-locally too: their terms' positional rows ride the
    # cogrouped doc-shard side (the byWord proximity machinery) and
    # each phrase's banned-doc offsets are computed once per shard.
    neg_of: "dict[str, list[str]]" = {}
    neg_phrase_of: "dict[str, list[tuple[tuple[str, int], ...]]]" = {}
    neg_only: "dict[str, tuple[list[str], list[str]]]" = {}
    if any("-" in text for _, text in queries):
        from meilibridge_spark.functions.tokenizer import tokenize
        from meilibridge_spark.operators.positions import (
            parse_negative,
            phrase_steps,
        )

        stripped: "list[tuple[str, str]]" = []
        for qid, text in queries:
            pos_text, neg_words, neg_phrases = parse_negative(text)
            if (neg_words or neg_phrases) and not parse_query(
                pos_text, index.cfg.analyzer
            ):
                # negative-ONLY query (no indexable positive tokens):
                # Meilisearch searches ALL documents and applies the
                # exclusion — routed through the placeholder candidate
                # path (docs scan, no postings) and unioned back in
                neg_only[qid] = (neg_words, neg_phrases)
                continue
            if neg_phrases:
                # negative PHRASES (-"...") ban shard-locally from the
                # phrase terms' positional rows riding the cogrouped
                # exchange (same side the byWord proximity criterion
                # uses) — a stop-word-only phrase constrains nothing,
                # exactly like negative_exclusion_docs
                steps_list = [
                    tuple(s)
                    for s in (
                        phrase_steps(p, index.cfg.analyzer)
                        for p in neg_phrases
                    )
                    if s
                ]
                if steps_list:
                    if index.positions is None:
                        raise ValueError(
                            "negative phrases need a positions table "
                            "(build the snapshot with "
                            "with_positions=True)"
                        )
                    neg_phrase_of[qid] = steps_list
            if neg_words:
                nts = sorted(
                    {
                        t
                        for w in neg_words
                        for t in tokenize(w, index.cfg.analyzer)
                    }
                )
                if nts:
                    neg_of[qid] = nts
            stripped.append(
                (qid, pos_text if (neg_words or neg_phrases) else text)
            )
        queries = stripped
    # Meilisearch placeholder semantics: a query whose text yields NO
    # indexable tokens (empty / stop-word-only q) matches ALL documents
    # — routed through the same placeholder candidate path as
    # negative-only queries, with an empty exclusion set
    live: "list[tuple[str, str]]" = []
    for qid, text in queries:
        if not parse_query(text, index.cfg.analyzer):
            neg_only.setdefault(qid, ([], []))
        else:
            live.append((qid, text))
    queries = live
    # dedup queries by their normalized term set: identical queries (and
    # rewordings hitting the same terms) are scored once and fanned back
    # out at the end — contributions are query-independent
    parsed = {qid: parse_query(text, index.cfg.analyzer) for qid, text in queries}
    exp_map: "dict[str, list[str]]" = {}
    if typo:
        all_q_terms = list(
            dict.fromkeys(t for ts in parsed.values() for t in ts)
        )
        exp_map = typo_expansion_map(index, all_q_terms, typo_cfg)
    pref_map: "dict[str, list[str]]" = {}
    if prefix and index.cfg.prefix_search == "disabled":
        prefix = False  # v1.12 prefixSearch=disabled: exact words only
    if prefix:
        # Meilisearch last-word prefix semantics for the whole batch:
        # ONE job resolves every unique last-word prefix (pushed
        # per-prefix scans, prefix_expansion_map); over-fetch by the
        # worst per-query overlap so trimming below always yields
        # max_expansions NEW candidates (single-path parity)
        overlaps: "dict[str, int]" = {}
        for ts in parsed.values():
            if not ts:
                continue
            p = ts[-1]
            # the trim loop below skips candidates already in `terms`,
            # which holds typed terms AND their typo expansions — budget
            # the over-fetch for both or a colliding typo alternate
            # silently eats a prefix-candidate slot
            full = list(dict.fromkeys(ts))
            if exp_map:
                for t in list(full):
                    for c in exp_map.get(t, ()):
                        if c not in full:
                            full.append(c)
            ov = sum(1 for t in full if t.startswith(p))
            overlaps[p] = max(overlaps.get(p, 0), ov)
        pref_map = prefix_expansion_map(
            index, overlaps, prefix_max_expansions
        )
    exact_of: "dict[str, frozenset]" = {}
    if exactness_rank:
        # exact form = what the user typed BEFORE any derivation
        # (synonym/typo expansion); overridable per query via exact_terms
        from meilibridge_spark.functions.tokenizer import tokenize

        for qid, text in queries:
            if exact_terms is not None and qid in exact_terms:
                exact_of[qid] = frozenset(exact_terms[qid])
            else:
                exact_of[qid] = frozenset(tokenize(text, index.cfg.analyzer))
    key_of: dict[str, str] = {}
    key_terms: dict[str, tuple[str, ...]] = {}
    forbid_of: "dict[str, list[str]]" = {}
    forbid_phrases_of: "dict[str, list[tuple[tuple[str, int], ...]]]" = {}
    exact_sets: "dict[str, frozenset] | None" = {} if exactness_rank else None
    prox_sets: "dict[str, list[tuple[str, str]]] | None" = (
        {} if proximity_rank else None
    )
    if proximity_rank:
        from meilibridge_spark.operators.positions import proximity_pairs
    group_sets: "dict[str, list[list[str]]]" = {}
    if matching_strategy in ("all", "frequency"):
        from meilibridge_spark.functions.tokenizer import query_word_groups
    for qid, qtext in queries:
        terms = list(dict.fromkeys(parsed[qid]))
        if exp_map:
            for t in list(terms):
                for c in exp_map.get(t, ()):
                    if c not in terms:
                        terms.append(c)
        pref_added: "list[str]" = []
        if pref_map and parsed[qid]:
            for c in pref_map.get(parsed[qid][-1], ()):
                if len(pref_added) >= prefix_max_expansions:
                    break
                if c not in terms:
                    terms.append(c)
                    pref_added.append(c)
        terms = tuple(terms)
        key = "\x1f".join(terms)
        if exactness_rank:
            # two queries with identical term sets but different exact
            # forms must not dedup onto one key
            key += "\x01" + ",".join(sorted(exact_of[qid]))
        gq = None
        if matching_strategy in ("all", "frequency"):
            # same term set but different word-group structure must not
            # dedup either (the groups drive the 'all' constraint and
            # the 'frequency' drop order — which also depends on group
            # POSITION for df ties, preserved by the in-order dump)
            q_exp = exp_map
            if pref_added:
                # prefix candidates satisfy the LAST word's group,
                # exactly like typo alternates satisfy theirs
                q_exp = {t: list(cs) for t, cs in exp_map.items()}
                last = parsed[qid][-1]
                q_exp[last] = q_exp.get(last, []) + pref_added
            gq = query_word_groups(
                qtext, index.cfg.analyzer, expansions=q_exp or None
            )
            sep = "\x02" if matching_strategy == "all" else "\x03"
            key += sep + "|".join(",".join(sorted(g)) for g in gq)
        nts = neg_of.get(qid)
        if nts:
            # same positives but different negatives must not dedup
            key += "\x04" + ",".join(nts)
        nps = neg_phrase_of.get(qid)
        if nps:
            # same positives but different negative phrases must not
            # dedup either (canonical term@slot dump)
            key += "\x06" + "|".join(
                ",".join(f"{t}@{s}" for t, s in steps) for steps in nps
            )
        pp = None
        if proximity_rank:
            # same term SET but different word ORDER ranks differently
            # under proximity (the pairs differ) — suffix the key
            pp = proximity_pairs(qtext, index.cfg)
            if pp:
                key += "\x05" + "|".join(f"{a},{b}" for a, b in pp)
        # key-indexed side tables register only once the dedup key is
        # FULLY built — registering exact_sets before the '\x02' group
        # suffix made exactness silently inert under
        # matching_strategy='all' (the scorer looks up the final key)
        if exactness_rank:
            exact_sets[key] = exact_of[qid]
        if pp is not None:
            prox_sets[key] = pp
        if gq is not None:
            group_sets[key] = gq
        if nts:
            forbid_of[key] = nts
        if nps:
            forbid_phrases_of[key] = nps
        key_of[qid] = key
        key_terms[key] = terms
    all_terms = sorted({t for ts in key_terms.values() for t in ts})
    idf_map = _idf_map(index, all_terms)
    plan = [
        (key, sorted({(t, idf_map[t]) for t in ts if t in idf_map}))
        for key, ts in key_terms.items()
    ]
    plan = [(key, terms) for key, terms in plan if terms]
    require_groups: "dict[str, list[list[str]]] | None" = None
    if matching_strategy == "all":
        present = set(idf_map)
        require_groups = {}
        unsatisfiable: set = set()
        for key, gq in group_sets.items():
            fg = [[t for t in g if t in present] for g in gq]
            if any(not g for g in fg):
                # a word with zero indexed alternates: the query can
                # never be satisfied — drop it from the plan entirely
                unsatisfiable.add(key)
            else:
                require_groups[key] = fg
        plan = [
            (key, terms) for key, terms in plan if key not in unsatisfiable
        ]
    freq_groups: "dict[str, list[tuple[int, list[str]]]] | None" = None
    if matching_strategy == "frequency" and not _count_only:
        # per query: (drop_rank, indexed alternates) in df-desc drop
        # order; unindexed groups are pre-dropped inside freq_drop_ranks
        # (count mode skips this: 'frequency' only RANKS — its
        # candidate set is the plain OR set)
        freq_groups = {
            key: freq_drop_ranks(gq, idf_map)
            for key, gq in group_sets.items()
        }
    # fetch blocks only for terms that appear in SURVIVING plan entries:
    # idf_map may hold terms belonging solely to queries dropped as
    # unsatisfiable under matching_strategy='all' — fetching those
    # blocks both wastes I/O and KeyErrors the decode-time idf fold
    # (idf_of is built from the pruned plan). Surviving queries'
    # NEGATED terms must ride along too (ban mask, idf folded to 0).
    live_keys = {key for key, _ in plan}
    forbid_live = {
        key: ts for key, ts in forbid_of.items() if key in live_keys
    } or None
    phrase_live = {
        key: sl
        for key, sl in forbid_phrases_of.items()
        if key in live_keys
    } or None
    fetch_terms = sorted(
        {t for _, terms in plan for t, _ in terms}
        | {
            t
            for ts in (forbid_live or {}).values()
            for t in ts
        }
    )
    # ordered Q11 criteria ahead of (score desc, doc_id asc), in the
    # resolved rule order (typo: single-path only)
    rank_cols: "list[tuple[str, str, bool]]" = []
    if freq_groups is not None:
        # the frequency words criterion outranks every other rule
        rank_cols.append(("freq_level", "freq_level", True))
    rank_cols += [
        _BATCH_CRITERIA[tok[1]]
        for tok in ranking.tokens
        if tok[0] == "builtin" and ranking.active.get(tok[1])
        and tok[1] in _BATCH_CRITERIA
    ]
    scored_schema = SCORED_SCHEMA + "".join(
        f", {c} int" for c, _, _ in rank_cols
    )

    def _finish(res: DataFrame) -> DataFrame:
        # negative-only queries union in via the placeholder path;
        # ranks are absolute in both paths so the offset skip applies
        # uniformly at the end
        if neg_only:
            res = _neg_only_hits(
                index, res, neg_only, k_all, filter_docs, ranking
            )
        return res.filter(F.col("rank") > offset) if offset else res

    if not plan:
        if _count_only:
            return _gather_counts(
                index, None, key_of, filter_docs, neg_only, spark
            )
        out_schema = (
            "query_id string, doc_id long, score double"
            + "".join(f", {o} int" for _, o, _ in rank_cols)
            + "".join(
                f", {f} {dict(index.docs.dtypes)[f]}" for f in need_fields
            )
            + ", rank int"
        )
        return _finish(local_frame(spark, [], out_schema))
    qkeys = sorted(key for key, _ in plan)
    # doc-field rules (custom / active sort): every candidate reaches
    # the global ranking stage — a doc attribute can reorder across
    # any shard-local cut, so local truncation is off (see docstring)
    k_local = (1 << 31) - 1 if need_fields else k_all
    score_shard = _make_shard_body(
        plan,
        qkeys,
        index.cfg.shard_range,
        index.avgdl,
        index.cfg.k1,
        index.cfg.b,
        k_local,
        track_matched=words_rank,
        attr_rank=attribute_rank,
        exact_sets=exact_sets,
        require_groups=require_groups,
        freq_groups=freq_groups,
        search_on_mask=search_on_mask,
        forbid_terms=forbid_live,
        prox_pairs=prox_sets,
        prox_attr=prox_attr,
        crit_order=[c for c, _, _ in rank_cols],
        forbid_phrases=phrase_live,
        count_only=_count_only,
    )
    pos_side = (proximity_rank and not prox_attr) or bool(phrase_live)
    if filter_docs is not None or pos_side:
        shard_of = lambda c: F.floor(c / F.lit(index.cfg.shard_range)).cast("long")  # noqa: E731
        blocks, _ = _batch_blocks(
            index, fetch_terms, need_attr_blocks, keep_shard=True
        )
        if "_shard" not in blocks.columns:
            blocks = blocks.withColumn("_shard", shard_of(F.col("first_doc")))
        # else: the serving layout carries a materialized _shard column
        # and is hash-partitioned on it, so the cogroup only shuffles
        # the (cheap) right side — allowed doc-ids and/or term-pruned
        # positional rows — while the resident blocks are sorted in
        # place, no block re-shuffle per batch (plan-tested)
        right = None
        if filter_docs is not None:
            right = filter_docs.select(
                F.col("doc_id").cast("long").alias("doc_id")
            ).withColumn("_shard", shard_of(F.col("doc_id")))
        if pos_side:
            # positional rows riding the cogrouped side: the byWord
            # 'proximity' pair terms and/or the negative-phrase terms,
            # pruned at the scan and cogrouped by the SAME doc-shard
            # key as the blocks (tagged _ispos so one right side
            # carries both kinds)
            pos_term_set: set = set()
            if proximity_rank and not prox_attr:
                pos_term_set |= {
                    t for pp in prox_sets.values() for ab in pp for t in ab
                }
            if phrase_live:
                pos_term_set |= {
                    t
                    for sl in phrase_live.values()
                    for steps in sl
                    for t, _ in steps
                }
            pair_terms = sorted(pos_term_set)
            pos_rows = (
                index.positions.filter(terms_in("term", pair_terms))
                if pair_terms
                else index.positions.filter(F.lit(False))
            )
            pos_rows = pos_rows.select(
                F.col("doc_id").cast("long").alias("doc_id"),
                "term",
                "positions",
                F.lit(True).alias("_ispos"),
            ).withColumn("_shard", shard_of(F.col("doc_id")))
            if right is not None:
                right = pos_rows.unionByName(
                    right.select(
                        "doc_id",
                        F.lit(None).cast("string").alias("term"),
                        F.lit(None).cast("array<int>").alias("positions"),
                        F.lit(False).alias("_ispos"),
                        "_shard",
                    )
                )
            else:
                right = pos_rows
        per_key = (
            blocks.groupBy("_shard")
            .cogroup(right.groupBy("_shard"))
            .applyInPandas(
                _make_filtered_shard_scorer(
                    score_shard,
                    index.cfg.shard_range,
                    ["qkey", "doc_id", "score", *(c for c, _, _ in rank_cols)],
                    has_filter=filter_docs is not None,
                ),
                schema=scored_schema,
            )
        )
    else:
        sharded, needs_shuffle = _batch_blocks(
            index, fetch_terms, need_attr_blocks
        )
        if needs_shuffle:
            # partition count: no more than the corpus' shard count
            # (extra partitions would be empty tasks), no more than the
            # session's shuffle width. Per-partition memory is the
            # batch's compressed query-term postings / n_parts — size
            # shuffle.partitions so that fits the executor at the
            # target scale.
            n_shards = max(1, -(-index.n_docs // index.cfg.shard_range))
            n_parts = min(
                int(spark.conf.get("spark.sql.shuffle.partitions", "32")),
                n_shards,
            )
            sharded = sharded.repartition(
                n_parts,
                F.floor(F.col("first_doc") / F.lit(index.cfg.shard_range)),
            )
        per_key = sharded.mapInPandas(
            _make_shard_scorer(score_shard, index.cfg.shard_range),
            schema=scored_schema,
        )
    if _count_only:
        return _gather_counts(
            index, per_key, key_of, filter_docs, neg_only, spark
        )
    return _finish(
        _gather_hits(
            index, per_key, key_of, qkeys, k_all, gather, rank_cols, ranking
        )
    )


def _gather_counts(
    index: InvertedIndex,
    per_key: "DataFrame | None",
    key_of: "dict[str, str]",
    filter_docs: "DataFrame | None",
    neg_only: "dict[str, tuple[list[str], list[str]]]",
    spark,
) -> DataFrame:
    """Batch exhaustive totals -> one (query_id, total_hits) row per
    input query, capped at maxTotalHits (Meilisearch's bounded-counter
    contract). Indexed-term queries sum their per-(query, shard)
    candidate-count rows — counts ride the SAME block exchange the hit
    rows would, one row per shard, so the reduction input is
    n_shards rows per query, never doc-granular. Placeholder /
    negative-only queries count the column-pruned docs scan minus
    their exclusion set; the pure-placeholder group (identical counts
    by construction) shares ONE count subplan via a literal-qid cross
    join. Queries dropped as unsatisfiable under
    matching_strategy='all' left-join to 0."""
    cap = index.cfg.max_total_hits
    out: "DataFrame | None" = None
    if key_of:
        mapping = local_frame(
            spark, list(key_of.items()), "query_id string, qkey string"
        )
        if per_key is None:
            out = mapping.select(
                "query_id", F.lit(0).cast("long").alias("total_hits")
            )
        else:
            totals = per_key.groupBy("qkey").agg(
                F.sum("doc_id").alias("_n")
            )
            out = mapping.join(totals, "qkey", "left").select(
                "query_id",
                F.least(
                    F.coalesce(F.col("_n"), F.lit(0)).cast("long"),
                    F.lit(cap).cast("long"),
                ).alias("total_hits"),
            )
    if neg_only:
        from meilibridge_spark.operators.positions import (
            negative_exclusion_docs,
        )

        docs = index.docs.select("doc_id")
        extra: "DataFrame | None" = None
        plain = sorted(
            q for q, (nw, nps) in neg_only.items() if not nw and not nps
        )
        if plain:
            qdf = local_frame(spark, [(q,) for q in plain], "query_id string")
            cnt = _count_candidates(docs, filter_docs, None, cap).select(
                "total_hits"
            )
            extra = qdf.crossJoin(cnt)
        for qid in sorted(neg_only):
            nw, nps = neg_only[qid]
            if not nw and not nps:
                continue
            excl = negative_exclusion_docs(index, nw, nps)
            one = _count_candidates(docs, filter_docs, excl, cap).select(
                F.lit(qid).alias("query_id"), "total_hits"
            )
            extra = one if extra is None else extra.unionByName(one)
        if extra is not None:
            out = extra if out is None else out.unionByName(extra)
    if out is None:
        out = local_frame(spark, [], "query_id string, total_hits long")
    return out


def search_many_count(
    index: InvertedIndex,
    queries: "list[tuple[str, str]]",
    *,
    filter_docs: "DataFrame | None" = None,
    typo: bool = False,
    typo_cfg=None,
    matching_strategy: str = "last",
    attributes_to_search_on: "tuple[str, ...] | None" = None,
    prefix: bool = False,
    prefix_max_expansions: int = 10,
) -> DataFrame:
    """Exhaustive hit counts for a BATCH of queries in one Spark job ->
    (query_id, total_hits), total_hits capped at maxTotalHits — the
    batch form of :func:`search_count` (Meilisearch ``hitsPerPage=0``
    count-only requests, fanned M-wide). The plan is the search_many
    scatter-gather with ranking criteria forced off: every
    candidate-shaping parameter (filter, matchingStrategy, typo/prefix
    expansion, attributesToSearchOn, negative keywords/phrases,
    placeholder routing for empty / negative-only queries) composes
    exactly as in the hit path, and each shard emits ONE count row per
    query instead of its local top-k. Parity with per-query
    search_count is tested."""
    return search_many(
        index,
        queries,
        filter_docs=filter_docs,
        typo=typo,
        typo_cfg=typo_cfg,
        matching_strategy=matching_strategy,
        attributes_to_search_on=attributes_to_search_on,
        prefix=prefix,
        prefix_max_expansions=prefix_max_expansions,
        _count_only=True,
    )


def _search_many_paged(
    index: InvertedIndex,
    queries: "list[tuple[str, str]]",
    page: "int | None",
    hits_per_page: "int | None",
    *,
    gather: str,
    filter_docs: "DataFrame | None",
    typo: bool,
    typo_cfg,
    words_rank: "bool | None",
    attribute_rank: bool,
    proximity_rank: bool,
    exactness_rank: bool,
    exact_terms: "dict[str, list[str]] | None",
    matching_strategy: str,
    attributes_to_search_on: "tuple[str, ...] | None",
    prefix: bool,
    prefix_max_expansions: int,
    ranking_rules: "list[str] | tuple[str, ...] | None",
    sort_params: "list[tuple[str, bool]] | None",
    carrier_empty_pages: bool = False,
) -> DataFrame:
    """Batch exhaustive pagination (``search_many(page=,
    hits_per_page=)``): the requested page's hits per query with
    exhaustive total_hits / total_pages / page / hits_per_page
    metadata columns — TWO jobs for the whole batch (top-k sliced to
    the page + the shard-count pass), versus one paged job per query
    through multi_search. Totals are capped at maxTotalHits and pages
    never reach past the cap (the single-path ``limit(cap)``
    contract); ``rank`` stays the absolute pre-slice position.

    ``carrier_empty_pages``: a query with NO hits on the requested
    page contributes one NULL-doc metadata carrier row instead of
    vanishing — the endpoint always answers with totals; callers that
    need a full response per query (the query CLI) opt in, while the
    default keeps single-path parity (zero rows for empty pages)."""
    pg = 1 if page is None else page
    hpp = 20 if hits_per_page is None else hits_per_page
    if pg < 1:
        raise ValueError(f"page must be >= 1, got {page}")
    if hpp < 0:
        raise ValueError(f"hitsPerPage must be >= 0, got {hits_per_page}")
    cap = index.cfg.max_total_hits
    totals = search_many_count(
        index,
        queries,
        filter_docs=filter_docs,
        typo=typo,
        typo_cfg=typo_cfg,
        matching_strategy=matching_strategy,
        attributes_to_search_on=attributes_to_search_on,
        prefix=prefix,
        prefix_max_expansions=prefix_max_expansions,
    )
    totals = (
        totals.withColumn("page", F.lit(pg).cast("int"))
        .withColumn("hits_per_page", F.lit(hpp).cast("int"))
        .withColumn(
            "total_pages",
            F.ceil(F.col("total_hits") / F.lit(hpp)).cast("int")
            if hpp
            else F.lit(0).cast("int"),
        )
    )
    if hpp == 0:
        # count-only batch: one metadata carrier row per query (NULL
        # doc columns — the multi-search results-mode convention)
        return totals.select(
            "query_id",
            F.lit(None).cast("long").alias("doc_id"),
            F.lit(None).cast("double").alias("score"),
            F.lit(None).cast("int").alias("rank"),
            "total_hits",
            "page",
            "hits_per_page",
            "total_pages",
        )
    lo = (pg - 1) * hpp
    k_eff = min(lo + hpp, cap) - lo
    hits = search_many(
        index,
        queries,
        k=max(k_eff, 1),
        gather=gather,
        filter_docs=filter_docs,
        typo=typo,
        typo_cfg=typo_cfg,
        words_rank=words_rank,
        attribute_rank=attribute_rank,
        proximity_rank=proximity_rank,
        exactness_rank=exactness_rank,
        exact_terms=exact_terms,
        matching_strategy=matching_strategy,
        attributes_to_search_on=attributes_to_search_on,
        offset=lo,
        prefix=prefix,
        prefix_max_expansions=prefix_max_expansions,
        ranking_rules=ranking_rules,
        sort_params=sort_params,
    )
    if k_eff <= 0:
        # the whole page sits past the maxTotalHits counter: empty,
        # schema kept (Catalyst folds filter(false) to an empty
        # relation — no job runs for the hit side)
        hits = hits.filter(F.lit(False))
    if carrier_empty_pages:
        # totals-preserved outer join: queries with no hits on this
        # page keep one NULL-doc carrier row (both sides bounded —
        # M rows and <= M*hpp rows — AQE picks the broadcast)
        return totals.join(hits, "query_id", "left").select(
            *hits.columns,
            "total_hits",
            "page",
            "hits_per_page",
            "total_pages",
        )
    return hits.join(F.broadcast(totals), "query_id").select(
        *hits.columns, "total_hits", "page", "hits_per_page", "total_pages"
    )


def _batch_blocks(
    index: InvertedIndex,
    terms: "list[str]",
    attribute_rank: bool,
    keep_shard: bool = False,
) -> "tuple[DataFrame, bool]":
    """Block source for the batch scatter-gather: (DataFrame of the
    query terms' compressed blocks, needs_shuffle). ``attribute_rank``
    here means "attr-mask blocks must ride along" — true for the Q11
    attribute criterion AND for attributesToSearchOn restriction.

    Serving layout (prepare_serving) is used when it can satisfy the
    request without a shuffle: always for score-only batches; for
    attribute_rank batches only when the layout was prepared WITH the
    attr blocks resident (bkind column) — otherwise falls back to the
    shuffled union (attr blocks must be co-located with score blocks by
    doc-shard, and a union of two differently-partitioned DataFrames
    concatenates partitions instead of aligning them).

    ``keep_shard``: also keep the serving layout's materialized _shard
    column (the column it is hash-partitioned on), letting a cogroup
    consumer group on it WITHOUT re-shuffling the resident blocks."""
    sel = ["term", "first_doc", "docs_bin", "tfs_bin", "dls_bin"]
    tf = terms_in("term", terms)
    s = index.serving
    if s is not None:
        shard_extra = (
            ["_shard"] if keep_shard and "_shard" in s.columns else []
        )
        has_kind = "bkind" in s.columns
        if attribute_rank and has_kind:
            return s.filter(tf).select(*sel, "bkind", *shard_extra), False
        if not attribute_rank:
            if has_kind:
                return (
                    s.filter(tf & (F.col("bkind") == 0)).select(
                        *sel, *shard_extra
                    ),
                    False,
                )
            return s.filter(tf).select(*sel, *shard_extra), False
        # serving layout lacks resident attr blocks: shuffled path
    base = index.postings.filter(tf).select(*sel)
    if attribute_rank:
        ab = index.attrs.filter(tf).select(*sel)
        return (
            base.withColumn("bkind", F.lit(0).cast("int")).unionByName(
                ab.withColumn("bkind", F.lit(1).cast("int"))
            ),
            True,
        )
    return base, True


#: Driver-gather ceiling for the scatter-GATHER merge: when the scorer's
#: worst-case output (n_shards * k * n_distinct_queries rows) fits under
#: this, collect and merge in the driver — one Spark job, no extra
#: window shuffle or mapping join. Deliberately low: driver merge time
#: is serial and does not scale with the cluster, so it must stay
#: negligible next to one stage's scheduling latency. Larger batches
#: (and the 10^12-turn shard-count regime) use the distributed window
#: merge. Tunable; recorded in BASELINE.md.
DRIVER_GATHER_MAX_ROWS = 20_000

#: above this shard count 'auto' upgrades the window merge to the
#: two-level tree merge (one reducer per qkey would otherwise rank
#: n_shards*k rows serially)
TREE_MERGE_SHARDS = 4096

#: parallel pre-merge reducers per query in the tree merge
TREE_FANOUT = 32


def _gather_hits(
    index: InvertedIndex,
    per_key: DataFrame,
    key_of: "dict[str, str]",
    qkeys: "list[str]",
    k: int,
    gather: str,
    rank_cols: "list[tuple[str, str, bool]]",
    ranking: RankingPlan,
) -> DataFrame:
    """Merge per-shard local top-k rows (qkey, doc_id, score [, Q11
    criteria columns]) into the global per-query top-k and fan deduped
    qkeys back out to query_ids.

    ``rank_cols``: ordered criteria ahead of (score desc, doc_id asc)
    as (scorer_col, output_col, ascending) — e.g.
    [("matched", "matched_terms", False), ("best_attr", "best_attr",
    True)] — the same composed key the shard-local top-k used, which
    the window merge takes from ``ranking`` (plus ``freq_level`` ahead
    of it when present).

    ``ranking.doc_fields`` (custom ``field:asc|desc`` rules, an active
    ``sort``): the shard scorers emitted ALL candidate rows (truncation
    off — a doc field can reorder across any local cut), the fields
    join in from docs here (one doc_id equi-join) and the window merge
    applies the composed order. Candidate-sized, like
    Meilisearch's own sort criterion walking the full candidate bitmap;
    only candidate rows (not the corpus) reach the window.

    ``gather``: 'driver' | 'window' | 'tree' | 'auto' (auto switches
    driver vs window on DRIVER_GATHER_MAX_ROWS; above TREE_MERGE_SHARDS
    shards auto upgrades window -> tree).

    'tree' is the extreme-shard-count path: a single window partition
    per qkey would pull n_shards*k rows through ONE reducer task
    (~6e7 shards at 10^12 turns). The tree pre-merge first takes top-k
    within (qkey, salt) groups — TREE_FANOUT parallel reducers per
    query — so the final per-qkey window ranks only TREE_FANOUT*k rows.
    Exact: each salt group's global-top-k members survive their local
    top-k by construction.
    """
    from pyspark.sql.window import Window

    spark = per_key.sparkSession
    for in_c, out_c, _ in rank_cols:
        if in_c != out_c:
            per_key = per_key.withColumnRenamed(in_c, out_c)
    out_names = [o for _, o, _ in rank_cols]
    doc_fields = ranking.doc_fields
    n_shards = max(1, -(-index.n_docs // index.cfg.shard_range))
    if doc_fields:
        per_key = per_key.join(
            index.docs.select(
                F.col("doc_id").cast("long").alias("doc_id"), *doc_fields
            ),
            "doc_id",
            "left",
        )
        gather = "window"
    elif gather == "auto" and n_shards > TREE_MERGE_SHARDS:
        gather = "tree"
    if gather == "driver" or (
        gather == "auto" and n_shards * k * len(qkeys) <= DRIVER_GATHER_MAX_ROWS
    ):
        rows = per_key.collect()
        by_key: "dict[str, list]" = {key: [] for key in qkeys}
        for r in rows:
            by_key[r["qkey"]].append(
                (r["doc_id"], r["score"], *(r[c] for c in out_names))
            )

        def sort_key(t):
            # criteria first (negate descending), then score desc, doc asc
            key = [
                (t[2 + i] if asc else -t[2 + i])
                for i, (_, _, asc) in enumerate(rank_cols)
            ]
            key.extend((-t[1], t[0]))
            return tuple(key)

        out = []
        for qid, key in key_of.items():
            hits = sorted(by_key.get(key, ()), key=sort_key)[:k]
            out.extend(
                (qid, int(d), float(sc), *(int(x) for x in rest), rank)
                for rank, (d, sc, *rest) in enumerate(hits, start=1)
            )
        out_schema = (
            "query_id string, doc_id long, score double"
            + "".join(f", {o} int" for o in out_names)
            + ", rank int"
        )
        # a local relation: reading the merged hits runs no second job
        return local_frame(spark, out, out_schema)

    order = (
        [F.col("freq_level").asc()] if "freq_level" in out_names else []
    ) + ranking.order() + [F.col("score").desc(), F.col("doc_id").asc()]

    if gather == "tree":
        w_local = Window.partitionBy("qkey", "_salt").orderBy(*order)
        per_key = (
            per_key.withColumn("_salt", F.col("doc_id") % F.lit(TREE_FANOUT))
            .withColumn("_rn", F.row_number().over(w_local))
            .filter(F.col("_rn") <= k)
            .drop("_rn", "_salt")
        )

    w_global = Window.partitionBy("qkey").orderBy(*order)
    ranked = (
        per_key.withColumn("rank", F.row_number().over(w_global))
        .filter(F.col("rank") <= k)
    )
    mapping = local_frame(
        spark, list(key_of.items()), "query_id string, qkey string"
    )
    return ranked.join(F.broadcast(mapping), "qkey").select(
        "query_id", "doc_id", "score", *out_names, *doc_fields, "rank"
    )


#: prepare_serving prefetches the term -> df map to the driver only
#: below this vocabulary size (~40 MB of dict at the limit); larger
#: vocabularies keep the per-batch terms-scan lookup (memoized per
#: term) or serve through DriverSearcher's bloom-backed alternative.
PREFETCH_MAX_TERMS = 2_000_000


def prepare_serving(
    index: InvertedIndex,
    n_parts: "int | None" = None,
    prefetch_terms: bool = True,
    include_attributes: "bool | None" = None,
) -> InvertedIndex:
    """Switch the index into serving mode: materialize the postings
    re-partitioned by doc-shard and cache them, so every subsequent
    ``search_many`` batch is shuffle-free (the scatter-gather stage reads
    resident partitions). On a real cluster this is the natural stored
    layout of a query-serving tier — postings co-partitioned by doc
    range across executors; the stored term-sorted parquet remains the
    scan-pruning layout for single-term lookups.

    ``include_attributes`` (default: auto = whenever the index has attr
    blocks): co-reside the attribute-rank blocks in the SAME doc-shard
    partitions, marked by a ``bkind`` column (0=score, 1=attr), so
    attribute_rank batches are shuffle-free too. Score-only batches on
    such a layout just add a narrow bkind=0 filter.

    ``prefetch_terms``: also collect the (bounded, see
    PREFETCH_MAX_TERMS) term -> df dictionary so query planning costs
    zero Spark jobs — the same trade DriverSearcher makes."""
    spark = index.postings.sparkSession
    n = n_parts or int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    if include_attributes is None:
        include_attributes = index.attrs is not None
    src = index.postings
    if include_attributes:
        if index.attrs is None:
            raise ValueError("include_attributes requires index.attrs")
        src = index.postings.withColumn(
            "bkind", F.lit(0).cast("int")
        ).unionByName(index.attrs.withColumn("bkind", F.lit(1).cast("int")))
    # _shard is MATERIALIZED (not just a partitioning expression) so the
    # filtered-batch cogroup can group on the resident column and Spark
    # elides the Exchange on the blocks side — only allowed ids shuffle
    index.serving = (
        src.withColumn(
            "_shard",
            F.floor(F.col("first_doc") / F.lit(index.cfg.shard_range)).cast(
                "long"
            ),
        )
        .repartition(n, "_shard")
        .persist()
    )
    index.serving.count()
    if prefetch_terms and getattr(index, "_df_map", None) is None:
        n_terms = index.terms.count()
        if n_terms <= PREFETCH_MAX_TERMS:
            index._df_map = {
                r["term"]: int(r["df"])
                for r in index.terms.select("term", "df").collect()
            }
    return index


def _fetch_raw(index: InvertedIndex, terms: "list[str]") -> "dict[str, dict]":
    """Fetch + decode the terms' blocks to the driver (one Spark job),
    keeping the stored per-block (max_tf, min_dl) metadata raw so
    bounds can be rebuilt under any (idf, avgdl). All blocks decode in
    one decode_blocks call (terms in first-seen order, each term's
    blocks by block_id); each term then owns copies of its slices, so
    the searcher's cache bounds memory per term."""
    if not terms:
        return {}
    rows = index.postings.filter(terms_in("term", terms)).collect()
    code_of: "dict[str, int]" = {}
    for r in rows:
        code_of.setdefault(r["term"], len(code_of))
    rows.sort(key=lambda r: (code_of[r["term"]], r["block_id"]))
    d, t, dl, n = decode_blocks(
        [r["first_doc"] for r in rows],
        [r["docs_bin"] for r in rows],
        [r["tfs_bin"] for r in rows],
        [r["dls_bin"] for r in rows],
    )
    meta = np.array(
        [(r["last_doc"], r["max_tf"], r["min_dl"]) for r in rows],
        dtype=np.int64,
    ).reshape(-1, 3)
    block_bounds = np.searchsorted(
        np.array([code_of[r["term"]] for r in rows], dtype=np.int64),
        np.arange(len(code_of) + 1),
    )
    entry_off = np.zeros(len(rows) + 1, dtype=np.int64)
    np.cumsum(n, out=entry_off[1:])
    out: dict[str, dict] = {}
    for i, term in enumerate(code_of):
        lo, hi = block_bounds[i], block_bounds[i + 1]
        e0, e1 = entry_off[lo], entry_off[hi]
        out[term] = {
            "doc_ids": d[e0:e1].copy(),
            "tfs": t[e0:e1].copy(),
            "dls": dl[e0:e1].copy(),
            "block_starts": entry_off[lo:hi] - e0,
            "block_last_doc": meta[lo:hi, 0].copy(),
            "max_tf": meta[lo:hi, 1].copy(),
            "min_dl": meta[lo:hi, 2].copy(),
        }
    return out


def _to_term_postings(
    term: str, raw: dict, idf: float, index: InvertedIndex
) -> TermPostings:
    ub = idf * impact_upper_bound(
        raw["max_tf"], raw["min_dl"], index.avgdl, index.cfg.k1, index.cfg.b
    )
    return TermPostings(
        term=term,
        idf=idf,
        doc_ids=raw["doc_ids"],
        tfs=raw["tfs"],
        dls=raw["dls"],
        block_starts=raw["block_starts"],
        block_last_doc=raw["block_last_doc"],
        block_ub=np.asarray(ub),
    )


def collect_term_postings(
    index: InvertedIndex, q_terms: "list[str]"
) -> "list[TermPostings]":
    idf_map = _idf_map(index, q_terms)
    raws = _fetch_raw(index, list(idf_map))
    return [
        _to_term_postings(t, raw, idf_map[t], index) for t, raw in raws.items()
    ]


def search_wand(
    index: InvertedIndex, query: str, k: "int | None" = None
) -> "list[tuple[int, float]]":
    """Driver-side exact top-k with block-max WAND pruning."""
    k = k or index.cfg.max_total_hits
    q_terms = parse_query(query, index.cfg.analyzer)
    terms = collect_term_postings(index, q_terms)
    return wand_topk(terms, k, index.avgdl, index.cfg.k1, index.cfg.b)


def search_wand_cutoff(
    index: InvertedIndex,
    query: str,
    k: "int | None" = None,
    cutoff_ms: "int | None" = None,
) -> "tuple[list[tuple[int, float]], bool]":
    """``searchCutoffMs`` analog on the one-shot driver path ->
    (hits, degraded) — :func:`search_wand` budgeted like
    :meth:`DriverSearcher.search_cutoff`: ``cutoff_ms`` (explicit,
    else the index's ``search_cutoff_ms`` setting; None = unbudgeted)
    spans term fetch + traversal, and a fired deadline returns the
    exact top-k of the visited doc-id prefix (anytime WAND — never a
    partially-accumulated score). The term-fetch Spark job itself is
    not interruptible; an over-budget fetch degrades to the empty
    prefix, the endpoint's worst-case degraded response."""
    import time

    cut = cutoff_ms if cutoff_ms is not None else index.cfg.search_cutoff_ms
    if cut is None:
        return search_wand(index, query, k), False
    deadline = time.monotonic() + cut / 1000.0
    k = k or index.cfg.max_total_hits
    q_terms = parse_query(query, index.cfg.analyzer)
    terms = collect_term_postings(index, q_terms)
    return wand_topk_budgeted(
        terms, k, index.avgdl, index.cfg.k1, index.cfg.b, deadline=deadline
    )


def _edit_distance(a: str, b: str) -> int:
    """Plain Levenshtein (same metric as Spark's ``levenshtein``) for
    driver-side assignment of the already-JVM-filtered candidate terms
    to their query terms — candidate sets are tiny by construction."""
    if a == b:
        return 0
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def _typo_candidate_terms(index: InvertedIndex, typo=None) -> DataFrame:
    """Term source for typo candidates. With ``disable_on_attributes``
    (config/type.go:75) the vocabulary found ONLY in disabled
    attributes must not produce typo matches, so the candidate
    dictionary is re-derived from the enabled searchable attributes of
    the docs table (computed once per index, cached). Exact query terms
    always match wherever they occur — only the fuzzy expansion is
    restricted."""
    typo = typo or index.cfg.typo
    disabled = set(typo.disable_on_attributes)
    attrs = [a for a in index.cfg.searchable_attributes if a not in disabled]
    if not disabled or len(attrs) == len(index.cfg.searchable_attributes):
        return index.terms
    spark = index.postings.sparkSession
    if not attrs:
        return local_frame(spark, [], "term string")
    cache: dict = getattr(index, "_typo_term_src", None) or {}
    index._typo_term_src = cache
    key = tuple(attrs)
    if key not in cache:
        from meilibridge_spark.operators.docs import make_term_freq_udf

        # bounded cache: a long-lived session cycling through different
        # disable_on_attributes configs must not accumulate persisted
        # DataFrames — keep only the most recent key, unpersisting the
        # evicted entries (re-deriving a config is one tokenize pass)
        for old_key in list(cache):
            cache.pop(old_key).unpersist()
        tf_udf = make_term_freq_udf(index.cfg.analyzer)
        text = F.concat_ws(
            " ", *[F.coalesce(F.col(a), F.lit("")) for a in attrs]
        )
        cache[key] = (
            index.docs.select(tf_udf(text).alias("_t"))
            .select(F.explode("_t.terms").alias("term"))
            .distinct()
            .persist()
        )
    return cache[key]


#: deletion-neighborhood depth of the typo index — covers edit distance
#: <= 2 (the reference's two_typos ceiling, config/type.go:70-80)
TYPO_INDEX_DEPTH = 2


def _deletion_keys(term: str, depth: int) -> "set[str]":
    """All strings reachable from ``term`` by deleting <= depth chars
    (term itself included). Size O(len^depth / depth!) — ~1 + L + L²/2
    at depth 2."""
    out = {term}
    frontier = {term}
    for _ in range(depth):
        nxt = set()
        for s in frontier:
            for i in range(len(s)):
                nxt.add(s[:i] + s[i + 1:])
        nxt -= out
        out |= nxt
        frontier = nxt
    return out


#: schema of the deletion-neighborhood typo table (SymSpell/FastSS)
TYPO_TABLE_SCHEMA = "delkey string, term string"


def build_typo_table(terms_df: DataFrame) -> DataFrame:
    """(delkey, term) for every <=TYPO_INDEX_DEPTH-char deletion of
    every term in ``terms_df`` (the SymSpell/FastSS deletion
    neighborhood, SURVEY §2B Q12's indexed design). Two terms within
    edit distance d <= depth always share a key, so query-time
    candidate lookup is a key-pruned filter instead of a
    full-dictionary levenshtein scan — the path that stays viable at a
    10^8-10^9-term vocabulary (the table is ~(1+L+L²/2)x terms rows).
    Embarrassingly parallel: one mapInPandas over the vocabulary, no
    shuffle."""
    depth = TYPO_INDEX_DEPTH

    def expand(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            if pdf.empty:
                continue
            keys, terms = [], []
            for t in pdf["term"]:
                ks = _deletion_keys(t, depth)
                keys.extend(ks)
                terms.extend([t] * len(ks))
            yield pd.DataFrame({"delkey": keys, "term": terms})

    return terms_df.select("term").mapInPandas(
        expand, schema=TYPO_TABLE_SCHEMA
    )


def _typo_attrs_key(index: InvertedIndex, typo) -> "tuple[str, ...]":
    return tuple(
        a
        for a in index.cfg.searchable_attributes
        if a not in set(typo.disable_on_attributes)
    )


def _stored_typo_table(index: InvertedIndex, typo) -> "DataFrame | None":
    """The snapshot's stored neighborhood table, iff it answers this
    typo config: the stored table covers the FULL vocabulary, so any
    ``disable_on_attributes`` restriction must fall back to the
    session-built restricted table."""
    if index.typos is None:
        return None
    full = tuple(index.cfg.searchable_attributes)
    return index.typos if _typo_attrs_key(index, typo) == full else None


def prepare_typo_index(index: InvertedIndex, typo_cfg=None) -> DataFrame:
    """The DELETION-NEIGHBORHOOD typo candidate table for this config.

    When the snapshot stores one (built with ``with_typos=True``,
    partitioned by delkey hash and maintained through apply_cdc), it is
    returned directly — ZERO build jobs, the lookup prunes stored
    parquet row groups. Otherwise the table is built once per
    disable_on_attributes candidate source and session-cached
    (``.persist()``, keeping only the latest config like
    _typo_candidate_terms) — fine for exploration, but a full-vocab
    rebuild per session; store it for serving."""
    typo = typo_cfg or index.cfg.typo
    stored = _stored_typo_table(index, typo)
    if stored is not None:
        return stored
    attrs_key = _typo_attrs_key(index, typo)
    cache: dict = getattr(index, "_typo_nbr", None) or {}
    index._typo_nbr = cache
    if attrs_key not in cache:
        for old_key in list(cache):
            cache.pop(old_key).unpersist()
        src = _typo_candidate_terms(index, typo).select("term")
        cache[attrs_key] = build_typo_table(src).persist()
        cache[attrs_key].count()
    return cache[attrs_key]


def typo_expansion_map(
    index: InvertedIndex,
    q_terms: "list[str]",
    typo_cfg=None,
) -> "dict[str, list[str]]":
    """Q12: map each eligible query term to its dictionary terms within
    edit distance 1 (len >= one_typo, default 5) or 2 (len >= two_typos,
    default 9) — reference knobs config/type.go:70-80. Terms listed in
    ``disable_on_words`` are never expanded; with ``disable_on_numbers``
    (Meilisearch v1.12) digit-carrying words neither expand nor serve
    as alternates.

    Candidate generation: when ``prepare_typo_index`` has been called,
    ONE key-pruned lookup against the deletion-neighborhood table
    covers the whole batch (superset by the SymSpell property, then
    exact driver-side levenshtein verify — identical output, tested).
    Without it, the fallback is one JVM levenshtein scan over the
    candidate dictionary per batch — correct and batch-amortized, but a
    full-dictionary scan, which is why the indexed path exists."""
    typo = typo_cfg or index.cfg.typo
    if not typo.enabled:
        return {}
    disabled = {w.lower() for w in typo.disable_on_words}

    def _numeric(t: str) -> bool:
        return typo.disable_on_numbers and any(c.isdigit() for c in t)

    fuzzy = {
        t: (2 if len(t) >= typo.two_typos else 1)
        for t in dict.fromkeys(q_terms)
        if len(t) >= typo.one_typo and t not in disabled and not _numeric(t)
    }
    if not fuzzy:
        return {}
    # candidate lookup source, in preference order: the snapshot's
    # STORED neighborhood table (zero build jobs), the session-built
    # cached one (prepare_typo_index), else the levenshtein scan
    nbr = _stored_typo_table(index, typo)
    if nbr is None:
        nbr_cache = getattr(index, "_typo_nbr", None)
        attrs_key = _typo_attrs_key(index, typo)
        nbr = nbr_cache.get(attrs_key) if nbr_cache else None
    if nbr is not None:
        qkeys = set()
        for t, d in fuzzy.items():
            qkeys |= _deletion_keys(t, d)
        cands = [
            r["term"]
            for r in nbr.filter(terms_in("delkey", sorted(qkeys)))
            .select("term")
            .distinct()
            .orderBy("term")
            .collect()
        ]
    else:
        conds = None
        for t, d in fuzzy.items():
            c = F.levenshtein(F.col("term"), F.lit(t)) <= d
            conds = c if conds is None else (conds | c)
        cands = [
            r["term"]
            for r in _typo_candidate_terms(index, typo)
            .filter(conds)
            .select("term")
            .orderBy("term")
            .collect()
        ]
    if typo.disable_on_numbers:
        # digit-carrying dictionary words never serve as alternates
        # ('2024' must not match '2025')
        cands = [c for c in cands if not any(ch.isdigit() for ch in c)]
    out: "dict[str, list[str]]" = {}
    for t, d in fuzzy.items():
        exp = [c for c in cands if c != t and _edit_distance(t, c) <= d]
        if exp:
            out[t] = exp
    return out


def typo_expand_terms(
    index: InvertedIndex,
    q_terms: "list[str]",
    typo_cfg=None,
) -> "list[str]":
    """Expanded term list: the original terms followed by their typo
    candidates (first-seen order, de-duplicated)."""
    exp = typo_expansion_map(index, q_terms, typo_cfg)
    out = list(dict.fromkeys(q_terms))
    for t in list(out):
        for c in exp.get(t, ()):
            if c not in out:
                out.append(c)
    return out


def search_typo(
    index: InvertedIndex,
    query: str,
    k: "int | None" = None,
    typo_cfg=None,
    typo_rank: bool = False,
) -> DataFrame:
    """BM25 top-k with typo-tolerant term expansion (each expanded term
    scores with its own idf). ``typo_rank=True`` applies the 'typo'
    ranking criterion: exact-term matches rank above expansion-only
    matches (see ``search``)."""
    q_terms = parse_query(query, index.cfg.analyzer)
    expanded = typo_expand_terms(index, q_terms, typo_cfg)
    return search(
        index,
        " ".join(expanded),
        k,
        orig_terms=q_terms if typo_rank else None,
        typo_rank=typo_rank,
    )


def prefix_expand_terms(
    index: InvertedIndex,
    q_terms: "list[str]",
    max_expansions: int = 10,
) -> "list[str]":
    """Meilisearch-style LAST-WORD PREFIX search: the final query word
    also matches dictionary terms it prefixes (Meilisearch applies
    prefix matching to the last word of the query by default — public
    search semantics; the reference exposes no knob for it). Bounded to
    ``max_expansions`` candidates in lexicographic order for
    determinism. The ``startsWith`` predicate is pushed to the terms
    parquet scan (StringStartsWith row-group pruning); each expanded
    term scores with its own idf."""
    if not q_terms:
        return []
    last = q_terms[-1]
    out = list(dict.fromkeys(q_terms))
    # over-fetch by the number of query terms that could collide with
    # the prefix scan (any term in `out` sharing the prefix), so the
    # caller always gets max_expansions NEW candidates when they exist
    overlap = sum(1 for t in out if t.startswith(last))
    rows = (
        index.terms.filter(F.col("term").startswith(last))
        .select("term")
        .orderBy("term")
        .limit(max_expansions + overlap)
        .collect()
    )
    added = 0
    for r in rows:
        if added >= max_expansions:
            break
        if r["term"] not in out:
            out.append(r["term"])
            added += 1
    return out


def search_prefix(
    index: InvertedIndex,
    query: str,
    k: "int | None" = None,
    max_expansions: int = 10,
) -> DataFrame:
    """BM25 top-k with last-word prefix expansion. With the v1.12
    index setting ``prefix_search='disabled'`` the expansion is a
    no-op (exact words only), matching Meilisearch — not an error."""
    q_terms = parse_query(query, index.cfg.analyzer)
    if index.cfg.prefix_search == "disabled":
        return search(index, " ".join(q_terms), k)
    expanded = prefix_expand_terms(index, q_terms, max_expansions)
    return search(index, " ".join(expanded), k)


def prefix_expansion_map(
    index: InvertedIndex,
    prefix_overlaps: "dict[str, int]",
    max_expansions: int = 10,
) -> "dict[str, list[str]]":
    """Batched last-word prefix lookup for ``search_many(prefix=True)``:
    prefix -> candidate dictionary terms, lexicographic. ONE Spark job
    covers every unique prefix in the batch — a union of per-prefix
    TakeOrdered legs, each leg's ``startsWith`` pushed to the
    term-sorted parquet scan (StringStartsWith row-group pruning), so
    the cost is n_prefixes pruned scans exactly like the single path,
    never a full-vocabulary pass. ``prefix_overlaps[p]`` over-fetches
    by the worst-case count of already-present query terms sharing
    ``p`` (same contract as prefix_expand_terms), so callers always
    get ``max_expansions`` NEW candidates when they exist."""
    from functools import reduce

    legs = [
        index.terms.filter(F.col("term").startswith(p))
        .select(F.lit(p).alias("prefix"), "term")
        .orderBy("term")
        .limit(max_expansions + overlap)
        for p, overlap in sorted(prefix_overlaps.items())
    ]
    if not legs:
        return {}
    rows = reduce(lambda a, b: a.unionByName(b), legs).collect()
    out: "dict[str, list[str]]" = {}
    for r in rows:
        out.setdefault(r["prefix"], []).append(r["term"])
    return {p: sorted(ts) for p, ts in out.items()}


class DriverSearcher:
    """Low-latency serving path: the term dictionary (term -> df) is
    collected once (BOUNDED — see below) and the decoded postings of
    recently-used terms are LRU-cached on the driver, so a warm query
    costs zero Spark jobs.

    Scale guard: the full-dictionary prefetch only happens below
    PREFETCH_MAX_TERMS (the same bound ``prepare_serving`` applies).
    Above it — a 10^8-10^9-term vocabulary would OOM the driver — the
    searcher falls back to a memoized per-term df lookup against the
    terms table (one bounded ``isin`` scan per batch of unseen terms;
    hot Zipf terms make the memo hit rate high by construction). Both
    modes are rank-identical (tested). Cache capacity bounds postings
    memory either way.

    The searcher ranks by BM25 score alone, so an index whose settings
    order hits by anything else (``words_ranking``, or a
    ``ranking_rules`` list with a criterion active without per-query
    data) is rejected at construction rather than answered in a
    different order than ``search`` / ``search_many``.
    """

    def __init__(
        self,
        index: InvertedIndex,
        cache_capacity: int = 4096,
        max_prefetch_terms: int = PREFETCH_MAX_TERMS,
    ) -> None:
        from collections import OrderedDict

        if not resolve_ranking(index.cfg, index).score_only:
            raise ValueError(
                "DriverSearcher ranks by BM25 score only, but index "
                f"{index.cfg.index_name!r} orders hits by its ranking "
                "settings (words_ranking / ranking_rules); use search or "
                "search_many"
            )
        self.index = index
        self._df_memo: "dict[str, int | None]" = {}
        if (
            getattr(index, "_df_map", None) is not None
            or index.terms.count() <= max_prefetch_terms
        ):
            self._df_map = getattr(index, "_df_map", None) or {
                r["term"]: int(r["df"])
                for r in index.terms.select("term", "df").collect()
            }
        else:
            self._df_map = None  # vocabulary too large: lookup path
        self._cache: "OrderedDict[str, dict]" = OrderedDict()
        self._capacity = cache_capacity

    def _dfs(self, terms: "list[str]") -> "dict[str, int]":
        """df for each known term — dict hit when prefetched, else a
        memoized ``isin``-pushed terms-table lookup (misses memoized
        too, so absent terms never re-scan)."""
        if self._df_map is not None:
            return {t: self._df_map[t] for t in terms if t in self._df_map}
        missing = [t for t in terms if t not in self._df_memo]
        if missing:
            rows = (
                self.index.terms.filter(terms_in("term", missing))
                .select("term", "df")
                .collect()
            )
            found = {r["term"]: int(r["df"]) for r in rows}
            for t in missing:
                self._df_memo[t] = found.get(t)
        return {t: v for t in terms if (v := self._df_memo.get(t)) is not None}

    def _get_raw(self, terms: "list[str]") -> "dict[str, dict]":
        missing = [t for t in terms if t not in self._cache]
        if missing:
            fetched = _fetch_raw(self.index, missing)
            for t in missing:
                if t in fetched:
                    self._cache[t] = fetched[t]
                    if len(self._cache) > self._capacity:
                        self._cache.popitem(last=False)
        out = {}
        for t in terms:
            if t in self._cache:
                self._cache.move_to_end(t)
                out[t] = self._cache[t]
        return out

    #: above this dense-array extent the dense scorer's 8B/slot array
    #: stops being driver-friendly and WAND's pruning wins
    DENSE_MAX_DOCS = 50_000_000

    #: allowed-id sets above this don't belong on the driver (8 B/id —
    #: 40 MB at the cap); larger filters go through the distributed
    #: path (search(filter_docs=...)), which this bound points to
    FILTER_MAX_DOCS = 5_000_000

    def prepare_filter(self, filter_docs: DataFrame) -> "np.ndarray":
        """Materialize a bounded allowed-id set for repeated filtered
        serving — e.g. a tenant token's forced filter resolved once
        (sources/keys.token_search_filter -> filter_doc_ids) and reused
        across that tenant's queries. Returns a sorted int64 array for
        ``search(filter_docs=...)``; raises when the set exceeds
        FILTER_MAX_DOCS (route those through the distributed path)."""
        rows = (
            filter_docs.select("doc_id")
            .limit(self.FILTER_MAX_DOCS + 1)
            .collect()
        )
        if len(rows) > self.FILTER_MAX_DOCS:
            raise ValueError(
                f"filter set exceeds FILTER_MAX_DOCS="
                f"{self.FILTER_MAX_DOCS}; use the distributed path "
                "(operators.search.search(filter_docs=...))"
            )
        return np.unique(
            np.fromiter(
                (r[0] for r in rows), dtype=np.int64, count=len(rows)
            )
        )

    def _restrict(
        self, tp: "TermPostings", allowed: "np.ndarray"
    ) -> "TermPostings":
        """Drop postings outside the allowed-id set (sorted-merge
        membership) and rebuild block metadata — the upper bounds stay
        exact for the surviving run. BM25 stats stay corpus-global
        (idf/avgdl unchanged), matching the distributed filter
        semantics (pre-score semi-join; Meilisearch filters never
        change term statistics)."""
        if not tp.doc_ids.size:
            return tp
        pos = np.searchsorted(allowed, tp.doc_ids)
        pos_c = np.minimum(pos, allowed.size - 1) if allowed.size else pos
        keep = (
            (pos < allowed.size) & (allowed[pos_c] == tp.doc_ids)
            if allowed.size
            else np.zeros(tp.doc_ids.size, dtype=bool)
        )
        if keep.all():
            return tp
        cfg = self.index.cfg
        return TermPostings.from_arrays(
            tp.term,
            tp.idf,
            tp.doc_ids[keep],
            tp.tfs[keep],
            tp.dls[keep],
            cfg.block_size,
            self.index.avgdl,
            cfg.k1,
            cfg.b,
        )

    def search(
        self,
        query: str,
        k: "int | None" = None,
        strategy: str = "auto",
        filter_docs: "DataFrame | np.ndarray | None" = None,
    ) -> "list[tuple[int, float]]":
        """strategy: 'auto' (dense scatter-add when the query's doc-id
        extent fits a driver-side score array, else WAND), 'dense', or
        'wand'. All three are exact and rank-identical (tested).

        The auto decision uses the actual array extent, max(doc_id)+1 —
        not n_docs — so sparse external doc-id spaces (doc_id_col
        indexes) route to WAND instead of allocating a huge array;
        negative ids always route to WAND (dense would reject them).

        ``filter_docs``: an allowed-id restriction (Q7 filters / tenant
        tokens' forced searchRules filter) — a sorted int64 array from
        :meth:`prepare_filter` (preferred for repeated serving: resolve
        the tenant filter ONCE, reuse per query at zero jobs) or a
        DataFrame with a doc_id column (resolved on the spot, bounded
        by FILTER_MAX_DOCS). Postings are restricted BEFORE scoring
        with corpus-global BM25 stats — rank-identical to
        ``search(filter_docs=...)`` on the distributed path (tested).
        """
        k = k or self.index.cfg.max_total_hits
        tps = self._term_postings(query, filter_docs)
        cfg = self.index.cfg
        n = self.index.n_docs
        live = [t for t in tps if t.doc_ids.size]
        extent = max(
            (int(t.doc_ids[-1]) + 1 for t in live), default=0
        )
        ids_ok = all(int(t.doc_ids[0]) >= 0 for t in live)
        if strategy == "dense" or (
            strategy == "auto" and ids_ok and extent <= self.DENSE_MAX_DOCS
        ):
            return dense_topk(tps, k, n, self.index.avgdl, cfg.k1, cfg.b)
        return wand_topk(tps, k, self.index.avgdl, cfg.k1, cfg.b)

    def warm(self, queries: "list[str]") -> int:
        """Prefetch every query's term postings in ONE Spark scan — the
        serving-replica startup path. Cold serving pays one pruned
        postings scan per query's first touch (N queries = N jobs);
        ``warm(queries)`` resolves the batch's distinct terms' dfs and
        raw blocks together (one ``isin``-pruned scan each), after
        which every listed query serves at zero Spark jobs. LRU
        capacity still bounds memory — warming more distinct terms
        than ``cache_capacity`` keeps only the most recent. Returns
        the number of terms newly fetched into the cache."""
        terms = sorted(
            {
                t
                for q in queries
                for t in parse_query(q, self.index.cfg.analyzer)
            }
        )
        known = self._dfs(terms)
        missing = [t for t in known if t not in self._cache]
        self._get_raw(sorted(known))
        return sum(1 for t in missing if t in self._cache)

    def _term_postings(
        self,
        query: str,
        filter_docs: "DataFrame | np.ndarray | None" = None,
    ) -> "list[TermPostings]":
        """Shared prep for the serving scorers: parse -> df lookup ->
        cached raw-block decode -> optional allowed-id restriction."""
        dfs = self._dfs(parse_query(query, self.index.cfg.analyzer))
        raws = self._get_raw(list(dfs))
        n = self.index.n_docs
        tps = [
            _to_term_postings(t, raw, float(idf_fn(n, dfs[t])), self.index)
            for t, raw in raws.items()
        ]
        if filter_docs is not None:
            allowed = (
                filter_docs
                if isinstance(filter_docs, np.ndarray)
                else self.prepare_filter(filter_docs)
            )
            tps = [self._restrict(tp, allowed) for tp in tps]
        return tps

    def search_page(
        self,
        query: str,
        page: "int | None" = None,
        hits_per_page: "int | None" = None,
        filter_docs: "DataFrame | np.ndarray | None" = None,
    ) -> "tuple[list[tuple[int, float]], int, int]":
        """Exhaustive pagination (Meilisearch ``page``/``hitsPerPage``)
        on the zero-job serving path -> (page hits, total_hits,
        total_pages) — the response-level metadata the DataFrame path
        (:func:`_paginate_exhaustive`) carries as columns.

        total_hits = distinct docs matching any query term (after the
        optional allowed-id restriction), capped at maxTotalHits like
        the endpoint's counter — identical to the distributed path's
        count of the bounded candidate set. Postings decode is
        memoized (_get_raw), so the count and the scoring pass share
        the same cached blocks; ``hitsPerPage=0`` returns ([], total,
        0), the count-only query the DataFrame path cannot express
        (recorded deviation there)."""
        page = 1 if page is None else page
        hits_per_page = 20 if hits_per_page is None else hits_per_page
        if page < 1:
            raise ValueError(f"page must be >= 1, got {page}")
        if hits_per_page < 0:
            raise ValueError(
                f"hitsPerPage must be >= 0, got {hits_per_page}"
            )
        cap = self.index.cfg.max_total_hits
        tps = self._term_postings(query, filter_docs)
        live = [t.doc_ids for t in tps if t.doc_ids.size]
        total = (
            int(min(cap, np.unique(np.concatenate(live)).size))
            if live
            else 0
        )
        if hits_per_page == 0:
            return [], total, 0
        total_pages = -(-total // hits_per_page)
        lo = (page - 1) * hits_per_page
        if lo >= total:
            return [], total, total_pages
        ranked = self.search(
            query, min(cap, lo + hits_per_page), filter_docs=filter_docs
        )
        return ranked[lo : lo + hits_per_page], total, total_pages

    def search_cutoff(
        self,
        query: str,
        k: "int | None" = None,
        cutoff_ms: "int | None" = None,
        filter_docs: "DataFrame | np.ndarray | None" = None,
    ) -> "tuple[list[tuple[int, float]], bool]":
        """Meilisearch ``searchCutoffMs`` (v1.10) analog for the
        serving path -> (hits, degraded).

        ``cutoff_ms`` (explicit arg, else the index's
        ``search_cutoff_ms`` setting) budgets the query's wall clock
        from THIS call's entry — term fetch included, like the
        endpoint, whose timer spans the whole search. The scorer is
        always the anytime block-max WAND traversal
        (functions/wand.wand_topk_budgeted): doc-at-a-time in
        increasing doc_id order, every emitted doc fully scored, so a
        fired deadline returns the EXACT top-k of the visited doc-id
        prefix — Meilisearch's best-hits-so-far degraded response,
        never a partially-accumulated score. (The dense scatter-add
        path has no such interrupt point mid-scatter, hence no 'auto'
        routing here; an un-budgeted call should use :meth:`search`,
        which this method delegates to when no cutoff applies.)
        ``degraded`` is the analog of the endpoint's degraded-search
        marker in ``rankingScoreDetails``. Batch Spark jobs ignore the
        setting (COVERAGE.md Q15): a distributed stage has no
        per-query interrupt point."""
        import time

        cut = (
            cutoff_ms
            if cutoff_ms is not None
            else self.index.cfg.search_cutoff_ms
        )
        if cut is None:
            return self.search(query, k, "auto", filter_docs), False
        deadline = time.monotonic() + cut / 1000.0
        k = k or self.index.cfg.max_total_hits
        tps = self._term_postings(query, filter_docs)
        cfg = self.index.cfg
        return wand_topk_budgeted(
            tps, k, self.index.avgdl, cfg.k1, cfg.b, deadline=deadline
        )
