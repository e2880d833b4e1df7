"""Positional postings + phrase search (extension beyond SURVEY §2B Q14).

The reference documents ``proximity_precision`` but never maps it
(config.example.yml:104-107 vs config/type.go:55-68 — a no-op there);
the Meilisearch semantics (the ``proximity`` ranking rule and the
v1.6 ``proximityPrecision`` setting) are implemented natively here
instead: ``proximity_costs`` + ``search(proximity_rank=True)``.
Phrase MATCHING is also useful on transcripts, and position data is
cheap to carry, so this module adds it as a self-contained optional
table:

  positions(term, doc_id, positions array<int>)

- positions index the RAW token stream (stop words occupy a slot but
  emit no posting), so adjacency means "nothing but separators between
  the tokens" regardless of stop-word config.
- The table is built with one mapInPandas pass (per-doc grouping is
  partition-local — no shuffle); at 10^12 turns it is written alongside
  the postings snapshot and pruned by term at query time exactly like
  the main postings table.

Phrase search = iterative position-adjacency intersection (JVM-side
``array_intersect`` on shifted position arrays; one hash join per
phrase gap, each side pre-filtered to a single term's rows), then BM25
ranking restricted to the matching docs (Meilisearch-style: the phrase
acts as a filter, scores stay corpus-global).
"""

from __future__ import annotations

from itertools import chain
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from meilibridge_spark.config import AnalyzerConfig, IndexConfig
from meilibridge_spark.functions.tokenizer import (
    _analyzer_res,
    parse_query,
    tokenize,
)
from meilibridge_spark.operators.search import search
from meilibridge_spark.session import local_frame, trim_importer_cache
from meilibridge_spark.sources.tables import InvertedIndex

POSITIONS_SCHEMA = "term string, doc_id long, positions array<int>"


def _make_position_rows(cfg: AnalyzerConfig):
    stop = frozenset(cfg.stop_words)
    lowercase = cfg.lowercase

    def rows(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        trim_importer_cache()
        # same analyzer resolution as the main tokenizer (separator /
        # non-separator tokens included) so positional postings stay
        # consistent with the inverted index
        sep_re, rx, base_re = _analyzer_res(cfg)

        def toks(t):
            if t is None:
                return []
            if lowercase:
                t = t.lower()
            if sep_re is not None:
                t = sep_re.sub(" ", t)
            return rx.findall(t)

        for pdf in batches:
            if pdf.empty:
                continue
            # tokenize per row (the regex is inherently per-string),
            # then do ALL grouping work vectorized over the flattened
            # (doc, raw position, term) batch — same factorize/lexsort
            # pattern as the main postings build (postings.py), no
            # per-token Python loop.
            tok_lists = [toks(t) for t in pdf["text"]]
            lens = np.fromiter(
                (len(x) for x in tok_lists), dtype=np.int64, count=len(tok_lists)
            )
            total = int(lens.sum())
            if total == 0:
                continue
            doc_rep = np.repeat(pdf["doc_id"].to_numpy(np.int64), lens)
            starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            # raw slot index within each doc (stop words keep theirs)
            pos = np.arange(total, dtype=np.int64) - np.repeat(starts, lens)
            flat = np.asarray(
                list(chain.from_iterable(tok_lists)), dtype=object
            )
            codes, uniques = pd.factorize(flat)
            if stop or base_re is not None:
                # drop stop-word / pure-non-separator POSTINGS via the
                # (small) unique table — their slots stay occupied
                # because pos is already fixed
                stop_uniq = np.fromiter(
                    (
                        u in stop
                        or (base_re is not None and not base_re.search(u))
                        for u in uniques
                    ),
                    dtype=bool,
                    count=len(uniques),
                )
                keep = ~stop_uniq[codes]
                codes, doc_rep, pos = codes[keep], doc_rep[keep], pos[keep]
                if not codes.size:
                    continue
            order = np.lexsort((pos, codes, doc_rep))
            d_s, c_s = doc_rep[order], codes[order]
            p_s = pos[order].astype(np.int32)
            bounds = np.flatnonzero(
                np.r_[True, (d_s[1:] != d_s[:-1]) | (c_s[1:] != c_s[:-1])]
            )
            yield pd.DataFrame(
                {
                    "term": uniques[c_s[bounds]],
                    "doc_id": d_s[bounds],
                    "positions": np.split(p_s, bounds[1:]),
                }
            )

    return rows


def build_positions(
    docs: DataFrame, cfg: IndexConfig, text_col: "str | None" = None
) -> DataFrame:
    """docs(doc_id, <text cols>) -> positional postings
    (term, doc_id, positions). Tokenizes the same searchable text as
    the main index (concatenated searchable attributes, importance
    order) unless ``text_col`` overrides it. Grouping is per document,
    so the whole build is one narrow mapInPandas pass over the docs
    partitions."""
    from meilibridge_spark.operators.docs import searchable_text

    text = F.col(text_col) if text_col else searchable_text(docs, cfg)
    src = docs.select("doc_id", text.alias("text"))
    return src.mapInPandas(_make_position_rows(cfg.analyzer), schema=POSITIONS_SCHEMA)


def phrase_candidates(
    positions: DataFrame, terms: "list[str] | list[tuple[str, int]]"
) -> DataFrame:
    """doc_ids containing ``terms`` at the given raw-slot offsets.

    ``terms`` is either a plain term list (consecutive slots: gap 1
    between neighbours) or [(term, raw_offset)] pairs as produced by
    ``phrase_steps`` — raw offsets let a phrase containing stop words
    match documents whose positions keep the stop-word slot (the stop
    word emits no posting but occupies a position).

    Iterative adjacency: carry the match-end positions forward; step i
    intersects (previous ends + gap_i) with term i's positions. Each
    join side is a single term's (doc_id, positions) rows — term
    filters reach the scan, the join key is doc_id."""
    if not terms:
        raise ValueError("phrase needs at least one term")
    steps: "list[tuple[str, int]]" = [
        t if isinstance(t, tuple) else (t, i) for i, t in enumerate(terms)
    ]
    cur = (
        positions.filter(F.col("term") == steps[0][0])
        .select("doc_id", F.col("positions").alias("_match"))
    )
    prev_off = steps[0][1]
    for i, (t, off) in enumerate(steps[1:], start=1):
        gap = off - prev_off
        prev_off = off
        nxt = positions.filter(F.col("term") == t).select(
            "doc_id", F.col("positions").alias(f"_p{i}")
        )
        cur = (
            cur.join(nxt, "doc_id")
            .select(
                "doc_id",
                F.array_intersect(
                    F.transform(F.col("_match"), lambda x: x + gap),
                    F.col(f"_p{i}"),
                ).alias("_match"),
            )
            .filter(F.size("_match") > 0)
        )
    return cur.select("doc_id")


def phrase_steps(
    phrase: str, cfg: AnalyzerConfig
) -> "list[tuple[str, int]]":
    """Tokenize a phrase keeping RAW slot offsets: stop words are
    dropped from the required sequence (they emit no posting) but their
    slot still widens the gap between the surviving terms, matching how
    the positions table indexes documents. 'over the lazy' with 'the'
    as a stop word becomes [('over', 0), ('lazy', 2)] — requiring
    over@p and lazy@p+2."""
    if cfg.lowercase:
        phrase = phrase.lower()
    sep_re, rx, base_re = _analyzer_res(cfg)
    if sep_re is not None:
        phrase = sep_re.sub(" ", phrase)
    toks = rx.findall(phrase)
    stop = set(cfg.stop_words)
    return [
        (t, i)
        for i, t in enumerate(toks)
        if t not in stop and (base_re is None or base_re.search(t))
    ]


def match_positions(
    index: InvertedIndex,
    query: str,
    doc_ids: "DataFrame | None" = None,
    positions: "DataFrame | None" = None,
) -> DataFrame:
    """Meilisearch ``_matchesPosition`` analog: raw slot positions of
    every query-term occurrence -> exploded (doc_id, term, pos) rows,
    optionally restricted to ``doc_ids`` (e.g. the top-k hit set).
    One term-pruned scan of the positions table + optional semi-join —
    no scoring work."""
    if positions is None:
        positions = index.positions
    if positions is None:
        raise ValueError(
            "no positions table: pass one or build the snapshot "
            "with with_positions=True"
        )
    terms = parse_query(query, index.cfg.analyzer)
    spark = index.postings.sparkSession
    if not terms:
        return local_frame(spark, [], "doc_id long, term string, pos int")
    from meilibridge_spark.operators.search import terms_in

    rows = positions.filter(terms_in("term", list(terms)))
    if doc_ids is not None:
        rows = rows.join(doc_ids.select("doc_id"), "doc_id", "left_semi")
    return rows.select(
        "doc_id", "term", F.explode("positions").alias("pos")
    )


#: Per-pair proximity cost cap — Meilisearch's "beyond proximity"
#: bucket: any two query words further apart than this (or not
#: co-occurring at all) cost the same maximum.
PROX_MAX = 8


def proximity_pairs(
    query: str, cfg: IndexConfig
) -> "list[tuple[str, str]]":
    """Adjacent query-word pairs for the Q11 'proximity' ranking rule.

    Meilisearch drops stop words from the query and ranks on the
    proximity of the SURVIVING words in their typed order; repeated
    adjacent duplicates contribute nothing (their distance to
    themselves is constant) and are dropped."""
    toks = tokenize(query, cfg.analyzer)
    return [(a, b) for a, b in zip(toks, toks[1:]) if a != b]


def _pair_cost_sql(map_col: str, a: str, b: str, pos_cap: "int | None") -> str:
    """SQL expression: min word-pair proximity cost between the
    position arrays ``map[a]`` and ``map[b]`` (null-safe -> PROX_MAX).

    Cost of one (p in A, q in B) pair: ``q - p`` when the words appear
    in query order (q after p), ``p - q + 1`` when reversed (the
    Meilisearch swapped-word +1 penalty), clamped to PROX_MAX. The
    nested ``aggregate`` runs JVM-side in whole-stage codegen —
    O(|A|·|B|) compute per doc but zero extra rows (no explode).
    ``pos_cap`` optionally slices both arrays (a documented scale knob
    mirroring Meilisearch's per-word position bucketing; None = exact,
    which is what the DuckDB oracle computes)."""
    qa, qb = a.replace("'", "''"), b.replace("'", "''")
    arr_a, arr_b = f"element_at({map_col}, '{qa}')", f"element_at({map_col}, '{qb}')"
    if pos_cap is not None:
        arr_a = f"slice({arr_a}, 1, {int(pos_cap)})"
        arr_b = f"slice({arr_b}, 1, {int(pos_cap)})"
    inner = (
        f"aggregate({arr_b}, {PROX_MAX}, (accq, qq) -> least(accq, "
        f"CASE WHEN qq > pp THEN least(qq - pp, {PROX_MAX}) "
        f"ELSE least(pp - qq + 1, {PROX_MAX}) END))"
    )
    return (
        f"CASE WHEN element_at({map_col}, '{qa}') IS NULL "
        f"OR element_at({map_col}, '{qb}') IS NULL THEN {PROX_MAX} "
        f"ELSE aggregate({arr_a}, {PROX_MAX}, (accp, pp) -> "
        f"least(accp, {inner})) END"
    )


def _attr_pair_cost_sql(map_col: str, a: str, b: str) -> str:
    """byAttribute pair cost: 1 when the two words co-occur in at least
    one common searchable attribute (bitmask intersection), PROX_MAX
    otherwise — Meilisearch v1.6 proximityPrecision='byAttribute'."""
    qa, qb = a.replace("'", "''"), b.replace("'", "''")
    return (
        f"CASE WHEN element_at({map_col}, '{qa}') IS NULL "
        f"OR element_at({map_col}, '{qb}') IS NULL THEN {PROX_MAX} "
        f"WHEN (element_at({map_col}, '{qa}') & element_at({map_col}, '{qb}')) != 0 "
        f"THEN 1 ELSE {PROX_MAX} END"
    )


def proximity_costs(
    index: InvertedIndex,
    query: str,
    positions: "DataFrame | None" = None,
    precision: "str | None" = None,
    pos_cap: "int | None" = None,
) -> "DataFrame | None":
    """Per-document proximity cost for the Q11 'proximity' ranking rule
    -> (doc_id, prox_cost int) rows, or None when the query has fewer
    than two distinct adjacent words (the criterion is then a no-op).

    prox_cost = sum over adjacent query-word pairs of the minimum
    word-pair cost (``_pair_cost_sql``); documents that contain NO pair
    term produce no row — the caller treats absence as the worst cost
    ``PROX_MAX * n_pairs``. Lower cost ranks higher.

    Plan shape (100 TB): one term-pruned scan of the positions (or
    attrs) table — the same magnitude as the postings the query already
    fetches — one groupBy(doc_id) building a term->positions map, then
    pure codegen arithmetic. The result joins onto the scored
    candidates by doc_id (posting-sized both sides).

    ``precision`` defaults to the index's ``proximity_precision``
    setting: 'byWord' (raw-slot distances, needs the positions table)
    or 'byAttribute' (attribute co-occurrence from the attrs bitmask
    blocks — no positions table needed)."""
    cfg = index.cfg
    precision = precision or cfg.proximity_precision
    if precision not in ("byWord", "byAttribute"):
        raise ValueError(
            f"precision must be 'byWord' or 'byAttribute', got {precision!r}"
        )
    pairs = proximity_pairs(query, cfg)
    if not pairs:
        return None
    uniq = list(dict.fromkeys(t for p in pairs for t in p))
    from meilibridge_spark.operators.search import decode_postings, terms_in

    if precision == "byAttribute":
        if index.attrs is None:
            raise ValueError(
                "proximity_precision='byAttribute' needs an index built "
                "with with_attributes=True (operators/attrs.py)"
            )
        rows = decode_postings(
            index.attrs.filter(terms_in("term", uniq))
        ).select("term", "doc_id", F.col("tf").alias("_v"))
        cost = [_attr_pair_cost_sql("_m", a, b) for a, b in pairs]
    else:
        pos = positions if positions is not None else index.positions
        if pos is None:
            raise ValueError(
                "no positions table: pass one or build the snapshot "
                "with with_positions=True"
            )
        rows = pos.filter(terms_in("term", uniq)).select(
            "term", "doc_id", F.col("positions").alias("_v")
        )
        cost = [_pair_cost_sql("_m", a, b, pos_cap) for a, b in pairs]
    g = rows.groupBy("doc_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("term", "_v"))
        ).alias("_m")
    )
    total = " + ".join(f"({c})" for c in cost)
    return g.select(
        "doc_id", F.expr(total).cast("int").alias("prox_cost")
    )


def phrase_search(
    index: InvertedIndex,
    positions: "DataFrame | None" = None,
    phrase: str = "",
    k: "int | None" = None,
) -> DataFrame:
    """BM25 top-k over docs containing ``phrase`` as a contiguous raw
    token sequence. Stop words inside the phrase are handled
    index-consistently: they drop out of the required term sequence but
    keep their slot as a position gap (``phrase_steps``), so 'over the
    lazy' matches a doc indexed as over@p / lazy@p+2.

    ``positions`` defaults to the index's stored positions table
    (snapshots built with ``with_positions=True``)."""
    if positions is None:
        positions = index.positions
    if positions is None:
        raise ValueError(
            "no positions table: pass one or build the snapshot "
            "with with_positions=True"
        )
    steps = phrase_steps(phrase, index.cfg.analyzer)
    spark = index.postings.sparkSession
    if not steps:
        return local_frame(
            spark, [], "doc_id long, score double, matched_terms int"
        )
    docs = phrase_candidates(positions, steps)
    seen: "list[str]" = []
    for t, _ in steps:
        if t not in seen:
            seen.append(t)
    return search(index, " ".join(seen), k, filter_docs=docs)


def parse_quoted(q: str) -> "tuple[str, list[str]]":
    """Split a Meilisearch-style query into (free_text, quoted_phrases):
    double-quoted segments become exact-phrase constraints, the rest is
    ordinary term text. An unbalanced trailing quote opens a phrase to
    the end of the string (Meilisearch behavior)."""
    import re

    phrases = [p for p in re.findall(r'"([^"]*)"', q) if p.strip()]
    rest = re.sub(r'"[^"]*"', " ", q)
    m = re.search(r'"([^"]*)$', rest)
    if m:
        if m.group(1).strip():
            phrases.append(m.group(1))
        rest = rest[: m.start()]
    return rest, phrases


def parse_negative(q: str) -> "tuple[str, list[str], list[str]]":
    """Split Meilisearch v1.8 negative-keyword syntax out of a query:
    ``spark -slow -"hash join"`` -> (positive remainder, negative
    words, negative phrases). A ``-`` counts as negation only at the
    start of the string or after whitespace (``state-of-art`` is one
    ordinary token); ``-"..."`` with an unbalanced trailing quote
    negates to the end of the string (same recovery as
    :func:`parse_quoted`).

    Quote-aware: the scanner walks the string left to right so a dash
    INSIDE a positive quoted segment (``join "spark -shuffle"``) stays
    part of the phrase — a regex pass with no quote state grabbed it as
    a negative keyword, inverting the query's semantics (docs
    containing 'shuffle' were excluded instead of required)."""
    neg_words: "list[str]" = []
    neg_phrases: "list[str]" = []
    out: "list[str]" = []
    i, n = 0, len(q)
    while i < n:
        ch = q[i]
        at_boundary = i == 0 or q[i - 1].isspace()
        if ch == '"':
            # positive quoted segment: copy verbatim (unbalanced quote
            # runs to end-of-string, parse_quoted applies the same
            # recovery later); dashes inside never negate
            j = q.find('"', i + 1)
            end = n if j == -1 else j + 1
            out.append(q[i:end])
            i = end
        elif ch == "-" and at_boundary and i + 1 < n and q[i + 1] == '"':
            j = q.find('"', i + 2)
            end = n if j == -1 else j
            p = q[i + 2 : end]
            if p.strip():
                neg_phrases.append(p)
            out.append(" ")
            i = end if j == -1 else j + 1
        elif (
            ch == "-"
            and at_boundary
            and i + 1 < n
            and not q[i + 1].isspace()
        ):
            j = i + 1
            while j < n and not q[j].isspace() and q[j] != '"':
                j += 1
            neg_words.append(q[i + 1 : j])
            out.append(" ")
            i = j
        else:
            out.append(ch)
            i += 1
    return "".join(out), neg_words, neg_phrases


def negative_exclusion_docs(
    index: InvertedIndex,
    neg_words: "list[str]",
    neg_phrases: "list[str]",
    positions: "DataFrame | None" = None,
) -> "DataFrame | None":
    """Exclusion doc set for negative keywords/phrases: docs containing
    ANY negative word (postings of the tokenized word — no
    synonym/typo expansion, Meilisearch excludes the literal keyword)
    or ANY negative phrase (positional adjacency, like positive
    phrases). Returns None when nothing excludes; cost is one pruned
    posting scan over the negative terms plus one positional self-join
    per negative phrase — proportional to the negated terms only."""
    from meilibridge_spark.functions.tokenizer import tokenize
    from meilibridge_spark.operators.search import candidate_rows

    neg_terms = list(
        dict.fromkeys(
            t for w in neg_words for t in tokenize(w, index.cfg.analyzer)
        )
    )
    out: "DataFrame | None" = None
    if neg_terms:
        out = candidate_rows(index, neg_terms).select("doc_id").distinct()
    steps_list = [
        s
        for s in (phrase_steps(p, index.cfg.analyzer) for p in neg_phrases)
        if s
    ]
    if steps_list:
        if positions is None:
            positions = index.positions
        if positions is None:
            raise ValueError(
                "negative phrases need a positions table: pass one or "
                "build the snapshot with with_positions=True"
            )
        for steps in steps_list:
            cand = phrase_candidates(positions, steps)
            out = cand if out is None else out.unionByName(cand).distinct()
    return out


def search_with_phrases(
    index: InvertedIndex,
    q: str,
    k: "int | None" = None,
    positions: "DataFrame | None" = None,
    filter_docs: "DataFrame | None" = None,
    **search_kw,
):
    """Meilisearch quoted-phrase query syntax: ``spark "hash join"``
    ranks docs by BM25 over ALL the query's terms but only docs
    containing every double-quoted segment as a contiguous raw token
    sequence qualify (stop words keep their slot as a position gap,
    exactly like :func:`phrase_search`).

    Each phrase constraint is one positional self-join producing a
    candidate doc_id set; multiple phrases intersect via left-semi
    joins, compose with an explicit ``filter_docs``, and ride the
    normal pre-score semi-join — scoring work stays proportional to
    the constrained candidate set. A phrase consisting only of stop
    words constrains nothing (no anchor terms). Without quotes this is
    exactly ``search()``.

    Negative keywords/phrases (Meilisearch v1.8): ``-word`` and
    ``-"a phrase"`` segments are parsed out first
    (:func:`parse_negative`) and become an exclusion doc set
    (:func:`negative_exclusion_docs`) anti-joined inside ``search``;
    an explicit ``exclude_docs`` kwarg composes by union. A
    negative-ONLY query (no indexable positive tokens) searches ALL
    documents and applies the exclusion — routed through
    :func:`meilibridge_spark.operators.search.placeholder_search`
    (docs-table scan, doc_id order, score 0.0).
    """
    q, neg_words, neg_phrases = parse_negative(q)
    if neg_words or neg_phrases:
        neg = negative_exclusion_docs(
            index, neg_words, neg_phrases, positions
        )
        if neg is not None:
            prior = search_kw.pop("exclude_docs", None)
            search_kw["exclude_docs"] = (
                neg
                if prior is None
                else prior.select("doc_id").unionByName(neg).distinct()
            )
    free, phrases = parse_quoted(q)
    all_steps = [phrase_steps(p, index.cfg.analyzer) for p in phrases]
    all_steps = [s for s in all_steps if s]
    docs = filter_docs
    if all_steps:
        if positions is None:
            positions = index.positions
        if positions is None:
            raise ValueError(
                "quoted phrases need a positions table: pass one or "
                "build the snapshot with with_positions=True"
            )
        for steps in all_steps:
            cand = phrase_candidates(positions, steps)
            docs = (
                cand
                if docs is None
                else docs.join(cand, "doc_id", "left_semi")
            )
    terms: "list[str]" = []
    for steps in all_steps:
        for t, _ in steps:
            if t not in terms:
                terms.append(t)
    for t in free.split():
        if t not in terms:
            terms.append(t)
    if not parse_query(" ".join(terms), index.cfg.analyzer):
        # no indexable positive tokens — empty ``q``, stop-word-only
        # ``q``, or a negative-only query (Meilisearch v1.8): the
        # endpoint's PLACEHOLDER semantics search ALL documents (minus
        # any exclusion set) — docs-table scan, no postings, doc-field
        # rules only; pagination composes exactly as with term queries
        from meilibridge_spark.operators.search import placeholder_search

        return placeholder_search(
            index,
            k,
            filter_docs=docs,
            exclude_docs=search_kw.get("exclude_docs"),
            offset=search_kw.get("offset", 0),
            ranking_rules=search_kw.get("ranking_rules"),
            sort_params=search_kw.get("sort_params"),
            page=search_kw.get("page"),
            hits_per_page=search_kw.get("hits_per_page"),
            page_rank_col=search_kw.get("page_rank_col"),
        )
    return search(index, " ".join(terms), k, filter_docs=docs, **search_kw)
