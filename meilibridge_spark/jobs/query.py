"""spark-submit job: BM25 top-k query against a saved index.

Usage:
  spark-submit --py-files meilibridge_spark.zip \
      meilibridge_spark/jobs/query.py \
      --index-dir /path/to/index --query "spark join" [-k 10] \
      [--mode df|wand] [--filter-role user] [--offset N] \
      [--page N --hits-per-page M] [--search-on attr1,attr2] \
      (--hits-per-page 0 = Meilisearch's count-only request: empty
       hits + exhaustive totalHits, totalPages=0) \
      [--facets attr1,attr2] \
      [--sort attr:asc,attr2:desc] [--distinct] [--proximity] \
      [--tenant-token JWT --keys-file keys.json --master-key K]

Single-query routing: a single --query is a batch of one. It takes
the same search_many call and response code as --queries-file, with
two exceptions:
- a plain query (no filter/offset/facets/phrases/negatives/sort/
  distinct/proximity/typo/prefix/pagination, default matching
  strategy) on an index whose ranking settings order hits by BM25
  score alone is answered on the driver by DriverSearcher (--mode
  wand, the default there; one Spark job fetches the query's
  postings). Any other ranking order takes search_many (--mode df),
  which honours it; --mode wand then exits with an error naming the
  ranking settings;
- a query with positive quoted phrases takes
  positions.search_with_phrases.
--sort/--distinct/--distinct-attr/--facets post-process the route's
top max_total_hits hits; --offset and --page slice that frame.

Batch mode (one scatter-gather Spark job for the whole file, postings
served from the doc-shard cached layout):
  ... query.py --index-dir /path/to/index --queries-file qs.txt [-k 10]
      [--filter-role user]
  (qs.txt: one query per line; output: one JSON line per query;
  --filter-role rides the batch scatter-gather as a doc-shard bitmap;
  --mode applies only to single-query runs and errors in batch mode)

Hybrid mode (keyword+semantic fusion, Q16 embedders analog):
  ... query.py --index-dir ... --embeddings emb.parquet \
      --query "spark join" --query-vec-id 7 [--semantic-ratio 0.5] \
      [--pool 30] [--semantic exact|ivf]
  (--query-vec "0.1,0.2,..." passes an already-embedded query inline;
  batch: --queries-file lines become "vec_id<TAB>query text";
  filters are keyword-path only and error with --embeddings)
"""

from __future__ import annotations

import argparse
import json
import re


def parse_hybrid_queries_file(lines) -> "list[tuple[str, int, str]]":
    """Parse hybrid batch lines ('vec_id<TAB>query text') into
    (query_id, vec_id, text) tuples, skipping blank lines. Raises
    ValueError naming the 1-based line number on a line without a tab
    or a non-integer vec_id (a silently-empty query text and an
    unhandled int() crash otherwise)."""
    out = []
    for i, raw in enumerate(lines):
        line = raw.strip()
        if not line:
            continue
        if "\t" not in line:
            raise ValueError(
                f"line {i + 1}: expected 'vec_id<TAB>query text', "
                f"got {line!r}"
            )
        vid, _, text = line.partition("\t")
        try:
            vec_id = int(vid)
        except ValueError:
            raise ValueError(
                f"line {i + 1}: vec_id must be an integer, got {vid!r}"
            ) from None
        out.append((f"q{i:05d}", vec_id, text))
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index-dir", required=True)
    ap.add_argument("--query")
    ap.add_argument("--queries-file", help="batch mode: one query per line")
    ap.add_argument("-k", type=int, default=10)
    ap.add_argument("--offset", type=int, default=0,
                    help="pagination: skip the first N ranked hits")
    ap.add_argument("--page", type=int, default=None,
                    help="exhaustive pagination (Meilisearch page/"
                         "hitsPerPage): 1-based page; response adds "
                         "totalHits/totalPages capped at maxTotalHits")
    ap.add_argument("--hits-per-page", type=int, default=None,
                    help="exhaustive pagination page size (default 20 "
                         "when --page is given); an empty past-the-end "
                         "page reports totalHits/totalPages 0")
    ap.add_argument("--sort", default=None,
                    help="Meilisearch sort: 'attr:asc,attr2:desc' over "
                         "the index's sortable_attributes (single query)")
    ap.add_argument("--distinct", action="store_true",
                    help="apply the index's distinct_attribute "
                         "(manifest) to the hits (single query)")
    ap.add_argument("--distinct-attr", default=None,
                    help="query-time distinct attribute (Meilisearch "
                         "v1.9 'distinct' search parameter): overrides "
                         "the index setting for this query; must be a "
                         "filterable attribute, like the endpoint")
    ap.add_argument("--facets", default=None,
                    help="comma-separated facet attributes: emit a "
                         "facetDistribution block computed over the top "
                         "max_total_hits matching docs (single query only)")
    ap.add_argument("--mode", choices=["df", "wand"], default=None,
                    help="single-query path: wand = the driver-side "
                         "scorer (DriverSearcher), df = the batch "
                         "search (search_many, a batch of one). Default: "
                         "wand for a plain query when the index's "
                         "ranking settings order hits by score alone, "
                         "else df; wand on any other order is an error. "
                         "Invalid in batch mode")
    ap.add_argument("--cutoff-ms", type=int, default=None,
                    help="searchCutoffMs override for this query "
                         "(default: the index's search_cutoff_ms "
                         "setting): budgets the plain-wand serving "
                         "path's wall clock; a fired deadline returns "
                         "the exact top-k of the visited doc-id prefix "
                         "with \"degraded\": true in the response")
    ap.add_argument("--filter-role", default=None)
    ap.add_argument("--filter", dest="filter_expr", default=None,
                    help="Meilisearch filter expression over filterable "
                         "attributes, e.g. \"role = 'user' AND tool EXISTS\"")
    ap.add_argument("--typo", action="store_true",
                    help="typo-tolerant term expansion (Q12)")
    ap.add_argument("--proximity", action="store_true",
                    help="Q11 'proximity' ranking criterion (rule #3): "
                         "rank docs whose adjacent query words sit "
                         "closer together first; needs a positions "
                         "table (build with --positions)")
    ap.add_argument("--prefix", action="store_true",
                    help="Meilisearch last-word prefix search: the final "
                         "query word also matches dictionary terms it "
                         "prefixes")
    ap.add_argument("--matching-strategy",
                    choices=["last", "all", "frequency"],
                    default="last",
                    help="'all' = only docs matching every query word; "
                         "'frequency' = words criterion under "
                         "most-frequent-first word removal")
    ap.add_argument("--search-on", default=None,
                    help="attributesToSearchOn: comma-separated searchable "
                         "attribute names restricting where terms may match "
                         "(requires an index built with attr blocks)")
    ap.add_argument("--embeddings", default=None,
                    help="parquet of (vec_id, embedding) -> hybrid fusion")
    ap.add_argument("--query-vec", default=None,
                    help="comma-separated query embedding (hybrid)")
    ap.add_argument("--query-vec-id", type=int, default=None,
                    help="query embedding looked up in --embeddings by vec_id")
    ap.add_argument("--semantic-ratio", type=float, default=0.5)
    ap.add_argument("--pool", type=int, default=30)
    ap.add_argument("--score-mode", choices=["normalized", "ranking_score"],
                    default="normalized",
                    help="hybrid keyword blend: pool-normalized BM25 or "
                         "the absolute _rankingScore analog")
    ap.add_argument("--semantic",
                    choices=["auto", "exact", "ivf", "binary"],
                    default="auto",
                    help="semantic pool source: 'auto' (default) probes "
                         "the index's stored IVF layout when present "
                         "(jobs/build_vectors.py) else brute-force; "
                         "'exact'/'ivf' force a path; 'binary' = the "
                         "binaryQuantized pool (sign-packed Hamming "
                         "bit scan, exact-cosine rerank of the pool)")
    ap.add_argument("--tenant-token", default=None,
                    help="HS256 tenant token (jobs/keys.py token); its "
                         "searchRules filter is FORCED onto the query, "
                         "AND-composed with --filter")
    ap.add_argument("--keys-file", default=None,
                    help="API key store backing --tenant-token")
    ap.add_argument("--master-key", default=None)
    ap.add_argument("--index-uid", default=None,
                    help="index uid for tenant searchRules resolution "
                         "(default: the index's configured name)")
    ap.add_argument("--cores", type=int, default=None)
    args = ap.parse_args()
    if args.query is None and not args.queries_file:
        ap.error("one of --query / --queries-file is required")
    if args.queries_file and args.mode is not None:
        ap.error("--mode applies to --query only; batch mode always uses "
                 "the scatter-gather path")
    if args.queries_file and args.cutoff_ms is not None:
        ap.error("--cutoff-ms applies to --query only: batch Spark jobs "
                 "have no per-query interrupt point (COVERAGE.md Q15)")
    if (
        args.page is not None or args.hits_per_page is not None
    ) and args.embeddings:
        ap.error("--page/--hits-per-page apply to keyword queries "
                 "only, not hybrid --embeddings mode")
    if (
        args.page is not None or args.hits_per_page is not None
    ) and args.offset:
        ap.error("--offset does not compose with --page/--hits-per-page "
                 "(the endpoint ignores offset in exhaustive mode); "
                 "drop one")
    if (args.page is not None and args.page < 1) or (
        args.hits_per_page is not None and args.hits_per_page < 0
    ):
        ap.error("--page must be >= 1 and --hits-per-page >= 0")
    if args.facets and (args.queries_file or args.embeddings):
        ap.error("--facets applies to single keyword queries only")
    if (args.sort or args.distinct or args.distinct_attr) and (
        args.queries_file or args.embeddings
    ):
        ap.error("--sort/--distinct apply to single keyword queries only")

    from pyspark.sql import functions as F

    from meilibridge_spark.config import IndexConfig
    from meilibridge_spark.operators.ranking import resolve_ranking
    from meilibridge_spark.operators.search import (
        DriverSearcher,
        prepare_serving,
        search_many,
    )
    from meilibridge_spark.session import build_session
    from meilibridge_spark.sources.tables import load_snapshot

    if args.filter_expr and args.filter_role:
        ap.error("--filter and --filter-role are mutually exclusive")
    if args.embeddings and (
        args.filter_expr or args.filter_role or args.typo or args.search_on
    ):
        ap.error("--embeddings (hybrid) does not compose with "
                 "filters/--typo/--search-on")
    if args.embeddings and args.query and not (
        args.query_vec or args.query_vec_id is not None
    ):
        ap.error("hybrid --query needs --query-vec or --query-vec-id")

    spark = build_session("query", cores=args.cores)
    # attribute lists (filterable/sortable/...) are NOT hardcoded here:
    # load_snapshot adopts the settings the index was BUILT with from
    # the manifest, so --filter enforcement is index-defined
    cfg = IndexConfig(index_name="transcripts")
    index = load_snapshot(spark, args.index_dir, cfg)
    search_on = (
        tuple(a.strip() for a in args.search_on.split(",") if a.strip())
        if args.search_on
        else None
    )
    if search_on is not None and index.attrs is None:
        ap.error("--search-on requires an index built with attr blocks "
                 "(build_index with_attributes=True)")
    if args.proximity:
        if args.embeddings:
            ap.error("--proximity applies to keyword search only")
        if args.sort or args.distinct or args.distinct_attr:
            # the CLI's sort/distinct post-passes re-order the hit set
            # wholesale and would silently discard the proximity
            # ordering — refuse instead
            ap.error("--proximity does not compose with --sort/--distinct")
        if index.positions is None:
            ap.error("--proximity requires an index built with a "
                     "positions table (build with --positions)")

    if args.tenant_token:
        if not (args.keys_file and args.master_key):
            ap.error("--tenant-token needs --keys-file and --master-key")
        if args.embeddings:
            # silently dropping the forced filter on the hybrid path
            # would be a row-security hole — refuse loudly instead
            ap.error("--tenant-token does not compose with --embeddings "
                     "(hybrid ignores keyword filters)")
        from meilibridge_spark.sources.keys import (
            AuthError,
            KeyStore,
            compose_filters,
            token_search_filter,
        )

        try:
            forced = token_search_filter(
                args.tenant_token,
                KeyStore(args.keys_file, args.master_key),
                args.index_uid or index.cfg.normalized_name(),
            )
        except AuthError as e:
            ap.error(f"tenant token rejected: {e}")
        if args.filter_role:
            ap.error("--tenant-token composes with --filter only")
        args.filter_expr = compose_filters(forced, args.filter_expr)

    def make_filter():
        if args.filter_expr:
            from meilibridge_spark.functions.filters import filter_doc_ids

            return filter_doc_ids(index, args.filter_expr)
        if args.filter_role:
            return index.docs.filter(
                F.col("role") == args.filter_role
            ).select("doc_id")
        return None

    if args.embeddings:
        from meilibridge_spark.operators.hybrid import search_hybrid_many

        emb = spark.read.parquet(args.embeddings)

        def vec_by_id(vid: int) -> "list[float]":
            row = emb.filter(F.col("vec_id") == vid).select("embedding").head()
            if row is None:
                ap.error(f"vec_id {vid} not found in {args.embeddings}")
            return list(row[0])

        hk = dict(
            k=args.k, semantic_ratio=args.semantic_ratio, pool=args.pool,
            score_mode=args.score_mode,
        )
        if args.queries_file:
            batch, vecs = [], {}
            with open(args.queries_file) as f:
                try:
                    parsed_lines = parse_hybrid_queries_file(f)
                except ValueError as e:
                    ap.error(f"{args.queries_file}: {e}")
            for qid, vec_id, text in parsed_lines:
                batch.append((qid, text))
                vecs[qid] = vec_by_id(vec_id)
            prepare_serving(index)
            rows = search_hybrid_many(
                index, emb, batch, vecs, semantic=args.semantic, **hk
            ).collect()
            hits = {qid: [] for qid, _ in batch}
            for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
                hits[r["query_id"]].append(
                    {"doc_id": r["doc_id"], "hybrid": round(r["hybrid"], 6),
                     "kw": round(r["kw"], 6), "sem": round(r["sem"], 6)}
                )
            for qid, text in batch:
                print(json.dumps(
                    {"query_id": qid, "query": text, "hits": hits[qid]}
                ))
            return
        qv = (
            [float(x) for x in args.query_vec.split(",")]
            if args.query_vec
            else vec_by_id(args.query_vec_id)
        )
        # single query rides the batch path so --semantic ivf applies
        # uniformly (rank-identical to search_hybrid for "exact")
        rows = search_hybrid_many(
            index, emb, [("q", args.query)], {"q": qv},
            semantic=args.semantic, **hk,
        ).collect()
        out = [
            {"doc_id": r["doc_id"], "hybrid": round(r["hybrid"], 6),
             "kw": round(r["kw"], 6), "sem": round(r["sem"], 6)}
            for r in sorted(rows, key=lambda r: r["rank"])
        ]
        print(json.dumps({"query": args.query, "k": args.k, "hits": out}))
        return

    sort_spec: "list[tuple[str, bool]]" = []
    geo_sort = None  # (lat, lng, ascending) from _geoPoint(lat, lng)
    if args.sort:
        # split on commas OUTSIDE parens: '_geoPoint(48.2, 2.3):asc'
        # carries commas of its own
        parts, depth, cur = [], 0, []
        for ch in args.sort:
            if ch == "," and depth == 0:
                parts.append("".join(cur))
                cur = []
            else:
                depth += (ch == "(") - (ch == ")")
                cur.append(ch)
        parts.append("".join(cur))
        for part in (p.strip() for p in parts if p.strip()):
            attr, _, direction = part.partition(":")
            if direction not in ("asc", "desc", ""):
                ap.error(f"--sort direction must be asc|desc, got {part!r}")
            m = re.fullmatch(
                r"_geoPoint\(\s*(-?[0-9.]+)\s*,\s*(-?[0-9.]+)\s*\)", attr
            )
            if m:
                # Meilisearch geosearch sort rule; supported standalone
                if index.cfg.geo_attributes is None:
                    ap.error(
                        "_geoPoint sort needs geo_attributes=(lat_col, "
                        "lng_col) declared on the index"
                    )
                if geo_sort is not None:
                    ap.error("only one _geoPoint sort rule is allowed")
                geo_sort = (
                    float(m.group(1)),
                    float(m.group(2)),
                    direction != "desc",
                )
                continue
            if attr.startswith("_geo"):
                ap.error(
                    f"--sort rule {attr!r} is not sortable; the geo sort "
                    "rule is _geoPoint(lat, lng):asc|desc"
                )
            if attr not in index.cfg.sortable_attributes:
                ap.error(
                    f"--sort attribute {attr!r} is not sortable; the index "
                    f"declares sortable_attributes="
                    f"{list(index.cfg.sortable_attributes)}"
                )
            sort_spec.append((attr, direction != "desc"))
        if geo_sort is not None and sort_spec:
            ap.error(
                "_geoPoint does not combine with attribute sort rules "
                "yet; pass it as the only --sort rule"
            )
    if args.distinct and not index.cfg.distinct_attribute:
        ap.error("--distinct needs a distinct_attribute in the index "
                 "settings (build with --distinct-attribute)")
    if args.distinct_attr:
        # the v1.9 query-time distinct must name a FILTERABLE attribute
        # (the endpoint's invalid_search_distinct rule); enforcement is
        # index-defined via the manifest-adopted settings
        if args.distinct_attr not in index.cfg.filterable_attributes:
            ap.error(
                f"--distinct-attr {args.distinct_attr!r} is not a "
                "filterable attribute of this index "
                f"(have: {sorted(index.cfg.filterable_attributes)})"
            )
    distinct_attr = args.distinct_attr or (
        index.cfg.distinct_attribute if args.distinct else None
    )

    # a single --query is a batch of one: both modes share the
    # search_many call and the response code below
    if args.queries_file:
        with open(args.queries_file) as f:
            batch = [
                (f"q{i:05d}", line.strip())
                for i, line in enumerate(f)
                if line.strip()
            ]
    else:
        batch = [("q", args.query)]
    # '-word' negatives and '-"..."' negative phrases are both
    # handled natively by search_many; phrases additionally need
    # the positions table — fail up front instead of raising
    # mid-job. The check uses the quote-aware parser itself, so a
    # dash inside a positive quoted phrase never false-positives.
    from meilibridge_spark.operators.positions import (
        parse_negative,
        parse_quoted,
        search_with_phrases,
    )

    bad = next((t for _, t in batch if parse_negative(t)[2]), None)
    if bad is not None and index.positions is None:
        ap.error(
            f'negative phrases (-"...") need a positions table '
            f"(offending query: {bad!r}); rebuild the snapshot "
            "with --with-positions"
        )
    filt = make_filter()
    paged = args.page is not None or args.hits_per_page is not None

    def many(k: int, offset: int, paged: bool):
        kw = dict(
            filter_docs=filt, typo=args.typo,
            matching_strategy=args.matching_strategy,
            attributes_to_search_on=search_on, prefix=args.prefix,
            proximity_rank=args.proximity,
        )
        if paged:
            # exhaustive pagination: every query's page slice +
            # exhaustive totals in two jobs; carrier rows keep totals
            # for empty pages so every query gets a full response,
            # like the endpoint
            return search_many(
                index, batch, page=args.page,
                hits_per_page=args.hits_per_page,
                carrier_empty_pages=True, **kw,
            )
        return search_many(index, batch, k=k, offset=offset, **kw)

    def hit(r) -> dict:
        return {
            "doc_id": r["doc_id"],
            "score": round(r["score"], 6),
            **{a: (str(r[a]) if r[a] is not None else None)
               for a, _ in sort_spec},
            **({"prox_cost": r["prox_cost"]} if args.proximity else {}),
            **({"_geoDistance": r["_geoDistance"]} if geo_sort else {}),
        }

    def respond(rows, paged: bool) -> "dict[str, dict]":
        """search_many rows -> one response body per query_id."""
        out = {qid: {"hits": []} for qid, _ in batch}
        for r in sorted(rows, key=lambda r: r["rank"] or 0):
            resp = out[r["query_id"]]
            if paged:
                resp.update(
                    page=r["page"], hitsPerPage=r["hits_per_page"],
                    totalHits=r["total_hits"], totalPages=r["total_pages"],
                )
            if r["doc_id"] is not None:
                resp["hits"].append(hit(r))
        return out

    if args.queries_file:
        if filt is None:
            prepare_serving(index)  # shuffle-free only helps unfiltered
        out = respond(many(args.k, args.offset, paged).collect(), paged)
        for qid, text in batch:
            print(json.dumps({"query_id": qid, "query": text, **out[qid]}))
        return

    pos_text, neg_words, neg_phrases = parse_negative(args.query)
    has_phrase = bool(parse_quoted(pos_text)[1])
    has_negative = bool(neg_words or neg_phrases)
    if has_phrase:
        # positive quoted phrases take the positional route
        # (search_with_phrases), which has no typo/prefix expansion
        if index.positions is None:
            ap.error('quoted phrases need a snapshot built with positions '
                     '(build_index --with-positions)')
        if args.typo:
            ap.error("--typo does not compose with quoted phrases")
        if args.prefix:
            ap.error("--prefix does not compose with quoted phrases")
    if args.matching_strategy != "last" and '"' in args.query:
        ap.error(
            "quoted/negative phrases do not compose with "
            "--matching-strategy all|frequency (phrases need the "
            "positional single-query path); use the default strategy"
        )
    if paged and args.facets and args.matching_strategy != "last":
        ap.error(
            "--facets does not compose with --matching-strategy "
            "all|frequency under --page/--hits-per-page"
        )
    if args.hits_per_page == 0 and search_on is not None:
        ap.error(
            "--hits-per-page 0 (count-only) composes with "
            "--filter/--typo/--prefix/--facets only, not "
            "--search-on; use a positive hitsPerPage"
        )
    if paged and (
        args.offset or args.mode == "wand" or sort_spec or geo_sort
        or distinct_attr is not None or has_phrase or has_negative
        or args.proximity or args.cutoff_ms is not None
    ):
        ap.error("--page/--hits-per-page compose with filters, "
                 "--search-on, --typo, --prefix, --facets and "
                 "--matching-strategy only (no --offset/--sort/"
                 "--distinct/phrases/negatives/--proximity/--mode wand/"
                 "--cutoff-ms)")
    # the driver scorer ranks by BM25 score alone: it is the default
    # only when the index's ranking settings order hits by score under
    # the exactness data search_many uses (the typed query); any other
    # order is search_many's, which honours it
    score_only = resolve_ranking(index.cfg, index, exact_data=True).score_only
    if args.mode == "wand" and not score_only:
        ap.error("--mode wand ranks by BM25 score alone, but this index "
                 "orders hits by its ranking settings (words_ranking / "
                 "ranking_rules); use the default mode or --mode df")
    from meilibridge_spark.functions.tokenizer import parse_query

    plain = (
        args.mode != "df" and score_only and filt is None
        and search_on is None and args.matching_strategy == "last"
        and not (
            args.offset or args.facets or args.typo or args.prefix
            or has_phrase or has_negative or sort_spec or geo_sort
            or distinct_attr or args.proximity or paged
        )
        # an empty / stop-word-only query is Meilisearch's placeholder
        # search (all documents), which search_many answers
        and bool(parse_query(args.query, index.cfg.analyzer))
    )
    if args.cutoff_ms is not None and not plain:
        # loud beats a silently un-budgeted query: the distributed
        # routes have no per-query interrupt point (COVERAGE.md Q15),
        # so an explicit budget there is an error
        ap.error("--cutoff-ms applies to the plain --mode wand path "
                 "only (score-only ranking settings; no filters/offset/"
                 "facets/phrases/negatives/sort/distinct/proximity/"
                 "typo/prefix/matching strategy)")
    resp = {"query": args.query, "k": args.k}
    if plain:
        # search_cutoff falls back to the unbudgeted scorer when neither
        # --cutoff-ms nor the index's search_cutoff_ms is set
        hits, degraded = DriverSearcher(index).search_cutoff(
            args.query, args.k, cutoff_ms=args.cutoff_ms
        )
        resp["hits"] = [hit({"doc_id": d, "score": s}) for d, s in hits]
        if (
            args.cutoff_ms is not None
            or index.cfg.search_cutoff_ms is not None
        ):
            resp["degraded"] = degraded
        print(json.dumps(resp))
        return
    wide = bool(sort_spec or geo_sort or distinct_attr or args.facets)
    if not (has_phrase or wide):
        # exactly the --queries-file call and response, batch size one
        resp.update(respond(many(args.k, args.offset, paged).collect(),
                            paged)["q"])
        print(json.dumps(resp))
        return
    # sort/distinct/facets post-process the top max_total_hits hit set
    # (Meilisearch applies distinct before pagination), so the route
    # ranks a cap-bounded frame and offset/page slice it driver-side
    cap = index.cfg.max_total_hits if wide else args.offset + args.k
    if has_phrase:
        frame = search_with_phrases(
            index, args.query, cap, filter_docs=filt,
            attributes_to_search_on=search_on,
            proximity_rank=args.proximity,
        )
    else:
        frame = many(cap, 0, False)
    # the post-passes join docs columns onto the hits: keep only the
    # hit columns, so a ranking-rule field never collides with them
    frame = frame.select(
        "doc_id", "score",
        *(c for c in ("rank", "prox_cost") if c in frame.columns),
    )
    hits_df = frame
    if distinct_attr:
        from meilibridge_spark.operators.relational import distinct_hits

        hits_df = distinct_hits(
            hits_df, index.docs, distinct_attr, hit_bound=cap,
        )
    if sort_spec:
        from meilibridge_spark.operators.relational import sort_hits

        hits_df = sort_hits(
            hits_df, index.docs, sort_spec,
            k=args.offset + args.k, hit_bound=cap,
        )
    elif geo_sort:
        from meilibridge_spark.operators.relational import geo_sort_hits

        glat, glng, gasc = geo_sort
        hits_df = geo_sort_hits(
            hits_df, index.docs, index.cfg.geo_attributes, glat, glng,
            ascending=gasc, k=args.offset + args.k, hit_bound=cap,
        )
    rows = hits_df.collect()
    if not (sort_spec or geo_sort):
        # distinct_hits and search_many's local rows keep no order
        if distinct_attr:
            rows.sort(key=lambda r: (-round(r["score"], 9), r["doc_id"]))
        elif "rank" in frame.columns:
            rows.sort(key=lambda r: r["rank"])
    if paged:
        # only --facets widens a paged query: the frame holds every
        # counted hit (totals are capped at max_total_hits)
        pg = 1 if args.page is None else args.page
        hpp = 20 if args.hits_per_page is None else args.hits_per_page
        resp.update(
            page=pg, hitsPerPage=hpp, totalHits=len(rows),
            totalPages=-(-len(rows) // hpp) if hpp else 0,
        )
        rows = rows[(pg - 1) * hpp : pg * hpp]
    else:
        rows = rows[args.offset : args.offset + args.k]
    resp["hits"] = [hit(r) for r in rows]
    if args.facets:
        # Meilisearch computes facet counts over ALL matching docs; the
        # bounded analog uses the top max_total_hits hit set (the same
        # cap Meilisearch applies to the paginated set)
        from meilibridge_spark.operators.relational import facet_distribution

        attrs = [a.strip() for a in args.facets.split(",") if a.strip()]
        fd: "dict[str, dict]" = {a: {} for a in attrs}
        # faceting index settings drive the endpoint-shaped defaults
        for r in facet_distribution(
            frame, index.docs, attrs, hit_bound=cap,
            max_values=index.cfg.faceting_max_values,
            sort_by=index.cfg.facet_sort_map(),
        ).collect():
            fd[r["facet"]][r["value"]] = r["count"]
        resp["facetDistribution"] = fd
    print(json.dumps(resp))


if __name__ == "__main__":
    main()
