"""Non-federated multi-search (POST /multi-search results mode,
operators/multisearch.py): batched == sequential identity, job
grouping by (index, options), per-request k/offset windows, filters,
and the loud 400-analog validation."""

import pytest
from pyspark.sql import functions as F

from meilibridge_spark.config import (
    ASCII_TOKEN_PATTERN,
    AnalyzerConfig,
    IndexConfig,
)
from meilibridge_spark.operators.multisearch import multi_search
from meilibridge_spark.operators.search import search_many
from meilibridge_spark.plans.build import build_index

ROWS = [
    (0, "spark shuffle join planning", "en"),
    (1, "spark only spark here", "en"),
    (2, "join order statistics", "de"),
    (3, "spark join spark join", "de"),
    (4, "fast spark joins are rapid", "en"),
    (5, "rapid join of tables", "en"),
    (6, "window functions over joins", "de"),
]
SCHEMA = "doc_id long, text string, lang string"


def _cfg(name, **kw):
    return IndexConfig(
        index_name=name,
        primary_key=("doc_id",),
        searchable_attributes=("text",),
        filterable_attributes=("lang",),
        analyzer=AnalyzerConfig(token_pattern=ASCII_TOKEN_PATTERN),
        **kw,
    )


@pytest.fixture(scope="module")
def idxs(spark):
    df = spark.createDataFrame(ROWS, SCHEMA)
    a = build_index(df, _cfg("a"), doc_id_col="doc_id")
    b = build_index(
        df.filter(F.col("doc_id") < 5), _cfg("b"), doc_id_col="doc_id"
    )
    for i in (a, b):
        i.postings = i.postings.persist()
        i.postings.count()
    return {"a": a, "b": b}


REQS = [
    {"index_uid": "a", "q": "spark join", "k": 3},
    {"index_uid": "b", "q": "join", "k": 2},
    {"index_uid": "a", "q": "join", "k": 4, "offset": 1},
    {"index_uid": "a", "q": "spark", "filter": "lang = 'de'", "k": 5},
]


def _by_req(rows):
    out = {}
    for r in rows:
        out.setdefault(r["request_no"], []).append(
            (r["rank"], r["doc_id"], round(r["score"], 9), r["index_uid"])
        )
    return {k: sorted(v) for k, v in out.items()}


def test_batched_matches_sequential(idxs):
    got = _by_req(multi_search(idxs, REQS).collect())
    for i, req in enumerate(REQS):
        from meilibridge_spark.functions.filters import filter_doc_ids

        idx = idxs[req["index_uid"]]
        fd = filter_doc_ids(idx, req["filter"]) if "filter" in req else None
        single = search_many(
            idx,
            [(f"r{i}", req["q"])],
            k=req.get("k", 10),
            offset=req.get("offset", 0),
            filter_docs=fd,
        ).collect()
        want = sorted(
            (
                r["rank"],
                r["doc_id"],
                round(r["score"], 9),
                req["index_uid"],
            )
            for r in single
        )
        assert got.get(i, []) == want, f"request {i}"


def test_same_option_requests_share_one_job(idxs, monkeypatch):
    """Two same-option requests on one index must ride ONE search_many
    call even with different k/offset; distinct options split."""
    import meilibridge_spark.operators.multisearch as M

    calls = []
    real = M.search_many

    def spy(index, batch, **kw):
        calls.append([qid for qid, _ in batch])
        return real(index, batch, **kw)

    monkeypatch.setattr(M, "search_many", spy)
    multi_search(idxs, REQS).collect()
    # groups: (a, plain) = requests 0+2; (b, plain) = 1; (a, filter) = 3
    assert sorted(map(sorted, calls)) == sorted(
        [["r0", "r2"], ["r1"], ["r3"]]
    )


def test_offset_window(idxs):
    """Per-request offset trims the group's shared ranking: rank stays
    absolute and contiguous after the offset."""
    rows = multi_search(idxs, [
        {"index_uid": "a", "q": "join", "k": 2, "offset": 1},
        {"index_uid": "a", "q": "join", "k": 10},
    ]).collect()
    by = _by_req(rows)
    full = [d for _, d, _, _ in sorted(by[1])]
    offs = [d for _, d, _, _ in sorted(by[0])]
    assert offs == full[1:3]
    assert [r for r, _, _, _ in sorted(by[0])] == [2, 3]  # absolute ranks


def test_offset_mode_multi_search_windows_are_local(idxs):
    """The per-request window table is a driver-built local relation,
    not a parallelized RDD, so collecting an offset-mode multi_search
    runs no Python task to read rows the driver already holds."""
    df = multi_search(idxs, [
        {"index_uid": "a", "q": "spark join", "k": 2, "offset": 1},
        {"index_uid": "a", "q": "join", "k": 3},
    ])
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" not in plan, plan
    assert "LocalRelation" in plan, plan
    assert df.collect()


def test_offset_mode_collect_runs_no_sort_jobs(idxs):
    """The closing (request_no, rank) order sorts the few merged rows
    in one partition. Collecting an offset-mode multi_search then runs
    two Spark jobs (the window-table broadcast and the one-partition
    result stage); a global orderBy range-partitions the rows and
    samples them in extra jobs."""
    import itertools

    sc = idxs["a"].postings.sparkSession.sparkContext
    seq = itertools.count()

    def count_jobs(fn):
        group = f"test-multi-search-jobs-{next(seq)}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty(30000)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    reqs = [
        {"index_uid": "a", "q": "spark join", "k": 2, "offset": 1},
        {"index_uid": "a", "q": "join", "k": 3},
    ]
    df = multi_search(idxs, reqs)  # the scorer job runs in the call
    rows, jobs = count_jobs(df.collect)
    assert jobs <= 2, jobs
    keys = [(r["request_no"], r["rank"]) for r in rows]
    assert keys == [(0, 2), (0, 3), (1, 1), (1, 2), (1, 3)]


def test_offset_mode_windows_run_no_join_jobs(idxs):
    """Per-request (offset, k) windows are a filter against literal
    maps, not a broadcast join with a window table: a two-request
    offset-mode multi_search, call and collect, runs fewer than the 4
    Spark jobs a broadcast window join costs."""
    import itertools

    sc = idxs["a"].postings.sparkSession.sparkContext
    seq = itertools.count()

    def count_jobs(fn):
        group = f"test-multi-search-window-jobs-{next(seq)}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty(30000)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    reqs = [
        {"index_uid": "a", "q": "spark join", "k": 2, "offset": 1},
        {"index_uid": "a", "q": "join", "k": 3},
    ]
    multi_search(idxs, reqs).collect()  # warm the idf memo
    rows, jobs = count_jobs(lambda: multi_search(idxs, reqs).collect())
    assert jobs < 4, jobs
    keys = [(r["request_no"], r["rank"]) for r in rows]
    assert keys == [(0, 2), (0, 3), (1, 1), (1, 2), (1, 3)]
    plan = multi_search(idxs, reqs)._jdf.queryExecution().optimizedPlan()
    assert "Join" not in plan.toString(), plan.toString()


def test_validation_rejects_non_int_window_keys(idxs):
    """An endpoint body's null / string / bool limit or offset (and a
    non-int page or hitsPerPage) is a request error naming the key,
    not a TypeError from the range check."""
    for key, val in (
        ("offset", None),
        ("k", "3"),
        ("k", True),
        ("page", 1.5),
        ("hits_per_page", "2"),
    ):
        with pytest.raises(
            ValueError, match=f"request 0: '{key}' must be an integer"
        ):
            multi_search(idxs, [{"index_uid": "a", "q": "x", key: val}])


def test_validation(idxs):
    with pytest.raises(ValueError, match="unknown key"):
        multi_search(idxs, [{"index_uid": "a", "q": "x", "facets": ["y"]}])
    with pytest.raises(KeyError, match="index_uid"):
        multi_search(idxs, [{"index_uid": "zzz", "q": "x"}])
    with pytest.raises(ValueError, match="missing 'q'"):
        multi_search(idxs, [{"index_uid": "a"}])
    with pytest.raises(ValueError, match="at least one request"):
        multi_search(idxs, [])
    with pytest.raises(ValueError, match="k must be"):
        multi_search(idxs, [{"index_uid": "a", "q": "x", "offset": -1}])


def test_matching_strategy_and_typo_group_separately(idxs, monkeypatch):
    import meilibridge_spark.operators.multisearch as M

    calls = []
    real = M.search_many

    def spy(index, batch, **kw):
        calls.append(
            (tuple(sorted(qid for qid, _ in batch)),
             kw["matching_strategy"], kw["typo"])
        )
        return real(index, batch, **kw)

    monkeypatch.setattr(M, "search_many", spy)
    rows = multi_search(idxs, [
        {"index_uid": "a", "q": "spark join", "matching_strategy": "all"},
        {"index_uid": "a", "q": "spark join"},
        {"index_uid": "a", "q": "sparc join", "typo": True},
    ]).collect()
    assert len(calls) == 3
    by = _by_req(rows)
    # 'all' returns only docs with both words; default returns more
    assert {d for _, d, _, _ in by[0]} == {0, 3}
    assert len(by[1]) > len(by[0])
    assert by[2]  # typo request matched via 'sparc'->'spark'


def test_multi_search_prefix_option_groups_and_matches_single(idxs):
    """'prefix' is a batch-incompatible option: a prefixed request must
    match the single-path search_prefix on the same index, while an
    identical plain request in the same call stays unexpanded."""
    from meilibridge_spark.operators.search import search_prefix

    out = multi_search(
        idxs,
        [
            {"index_uid": "a", "q": "spark jo", "prefix": True, "k": 10},
            {"index_uid": "a", "q": "spark jo", "k": 10},
        ],
    ).collect()
    by_req = {}
    for r in out:
        by_req.setdefault(r["request_no"], []).append(
            (r["rank"], r["doc_id"], round(r["score"], 9))
        )
    single = [
        (i + 1, r["doc_id"], round(r["score"], 9))
        for i, r in enumerate(search_prefix(idxs["a"], "spark jo", 10).collect())
    ]
    assert sorted(by_req[0]) == single
    # the plain request sees no 'jo*' expansion: only docs containing
    # the literal term 'spark' score ('jo' is unindexed)
    assert {d for _, d, _ in by_req[1]} == {0, 1, 3, 4}


def test_federated_facets_merge_identity(spark):
    """Merged federated facets (federation.mergeFacets) == summing the
    per-index facetsByIndex distributions by (facet, value); unknown
    index_uid in facetsByIndex errors loudly."""
    from meilibridge_spark.operators.federation import federated_facets

    docs = spark.createDataFrame(ROWS, SCHEMA)
    a = build_index(docs, _cfg("fa"))
    b = build_index(docs.filter(F.col("lang") == "en"), _cfg("fb"))
    targets = [("a", a, 1.0), ("b", b, 1.0)]
    fbi = {"a": ["lang"], "b": ["lang"]}
    per = federated_facets(targets, "spark join", fbi, merge=False)
    merged = federated_facets(targets, "spark join", fbi, merge=True)
    want = {
        (r["facet"], r["value"]): r["count"]
        for r in per.groupBy("facet", "value")
        .agg(F.sum("count").alias("count"))
        .collect()
    }
    got = {(r["facet"], r["value"]): r["count"] for r in merged.collect()}
    assert got == want and got  # non-empty and identical
    rows = {(r["index_uid"], r["value"]): r["count"] for r in per.collect()}
    # index b only holds the en slice
    assert ("b", "de") not in rows and rows[("a", "de")] > 0
    with pytest.raises(ValueError, match="unknown index_uid"):
        federated_facets(targets, "spark", {"zz": ["lang"]})


def test_federated_facets_merge_cap_after_sum(spark):
    """The merged cap keeps the FIRST max_values values of the merged
    distribution with full cross-index counts (cap after sum, not
    per-index)."""
    from meilibridge_spark.operators.federation import federated_facets

    docs = spark.createDataFrame(ROWS, SCHEMA)
    a = build_index(docs, _cfg("fca"))
    b = build_index(docs, _cfg("fcb"))
    targets = [("a", a, 1.0), ("b", b, 1.0)]
    merged = federated_facets(
        targets, "spark join", {"a": ["lang"], "b": ["lang"]},
        merge=True, max_values=1,
    )
    rows = merged.collect()
    assert len(rows) == 1 and rows[0]["value"] == "de"
    per = federated_facets(
        targets, "spark join", {"a": ["lang"], "b": ["lang"]}, merge=False
    )
    want = sum(
        r["count"] for r in per.collect() if r["value"] == "de"
    )
    assert rows[0]["count"] == want


def test_multi_search_proximity_option(spark, idxs):
    """The 'proximity' request option groups separately and matches the
    single search_many(proximity_rank=True) contract."""
    from meilibridge_spark.operators.positions import build_positions

    df = spark.createDataFrame(ROWS, SCHEMA)
    a = idxs["a"]
    if a.positions is None:
        a.positions = build_positions(
            df, _cfg("a"), text_col="text"
        ).persist()
    reqs = [
        {"index_uid": "a", "q": "spark join", "k": 5, "proximity": True},
        {"index_uid": "a", "q": "join spark", "k": 5, "proximity": True},
        {"index_uid": "a", "q": "spark join", "k": 5},  # plain sibling
    ]
    got = _by_req(multi_search(idxs, reqs).collect())
    for i in (0, 1):
        single = search_many(
            a, [(f"r{i}", reqs[i]["q"])], k=5, proximity_rank=True
        ).collect()
        want = sorted(
            (r["rank"], r["doc_id"], round(r["score"], 9), "a")
            for r in single
        )
        assert got[i] == want, f"request {i}"
    # the plain request is NOT proximity-ranked (groups split)
    plain = search_many(a, [("r2", "spark join")], k=5).collect()
    assert got[2] == sorted(
        (r["rank"], r["doc_id"], round(r["score"], 9), "a") for r in plain
    )


# ---- exhaustive pagination in results mode (round 5) ----------------


def test_multi_search_mixed_pagination_modes(idxs):
    """page/hitsPerPage requests ride the single-query exhaustive path
    and surface totalHits/totalPages as nullable columns; offset-mode
    rows in the same response carry NULLs (the endpoint's per-entry
    response-shape split)."""
    from meilibridge_spark.operators.search import search

    reqs = [
        {"index_uid": "a", "q": "spark join", "k": 3},
        {"index_uid": "a", "q": "join", "page": 2, "hits_per_page": 2},
        {
            "index_uid": "a",
            "q": "spark",
            "filter": "lang = 'de'",
            "page": 1,
            "hits_per_page": 5,
        },
    ]
    out = multi_search(idxs, reqs)
    assert out.columns == [
        "request_no", "index_uid", "doc_id", "score", "rank",
        "total_hits", "total_pages", "page", "hits_per_page",
    ]
    rows = out.collect()
    r0 = [r for r in rows if r["request_no"] == 0]
    assert len(r0) == 3
    assert all(
        r["total_hits"] is None and r["total_pages"] is None
        and r["page"] is None and r["hits_per_page"] is None
        for r in r0
    )
    # request 1: parity with the single paged path, absolute ranks
    single = search(
        idxs["a"], "join", page=2, hits_per_page=2, page_rank_col="rank"
    ).collect()
    got1 = sorted(
        (r["rank"], r["doc_id"], round(r["score"], 9),
         r["total_hits"], r["total_pages"], r["page"], r["hits_per_page"])
        for r in rows if r["request_no"] == 1
    )
    want1 = sorted(
        (r["rank"], r["doc_id"], round(r["score"], 9),
         r["total_hits"], r["total_pages"], r["page"], r["hits_per_page"])
        for r in single
    )
    assert got1 == want1 and got1, "paged request != single paged path"
    assert [r[0] for r in got1] == [3, 4]  # page 2 of 2 = absolute 3..4
    # request 2: totals count the FILTERED matches ('spark' AND de)
    r2 = [r for r in rows if r["request_no"] == 2]
    assert [r["doc_id"] for r in r2] == [3]
    assert r2[0]["total_hits"] == 1 and r2[0]["total_pages"] == 1


def test_multi_search_schema_unchanged_without_paged_request(idxs):
    out = multi_search(idxs, REQS)
    assert out.columns == [
        "request_no", "index_uid", "doc_id", "score", "rank",
    ]


def test_multi_search_paged_empty_query_keeps_schema(idxs):
    """A paged request whose terms are unindexed still answers with its
    exhaustive totals — one NULL-doc carrier row (the endpoint always
    returns totalHits per request), unioned with live paged results."""
    rows = multi_search(idxs, [
        {"index_uid": "a", "q": "zzznothing", "page": 1, "hits_per_page": 3},
        {"index_uid": "a", "q": "join", "page": 1, "hits_per_page": 3},
    ]).collect()
    assert [r["request_no"] for r in rows] == [0, 1, 1, 1]
    carrier = rows[0]
    assert carrier["doc_id"] is None and carrier["total_hits"] == 0
    assert all(r["total_hits"] == 4 for r in rows[1:])  # docs 0,2,3,5


def test_multi_search_paged_validation(idxs):
    with pytest.raises(ValueError, match="page must be >= 1"):
        multi_search(idxs, [
            {"index_uid": "a", "q": "join", "page": 0},
        ]).collect()


def test_multi_search_paged_typo_with_prefix(idxs):
    """typo + prefix compose under pagination through the batch path
    (the old single-query-path rejection is lifted): same hits as the
    equivalent search_many(page=) call."""
    from meilibridge_spark.operators.search import search_many

    rows = multi_search(idxs, [{
        "index_uid": "a", "q": "joni spar", "typo": True, "prefix": True,
        "page": 1, "hits_per_page": 4,
    }]).collect()
    want = search_many(
        idxs["a"], [("r0", "joni spar")], typo=True, prefix=True,
        page=1, hits_per_page=4,
    ).collect()
    assert sorted((r["doc_id"], r["rank"], r["total_hits"]) for r in rows) \
        == sorted((r.doc_id, r.rank, r.total_hits) for r in want)
    assert rows  # the typo-corrected prefix query really matches


def test_multi_search_count_only_request(idxs):
    """hits_per_page=0 entries contribute ONE NULL-doc carrier row with
    search_count's exhaustive totals instead of silently vanishing."""
    from meilibridge_spark.operators.search import search_count

    rows = multi_search(idxs, [
        {"index_uid": "a", "q": "join", "k": 2},
        {"index_uid": "a", "q": "join", "hits_per_page": 0},
        {"index_uid": "a", "q": "spark", "filter": "lang = 'de'",
         "hits_per_page": 0, "matching_strategy": "all"},
    ]).collect()
    r1 = [r for r in rows if r["request_no"] == 1]
    assert len(r1) == 1
    assert r1[0]["doc_id"] is None and r1[0]["score"] is None
    assert r1[0]["rank"] is None and r1[0]["hits_per_page"] == 0
    want = search_count(idxs["a"], "join").collect()[0]
    assert (r1[0]["total_hits"], r1[0]["total_pages"]) == (
        want.total_hits, want.total_pages,
    )
    r2 = [r for r in rows if r["request_no"] == 2]
    assert len(r2) == 1 and r2[0]["total_hits"] == 1
    # the offset-mode request still returns plain hit rows
    assert len([r for r in rows if r["request_no"] == 0]) == 2


def test_multi_search_count_only_compositions(idxs):
    """Count-only requests now compose with typo / prefix / every
    matching strategy through the batch count pass (the old
    search_count-path rejections are lifted): they group with other
    paged requests and report exhaustive totals."""
    rows = multi_search(idxs, [
        {"index_uid": "a", "q": "join", "hits_per_page": 0},
        {"index_uid": "a", "q": "sparl", "hits_per_page": 0,
         "typo": True},
        {"index_uid": "a", "q": "joi", "hits_per_page": 0, "prefix": True},
        {"index_uid": "a", "q": "spark join", "hits_per_page": 0,
         "matching_strategy": "frequency"},
    ]).collect()
    by = {r["request_no"]: r for r in rows}
    assert len(by) == 4
    plain = by[0]["total_hits"]
    assert plain == 4  # docs 0,2,3,5 contain 'join'
    # typo-corrected 'sparl' -> spark: the spark docs (0,1,3,4)
    assert by[1]["total_hits"] == 4
    # prefix 'joi' expands to join/joins: docs 0,2,3,4,5,6
    assert by[2]["total_hits"] == 6
    # 'frequency' only RANKS; its candidate set is the plain OR set
    assert by[3]["total_hits"] >= plain
    for r in by.values():
        assert r["doc_id"] is None and r["total_pages"] == 0


# ------------------------------------------------- hybrid / vector requests


HY_EMB = [
    (0, [0.0, 1.0]),
    (1, [0.5, 0.5]),
    (2, [1.0, 0.05]),
    (3, [0.0, 0.0]),
    (4, [0.9, 0.1]),
]
HY_QV = [1.0, 0.0]


@pytest.fixture(scope="module")
def emb_a(spark):
    e = spark.createDataFrame(
        HY_EMB, "vec_id long, embedding array<double>"
    ).persist()
    e.count()
    return e


def test_multi_search_hybrid_matches_library_path(idxs, emb_a):
    from meilibridge_spark.operators.hybrid import search_hybrid_many

    rows = multi_search(
        idxs,
        [
            {"index_uid": "a", "q": "spark join", "vector": HY_QV,
             "hybrid": {"semanticRatio": 0.5, "embedder": "default"},
             "k": 4},
            {"index_uid": "a", "q": "join order", "vector": [0.0, 1.0],
             "hybrid": {"semanticRatio": 0.5}, "k": 3},
            {"index_uid": "a", "q": "spark", "k": 2},  # keyword rides along
        ],
        embeddings={"a": emb_a},
    ).collect()
    want = search_hybrid_many(
        idxs["a"], emb_a,
        [("r0", "spark join"), ("r1", "join order")],
        {"r0": HY_QV, "r1": [0.0, 1.0]},
        k=4, semantic_ratio=0.5,
    ).collect()
    for req_no, kk in ((0, 4), (1, 3)):
        got = sorted(
            (r["doc_id"], round(r["score"], 9), r["rank"])
            for r in rows
            if r["request_no"] == req_no
        )
        exp = sorted(
            (r.doc_id, round(r.hybrid, 9), r.rank)
            for r in want
            if r.query_id == f"r{req_no}" and r.rank <= kk
        )
        assert got == exp, req_no
    assert [r["doc_id"] for r in rows if r["request_no"] == 2]


def test_multi_search_vector_only_pure_semantic(idxs, emb_a):
    """vector without q = the endpoint's pure semantic search: cosine
    order, score = (1 + cos) / 2, zero-norm vectors never hits."""
    rows = [
        r
        for r in multi_search(
            idxs,
            [{"index_uid": "a", "vector": HY_QV, "k": 3}],
            embeddings={"a": emb_a},
        ).collect()
    ]
    # cos vs (1, 0): doc 2 = .9988, doc 4 = .9939, doc 1 = .7071
    assert [r["doc_id"] for r in rows] == [2, 4, 1]
    assert rows[0]["score"] == pytest.approx((1 + 0.998752) / 2, abs=1e-5)
    assert all(r["index_uid"] == "a" for r in rows)


def test_multi_search_vector_validation(idxs, emb_a):
    with pytest.raises(ValueError, match="'hybrid' needs a 'vector'"):
        multi_search(idxs, [
            {"index_uid": "a", "q": "join",
             "hybrid": {"semanticRatio": 0.5}},
        ], embeddings={"a": emb_a})
    with pytest.raises(ValueError, match="does not compose"):
        multi_search(idxs, [
            {"index_uid": "a", "q": "join", "vector": HY_QV,
             "typo": True},
        ], embeddings={"a": emb_a})
    with pytest.raises(ValueError, match="unknown hybrid key"):
        multi_search(idxs, [
            {"index_uid": "a", "q": "join", "vector": HY_QV,
             "hybrid": {"ratio": 0.5}},
        ], embeddings={"a": emb_a})
    with pytest.raises(ValueError, match="no embeddings"):
        multi_search(idxs, [
            {"index_uid": "b", "q": "join", "vector": HY_QV,
             "hybrid": {"semanticRatio": 0.5}},
        ])


def test_multi_search_hybrid_with_filter(idxs, emb_a):
    """filter + hybrid (the endpoint combination): both pools restrict
    to the allowed ids — parity with search_hybrid_many(filter_docs=),
    and every hit satisfies the filter."""
    from meilibridge_spark.functions.filters import filter_doc_ids
    from meilibridge_spark.operators.hybrid import search_hybrid_many

    rows = multi_search(
        idxs,
        [{"index_uid": "a", "q": "spark join", "vector": HY_QV,
          "hybrid": {"semanticRatio": 0.5}, "filter": "lang = 'en'",
          "k": 5}],
        embeddings={"a": emb_a},
    ).collect()
    fd = filter_doc_ids(idxs["a"], "lang = 'en'")
    want = search_hybrid_many(
        idxs["a"], emb_a, [("r0", "spark join")], {"r0": HY_QV},
        k=5, semantic_ratio=0.5, filter_docs=fd,
    ).collect()
    assert sorted((r["doc_id"], round(r["score"], 9)) for r in rows) == \
        sorted((r.doc_id, round(r.hybrid, 9)) for r in want)
    en_docs = {0, 1, 4, 5}
    assert {r["doc_id"] for r in rows} <= en_docs and rows


def test_multi_search_vector_only_with_filter(idxs, emb_a):
    rows = multi_search(
        idxs,
        [{"index_uid": "a", "vector": HY_QV, "k": 5,
          "filter": "lang = 'en'"}],
        embeddings={"a": emb_a},
    ).collect()
    # en docs with embeddings: 0, 1, 4 — cosine order vs (1,0):
    # doc 4 (.9939) > doc 1 (.7071) > doc 0 (0 -> sem 0.5)
    assert [r["doc_id"] for r in rows] == [4, 1, 0]


def test_hybrid_filter_single_batch_parity(idxs, emb_a):
    from meilibridge_spark.functions.filters import filter_doc_ids
    from meilibridge_spark.operators.hybrid import (
        search_hybrid,
        search_hybrid_many,
    )

    fd = filter_doc_ids(idxs["a"], "lang = 'de'")
    single = search_hybrid(
        idxs["a"], emb_a, "spark join", HY_QV, k=5, filter_docs=fd
    ).collect()
    batch = search_hybrid_many(
        idxs["a"], emb_a, [("q", "spark join")], {"q": HY_QV},
        k=5, filter_docs=fd,
    ).collect()
    assert [(r.doc_id, round(r.hybrid, 9)) for r in single] == [
        (r.doc_id, round(r.hybrid, 9))
        for r in sorted(batch, key=lambda r: r.rank)
    ]
    de_docs = {2, 3, 6}
    assert {r.doc_id for r in single} <= de_docs and single


def test_federated_hybrid_targets(idxs, emb_a):
    """Federated hybrid (v1.10): targets with embeddings answer through
    search_hybrid and merge on their FUSED score times the federation
    weight; keyword-only targets share the [0,1] scale; weight boosts
    reorder the merged list."""
    from meilibridge_spark.operators.federation import federated_search
    from meilibridge_spark.operators.hybrid import search_hybrid

    targets = [("a", idxs["a"], 1.0), ("b", idxs["b"], 1.0)]
    rows = federated_search(
        targets, "spark join", k=5,
        query_vec=HY_QV, embeddings={"a": emb_a},
    ).collect()
    # target 'a' rows carry the fused score as ranking_score
    want = {
        r.doc_id: round(r.hybrid, 9)
        for r in search_hybrid(
            idxs["a"], emb_a, "spark join", HY_QV, k=5, pool=30
        ).collect()
    }
    a_rows = [r for r in rows if r.index_uid == "a"]
    assert a_rows
    for r in a_rows:
        assert round(r.ranking_score, 9) == want[r.doc_id]
        assert r.weighted_ranking_score == r.ranking_score  # weight 1
    # keyword target 'b' still contributes ranking-score rows
    assert any(r.index_uid == "b" for r in rows)
    # ordering: weighted score desc
    ws = [r.weighted_ranking_score for r in rows]
    assert ws == sorted(ws, reverse=True)
    # a weight boost on 'b' reorders the merge
    boosted = federated_search(
        [("a", idxs["a"], 0.1), ("b", idxs["b"], 2.0)], "spark join",
        k=5, query_vec=HY_QV, embeddings={"a": emb_a},
    ).collect()
    assert boosted[0].index_uid == "b"


def test_federated_hybrid_semantic_only_target(idxs, emb_a):
    """A hybrid target whose query yields NO analyzer tokens (empty q
    — the n_q == 0 branch) serves PURE semantic hits instead of being
    skipped; unindexed-but-tokenizable words take the hybrid path with
    an empty keyword pool and land in the same cosine order."""
    from meilibridge_spark.operators.federation import federated_search

    # empty q: the pure-semantic branch proper
    rows = federated_search(
        [("a", idxs["a"], 1.0)], "", k=3,
        query_vec=HY_QV, embeddings={"a": emb_a},
    ).collect()
    # cosine order vs (1, 0): docs 2, 4, 1
    assert [r.doc_id for r in rows] == [2, 4, 1]
    assert all(0.0 <= r.ranking_score <= 1.0 for r in rows)
    # unindexed words: hybrid path, kw pool empty -> sem-only ranking,
    # scores scaled by the semantic ratio
    rows2 = federated_search(
        [("a", idxs["a"], 1.0)], "zzznothing qqqnope", k=3,
        query_vec=HY_QV, embeddings={"a": emb_a},
    ).collect()
    assert [r.doc_id for r in rows2] == [2, 4, 1]


def test_federated_semantic_only_target_respects_filter(idxs, emb_a):
    """A stop-word-only query on a filtered hybrid target (the n_q == 0
    pure-semantic branch) returns only the filter's allowed docs."""
    import dataclasses

    from meilibridge_spark.functions.filters import filter_doc_ids
    from meilibridge_spark.operators.federation import federated_search

    a = idxs["a"]
    a = dataclasses.replace(
        a,
        cfg=dataclasses.replace(
            a.cfg,
            analyzer=AnalyzerConfig.make(
                token_pattern=ASCII_TOKEN_PATTERN, stop_words=["the"]
            ),
        ),
    )
    allowed = filter_doc_ids(a, "lang = 'en'")
    rows = federated_search(
        [("a", a, 1.0)], "the", k=3,
        per_index_kwargs={"a": {"filter_docs": allowed}},
        query_vec=HY_QV, embeddings={"a": emb_a},
    ).collect()
    # allowed ids with embeddings: 0, 1, 4 (doc 2, the unfiltered top
    # hit, is 'de'); cosine order vs (1, 0): 4, 1, 0
    assert [r.doc_id for r in rows] == [4, 1, 0]


def test_federated_hybrid_rejects_unsupported_target_kwargs(idxs, emb_a):
    from meilibridge_spark.operators.federation import federated_search

    with pytest.raises(ValueError, match="do not compose with query_vec"):
        federated_search(
            [("a", idxs["a"], 1.0)], "spark", k=3,
            per_index_kwargs={"a": {"attributes_to_search_on": ("text",)}},
            query_vec=HY_QV, embeddings={"a": emb_a},
        )


def test_multi_search_vector_rejects_count_only_paging(idxs, emb_a):
    # hits_per_page=0 (count-only) is present, not absent
    for paging in ({"hits_per_page": 0}, {"page": 1}):
        with pytest.raises(ValueError, match="does not compose"):
            multi_search(idxs, [
                {"index_uid": "a", "q": "join", "vector": HY_QV,
                 **paging},
            ], embeddings={"a": emb_a})
