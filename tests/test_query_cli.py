"""In-process drive of the query-job CLI (jobs/query.py main()) for the
options whose semantics live in the CLI layer rather than an operator —
currently the Meilisearch v1.9 query-time ``distinct`` search parameter
(--distinct-attr): it must override the index's distinct_attribute for
one query, enforce the endpoint's invalid_search_distinct rule
(attribute must be filterable), and match the library distinct path
exactly. build_session getOrCreate()s, so main() reuses the pytest
SparkSession; spark-submit isolation is covered by test_jobs_submit."""

import json
import sys

import pytest

from meilibridge_spark.config import IndexConfig
from meilibridge_spark.operators.relational import distinct_hits
from meilibridge_spark.operators.search import search
from meilibridge_spark.plans.build import build_and_save
from meilibridge_spark.sources.transcripts import generate_transcripts


QUERY = "baba cedi"


@pytest.fixture(scope="module")
def saved(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("qcli"))
    src = generate_transcripts(spark, n_convs=60, seed=11)
    return build_and_save(
        spark, src,
        IndexConfig(index_name="qcli", filterable_attributes=("role",)),
        d,
    )


def _run_cli(monkeypatch, capsys, *args: str) -> dict:
    from meilibridge_spark.jobs import query as qjob

    monkeypatch.setattr(sys, "argv", ["query.py", *args])
    qjob.main()
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def _run_cli_lines(monkeypatch, capsys, *args: str) -> "list[dict]":
    """Batch mode: one JSON response line per query."""
    from meilibridge_spark.jobs import query as qjob

    monkeypatch.setattr(sys, "argv", ["query.py", *args])
    qjob.main()
    return [
        json.loads(line)
        for line in capsys.readouterr().out.strip().splitlines()
    ]


def test_distinct_attr_matches_library_path(
    saved, spark, monkeypatch, capsys
):
    k = 10
    resp = _run_cli(
        monkeypatch, capsys,
        "--index-dir", saved.index_dir, "--query", QUERY,
        "-k", str(k), "--distinct-attr", "role",
    )
    cap = saved.cfg.max_total_hits
    expect = sorted(
        distinct_hits(
            search(saved, QUERY, cap), saved.docs, "role", hit_bound=cap
        ).collect(),
        key=lambda r: (-round(r["score"], 9), r["doc_id"]),
    )[:k]
    assert [h["doc_id"] for h in resp["hits"]] == [
        r["doc_id"] for r in expect
    ]
    # one best hit per attribute value: hit count bounded by the
    # attribute's cardinality among matching docs
    n_roles = saved.docs.select("role").distinct().count()
    assert 0 < len(resp["hits"]) <= n_roles


def test_distinct_attr_must_be_filterable(saved, monkeypatch, capsys):
    with pytest.raises(SystemExit):
        _run_cli(
            monkeypatch, capsys,
            "--index-dir", saved.index_dir, "--query", QUERY,
            "--distinct-attr", "conv_id",
        )
    assert "not a filterable attribute" in capsys.readouterr().err


def test_page_pagination_matches_library_path(
    saved, spark, monkeypatch, capsys
):
    resp = _run_cli(
        monkeypatch, capsys,
        "--index-dir", saved.index_dir, "--query", QUERY,
        "--page", "2", "--hits-per-page", "4",
    )
    lib = search(saved, QUERY, page=2, hits_per_page=4).collect()
    assert [h["doc_id"] for h in resp["hits"]] == [r.doc_id for r in lib]
    assert resp["page"] == 2 and resp["hitsPerPage"] == 4
    assert resp["totalHits"] == lib[0].total_hits
    assert resp["totalPages"] == lib[0].total_pages


def test_page_composes_with_filter(saved, spark, monkeypatch, capsys):
    resp = _run_cli(
        monkeypatch, capsys,
        "--index-dir", saved.index_dir, "--query", QUERY,
        "--filter-role", "user", "--page", "1", "--hits-per-page", "3",
    )
    assert len(resp["hits"]) == 3
    assert resp["totalHits"] >= 3 and resp["totalPages"] >= 1


def test_page_rejects_incompatible_options(saved, monkeypatch, capsys):
    for extra in (
        ["--offset", "5"],
        ["--mode", "wand"],
        ["--sort", "role:asc"],
        ["--proximity"],
    ):
        with pytest.raises(SystemExit):
            _run_cli(
                monkeypatch, capsys,
                "--index-dir", saved.index_dir, "--query", QUERY,
                "--page", "1", *extra,
            )


def test_count_only_response(saved, monkeypatch, capsys):
    """--hits-per-page 0 is Meilisearch's count-only request: empty
    hits, exhaustive totalHits, totalPages 0 — served by the dedicated
    count plan, not the (row-less) paged DataFrame."""
    from meilibridge_spark.operators.search import search_count

    resp = _run_cli(
        monkeypatch, capsys,
        "--index-dir", saved.index_dir, "--query", QUERY,
        "--hits-per-page", "0",
    )
    want = search_count(saved, QUERY).collect()[0]
    assert resp["hits"] == [] and resp["hitsPerPage"] == 0
    assert resp["totalHits"] == want.total_hits > 0
    assert resp["totalPages"] == 0


def test_count_only_composes_with_filter_and_all(saved, monkeypatch, capsys):
    from meilibridge_spark.functions.filters import filter_doc_ids
    from meilibridge_spark.operators.search import search_count

    resp = _run_cli(
        monkeypatch, capsys,
        "--index-dir", saved.index_dir, "--query", QUERY,
        "--filter-role", "user", "--hits-per-page", "0",
    )
    want = search_count(
        saved, QUERY, filter_docs=filter_doc_ids(saved, "role = 'user'")
    ).collect()[0]
    assert resp["totalHits"] == want.total_hits
    resp = _run_cli(
        monkeypatch, capsys,
        "--index-dir", saved.index_dir, "--query", QUERY,
        "--hits-per-page", "0", "--matching-strategy", "all",
    )
    want = search_count(
        saved, QUERY, matching_strategy="all"
    ).collect()[0]
    assert resp["totalHits"] == want.total_hits


def test_count_only_facet_only_query(saved, monkeypatch, capsys):
    """hitsPerPage=0 + facets: the endpoint's facet-only pattern —
    empty hits, exhaustive totalHits, and the same facetDistribution
    the hit path's --facets reports."""
    resp = _run_cli(
        monkeypatch, capsys,
        "--index-dir", saved.index_dir, "--query", QUERY,
        "--hits-per-page", "0", "--facets", "role",
    )
    assert resp["hits"] == [] and resp["totalHits"] > 0
    with_hits = _run_cli(
        monkeypatch, capsys,
        "--index-dir", saved.index_dir, "--query", QUERY,
        "--page", "1", "--hits-per-page", "5", "--facets", "role",
    )
    assert resp["facetDistribution"] == with_hits["facetDistribution"]
    assert sum(resp["facetDistribution"]["role"].values()) > 0


def test_count_only_rejects_incompatible_options(saved, monkeypatch, capsys):
    for extra in (
        ["--search-on", "text"],
        ["--facets", "role", "--matching-strategy", "all"],
    ):
        with pytest.raises(SystemExit):
            _run_cli(
                monkeypatch, capsys,
                "--index-dir", saved.index_dir, "--query", QUERY,
                "--hits-per-page", "0", *extra,
            )
        capsys.readouterr()


def test_count_only_frequency_strategy(saved, monkeypatch, capsys):
    """hitsPerPage=0 + matchingStrategy=frequency rides the batch count
    pass (the old rejection is lifted): 'frequency' only re-ranks, so
    its exhaustive count equals the default OR candidate count."""
    from meilibridge_spark.operators.search import search_count

    resp = _run_cli(
        monkeypatch, capsys,
        "--index-dir", saved.index_dir, "--query", QUERY,
        "--hits-per-page", "0", "--matching-strategy", "frequency",
    )
    want = search_count(saved, QUERY).collect()[0]
    assert resp["hits"] == [] and resp["totalHits"] == want.total_hits
    assert resp["totalPages"] == 0


def test_strategy_all_with_pagination(saved, monkeypatch, capsys):
    """--matching-strategy all + --page rides the batch paged path
    (the old rejection is lifted): page slice + exhaustive totals."""
    from meilibridge_spark.operators.search import search_many

    resp = _run_cli(
        monkeypatch, capsys,
        "--index-dir", saved.index_dir, "--query", QUERY,
        "--matching-strategy", "all", "--page", "1",
        "--hits-per-page", "3",
    )
    want = search_many(
        saved, [("q", QUERY)], matching_strategy="all",
        page=1, hits_per_page=3, carrier_empty_pages=True,
    ).collect()
    lib_hits = [r for r in want if r.doc_id is not None]
    assert [h["doc_id"] for h in resp["hits"]] == [
        r.doc_id for r in sorted(lib_hits, key=lambda r: r.rank)
    ]
    assert resp["totalHits"] == want[0].total_hits
    assert resp["totalPages"] == want[0].total_pages


def test_batch_file_with_pagination(saved, monkeypatch, capsys, tmp_path):
    """--queries-file + --page: every query gets a full paged response
    (totals even for empty pages, via the carrier rows) matching the
    single-query paged path."""
    qf = tmp_path / "qs.txt"
    qf.write_text(f"{QUERY}\nzzznothing\n")
    out = _run_cli_lines(
        monkeypatch, capsys,
        "--index-dir", saved.index_dir, "--queries-file", str(qf),
        "--page", "1", "--hits-per-page", "4",
    )
    assert len(out) == 2
    single = _run_cli(
        monkeypatch, capsys,
        "--index-dir", saved.index_dir, "--query", QUERY,
        "--page", "1", "--hits-per-page", "4",
    )
    assert [h["doc_id"] for h in out[0]["hits"]] == [
        h["doc_id"] for h in single["hits"]
    ]
    assert out[0]["totalHits"] == single["totalHits"]
    assert out[0]["totalPages"] == single["totalPages"]
    # the no-hit query still reports exhaustive totals
    assert out[1]["hits"] == [] and out[1]["totalHits"] == 0
    assert out[1]["page"] == 1 and out[1]["hitsPerPage"] == 4


def test_batch_file_count_only(saved, monkeypatch, capsys, tmp_path):
    from meilibridge_spark.operators.search import search_count

    qf = tmp_path / "qs.txt"
    qf.write_text(f"{QUERY}\n")
    out = _run_cli_lines(
        monkeypatch, capsys,
        "--index-dir", saved.index_dir, "--queries-file", str(qf),
        "--hits-per-page", "0",
    )
    want = search_count(saved, QUERY).collect()[0]
    assert out[0]["hits"] == []
    assert out[0]["totalHits"] == want.total_hits
    assert out[0]["totalPages"] == 0


def test_default_mode_honours_ranking_settings(
    saved, spark, monkeypatch, capsys, tmp_path
):
    """The driver scorer ranks by BM25 alone, so on an index whose
    ranking settings order by more than score the default single-query
    route returns search()'s order, and --mode wand exits."""
    import shutil

    from meilibridge_spark.operators.ranking import DEFAULT_RANKING_RULES
    from meilibridge_spark.sources.tables import (
        load_snapshot,
        update_settings,
    )

    d = str(tmp_path / "ranked")
    shutil.copytree(saved.index_dir, d)
    update_settings(d, {"rankingRules": list(DEFAULT_RANKING_RULES)})
    idx = load_snapshot(spark, d, IndexConfig(index_name="qcli"))
    want = [r["doc_id"] for r in search(idx, QUERY, 10).collect()]
    resp = _run_cli(
        monkeypatch, capsys, "--index-dir", d, "--query", QUERY, "-k", "10"
    )
    assert [h["doc_id"] for h in resp["hits"]] == want
    with pytest.raises(SystemExit):
        _run_cli(
            monkeypatch, capsys,
            "--index-dir", d, "--query", QUERY, "--mode", "wand",
        )


# ------------------------------------------------- multi-search CLI


def test_multi_search_cli_endpoint_body(
    spark, saved, monkeypatch, capsys, tmp_path
):
    """jobs/multi_search.py speaks the endpoint's POST body: camelCase
    keys, {'queries': [...]} wrapper, per-request limit/offset or
    page/hitsPerPage response shapes, results in request order."""
    import os
    import shutil

    from meilibridge_spark.jobs import multi_search as msjob

    root = tmp_path / "root"
    root.mkdir()
    shutil.copytree(saved.index_dir, os.path.join(root, "a"))
    body = {
        "queries": [
            {"indexUid": "a", "q": "baba cedi", "limit": 3},
            {"indexUid": "a", "q": "baba cedi", "page": 1,
             "hitsPerPage": 2},
            {"indexUid": "a", "q": "baba", "hitsPerPage": 0},
        ]
    }
    bf = tmp_path / "body.json"
    bf.write_text(json.dumps(body))
    monkeypatch.setattr(
        sys, "argv",
        ["multi_search.py", "--root", str(root),
         "--requests-file", str(bf)],
    )
    msjob.main()
    resp = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    r0, r1, r2 = resp["results"]
    assert r0["indexUid"] == "a" and len(r0["hits"]) == 3
    assert r0["limit"] == 3 and r0["offset"] == 0
    assert r1["page"] == 1 and r1["hitsPerPage"] == 2
    assert r1["totalHits"] > 2 and len(r1["hits"]) == 2
    # count-only entry: empty hits, exhaustive totals
    assert r2["hits"] == [] and r2["totalHits"] > 0
    assert r2["totalPages"] == 0
    # the offset-mode and paged hits agree on the top docs
    assert [h["doc_id"] for h in r1["hits"]] == [
        h["doc_id"] for h in r0["hits"][:2]
    ]


def test_multi_search_cli_translate_validation():
    from meilibridge_spark.jobs.multi_search import translate_requests

    with pytest.raises(ValueError, match="queries"):
        translate_requests({"foo": []})
    with pytest.raises(ValueError, match="unknown key"):
        translate_requests([{"indexUid": "a", "q": "x", "facets": []}])
    out = translate_requests(
        {"queries": [{"indexUid": "a", "q": "x", "limit": 5,
                      "matchingStrategy": "all", "hitsPerPage": 3}]}
    )
    assert out == [{
        "index_uid": "a", "q": "x", "k": 5,
        "matching_strategy": "all", "hits_per_page": 3,
    }]


# ---------------------------------- single query == batch of one


def _answer(resp: dict) -> dict:
    """The part of a response both modes share (hits + page meta)."""
    return {
        k: resp[k]
        for k in ("hits", "page", "hitsPerPage", "totalHits", "totalPages")
        if k in resp
    }


# (flags, --query text, its --queries-file line): "wibacx" is one typo
# from the corpus word "wibace"; a blank line is skipped in a queries
# file, so the empty query's batch twin is a line with no indexable
# token — the same placeholder search
PARITY = [
    ([], QUERY, QUERY),
    (["--filter", "role = 'user'"], QUERY, QUERY),
    (["--typo"], "wibacx cedi", "wibacx cedi"),
    (["--prefix"], "baba ced", "baba ced"),
    (["--matching-strategy", "all"], QUERY, QUERY),
    (["--matching-strategy", "frequency"], QUERY, QUERY),
    ([], "baba -cedi", "baba -cedi"),
    ([], "", "?"),
    (["--page", "2", "--hits-per-page", "3"], QUERY, QUERY),
    (["--hits-per-page", "0"], QUERY, QUERY),
    (["--typo"], "wibacx -cedi", "wibacx -cedi"),
    (["--prefix", "--typo"], "wibacx ced", "wibacx ced"),
]


@pytest.mark.parametrize(
    "flags,query,line", PARITY,
    ids=[" ".join(f) + f" q={q!r}" for f, q, _ in PARITY],
)
def test_single_query_equals_batch_of_one(
    saved, monkeypatch, capsys, tmp_path, flags, query, line
):
    qf = tmp_path / "qs.txt"
    qf.write_text(f"{line}\n")
    (batch,) = _run_cli_lines(
        monkeypatch, capsys,
        "--index-dir", saved.index_dir, "--queries-file", str(qf), *flags,
    )
    single = _run_cli(
        monkeypatch, capsys,
        "--index-dir", saved.index_dir, "--query", query, *flags,
    )
    assert _answer(single) == _answer(batch)
    assert single["hits"] or "--hits-per-page" in flags


def test_single_query_honours_exactness_rule(
    saved, monkeypatch, capsys, tmp_path
):
    """rankingRules=['exactness']: the exactness data is the typed
    query, so the rule orders hits and the single query answers in
    the batch order, not by BM25 score alone; --mode wand exits."""
    import shutil

    from meilibridge_spark.sources.tables import update_settings

    d = str(tmp_path / "exact")
    shutil.copytree(saved.index_dir, d)
    update_settings(d, {"rankingRules": ["exactness"]})
    q = "loba suce muce"
    qf = tmp_path / "qs.txt"
    qf.write_text(f"{q}\n")
    (batch,) = _run_cli_lines(
        monkeypatch, capsys, "--index-dir", d, "--queries-file", str(qf),
    )
    single = _run_cli(monkeypatch, capsys, "--index-dir", d, "--query", q)
    assert single["hits"] and _answer(single) == _answer(batch)
    with pytest.raises(SystemExit):
        _run_cli(
            monkeypatch, capsys,
            "--index-dir", d, "--query", q, "--mode", "wand",
        )


@pytest.fixture(scope="module")
def all_frame(saved, spark, tmp_path_factory):
    """A sortable-turn_idx copy of ``saved`` (settings-only commit), its
    matching-strategy-all top max_total_hits frame ranked by score,
    and doc_id -> (role, turn_idx)."""
    import shutil

    from meilibridge_spark.operators.search import search_many
    from meilibridge_spark.sources.tables import (
        load_snapshot,
        update_settings,
    )

    d = str(tmp_path_factory.mktemp("qcli_sortable") / "idx")
    shutil.copytree(saved.index_dir, d)
    update_settings(d, {"sortableAttributes": ["turn_idx"]})
    idx = load_snapshot(spark, d, IndexConfig(index_name="qcli"))
    frame = search_many(
        idx, [("q", QUERY)], k=idx.cfg.max_total_hits,
        matching_strategy="all",
    ).collect()
    assert len(frame) > 10
    ranked = sorted(frame, key=lambda r: (-round(r["score"], 9), r["doc_id"]))
    doc = {
        r["doc_id"]: (r["role"], r["turn_idx"])
        for r in idx.docs.select("doc_id", "role", "turn_idx").collect()
    }
    return d, ranked, doc


def _all_cli(monkeypatch, capsys, d, *extra):
    return _run_cli(
        monkeypatch, capsys, "--index-dir", d, "--query", QUERY,
        "--matching-strategy", "all", *extra,
    )


def test_strategy_all_applies_facets(all_frame, monkeypatch, capsys):
    d, ranked, doc = all_frame
    counts: "dict[str, int]" = {}
    for r in ranked:
        role = doc[r["doc_id"]][0]
        counts[role] = counts.get(role, 0) + 1
    resp = _all_cli(monkeypatch, capsys, d, "--facets", "role")
    assert resp["facetDistribution"] == {"role": counts}


def test_strategy_all_applies_sort(all_frame, monkeypatch, capsys):
    d, ranked, doc = all_frame
    want = sorted(ranked, key=lambda r: -doc[r["doc_id"]][1])[:10]
    resp = _all_cli(monkeypatch, capsys, d, "--sort", "turn_idx:desc")
    assert [h["doc_id"] for h in resp["hits"]] == [r["doc_id"] for r in want]


def test_strategy_all_applies_distinct_attr(all_frame, monkeypatch, capsys):
    d, ranked, doc = all_frame
    seen, want = set(), []
    for r in ranked:
        if doc[r["doc_id"]][0] not in seen:
            seen.add(doc[r["doc_id"]][0])
            want.append(r["doc_id"])
    resp = _all_cli(monkeypatch, capsys, d, "--distinct-attr", "role")
    assert [h["doc_id"] for h in resp["hits"]] == want


def test_strategy_all_rejects_cutoff_ms(all_frame, monkeypatch, capsys):
    """--cutoff-ms budgets only the driver scorer; search_many has no
    per-query interrupt point, so the option exits there."""
    with pytest.raises(SystemExit):
        _all_cli(monkeypatch, capsys, all_frame[0], "--cutoff-ms", "50")
    assert "--cutoff-ms" in capsys.readouterr().err
