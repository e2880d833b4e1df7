"""Positional postings + phrase search (operators/positions.py).

Covers: position extraction (stop words hold positions but emit no
posting), adjacency intersection across 2- and 3-term phrases, phrase
ranking == BM25 restricted to phrase docs, and the no-match / empty
cases.
"""

import pytest
from pyspark.sql import functions as F

from meilibridge_spark.config import (
    ASCII_TOKEN_PATTERN,
    AnalyzerConfig,
    IndexConfig,
)
from meilibridge_spark.operators.positions import (
    build_positions,
    phrase_candidates,
    phrase_search,
)
from meilibridge_spark.operators.search import search
from meilibridge_spark.plans.build import build_index

DOCS = [
    (0, "red fox jumps over the lazy dog"),
    (1, "the quick red fox sleeps"),
    (2, "fox red fox red fox"),
    (3, "red then a fox apart"),
    (4, "quick red fox quick red fox"),
    (5, "nothing relevant here"),
]


def _cfg(**kw):
    return IndexConfig(
        index_name="pos",
        primary_key=("doc_id",),
        searchable_attributes=("text",),
        analyzer=AnalyzerConfig(token_pattern=ASCII_TOKEN_PATTERN, **kw),
    )


@pytest.fixture(scope="module")
def built(spark):
    cfg = _cfg()
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    idx = build_index(df, cfg, doc_id_col="doc_id")
    pos = build_positions(idx.docs, cfg, text_col="text").persist()
    return idx, pos


def test_positions_rows(built):
    _, pos = built
    rows = {
        (r["term"], r["doc_id"]): list(r["positions"])
        for r in pos.collect()
    }
    assert rows[("fox", 2)] == [0, 2, 4]
    assert rows[("red", 2)] == [1, 3]
    assert rows[("dog", 0)] == [6]


def test_stop_words_hold_positions(spark):
    cfg = _cfg(stop_words=("the",))
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    idx = build_index(df, cfg, doc_id_col="doc_id")
    pos = build_positions(idx.docs, cfg, text_col="text")
    rows = {(r["term"], r["doc_id"]): list(r["positions"]) for r in pos.collect()}
    assert ("the", 0) not in rows  # no posting for a stop word
    assert rows[("lazy", 0)] == [5]  # but it still occupies position 4


def test_phrase_with_stop_word_inside(spark):
    """A stop word inside the phrase drops from the required sequence
    but keeps its slot as a position gap: 'over the lazy' must match
    doc 0 ('... jumps over the lazy dog') whose positions keep the
    'the' slot (over@3, lazy@5)."""
    from meilibridge_spark.operators.positions import phrase_steps

    cfg = _cfg(stop_words=("the",))
    assert phrase_steps("over the lazy", cfg.analyzer) == [
        ("over", 0),
        ("lazy", 2),
    ]
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    idx = build_index(df, cfg, doc_id_col="doc_id")
    pos = build_positions(idx.docs, cfg, text_col="text").persist()
    got = {r["doc_id"] for r in phrase_search(idx, pos, "over the lazy", 10).collect()}
    assert got == {0}
    # full phrase through the stop word, and leading stop word
    got = {
        r["doc_id"]
        for r in phrase_search(idx, pos, "jumps over the lazy dog", 10).collect()
    }
    assert got == {0}
    # leading stop word drops entirely -> constraint is just 'quick red'
    got = {r["doc_id"] for r in phrase_search(idx, pos, "the quick red", 10).collect()}
    assert got == {1, 4}
    # gap must be exact: 'over lazy' (no stop word between) is NOT in any doc
    assert phrase_search(idx, pos, "over lazy", 10).count() == 0
    pos.unpersist()


def test_phrase_candidates_adjacency(built):
    _, pos = built
    hits = sorted(
        r["doc_id"] for r in phrase_candidates(pos, ["red", "fox"]).collect()
    )
    # doc 1 "quick red fox", docs 2/4 repeats, doc 0 "red fox jumps";
    # doc 3 has both words but not adjacent
    assert hits == [0, 1, 2, 4]


def test_phrase_three_terms(built):
    _, pos = built
    hits = sorted(
        r["doc_id"]
        for r in phrase_candidates(pos, ["quick", "red", "fox"]).collect()
    )
    assert hits == [1, 4]


def test_phrase_search_matches_filtered_bm25(built):
    idx, pos = built
    got = phrase_search(idx, pos, "red fox", 10).collect()
    cand = phrase_candidates(pos, ["red", "fox"])
    want = search(idx, "red fox", 10, filter_docs=cand).collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in got] == [
        (r["doc_id"], round(r["score"], 9)) for r in want
    ]
    assert {r["doc_id"] for r in got} == {0, 1, 2, 4}


def test_phrase_no_match(built):
    idx, pos = built
    assert phrase_search(idx, pos, "lazy quick", 10).count() == 0
    assert phrase_search(idx, pos, "", 10).count() == 0


def test_positions_snapshot_roundtrip(spark, tmp_index_dir):
    from meilibridge_spark.plans.build import build_and_save
    from meilibridge_spark.sources.tables import load_snapshot

    cfg = _cfg()
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    idx = build_and_save(
        spark, df, cfg, tmp_index_dir, doc_id_col="doc_id", with_positions=True
    )
    assert idx.positions is not None
    loaded = load_snapshot(spark, tmp_index_dir, cfg)
    assert loaded.positions is not None
    # phrase_search defaults to the stored positions table
    got = {r["doc_id"] for r in phrase_search(loaded, phrase="red fox", k=10).collect()}
    assert got == {0, 1, 2, 4}
    # snapshot without positions keeps the field None
    rows = {
        (r["term"], r["doc_id"]): list(r["positions"])
        for r in loaded.positions.collect()
    }
    assert rows[("fox", 2)] == [0, 2, 4]


def test_positions_survive_cdc(spark, tmp_index_dir):
    """apply_cdc maintains the positions table: touched docs' rows are
    re-derived, so post-CDC positions equal a fresh build over the
    final doc set (and phrase search stays consistent)."""
    from meilibridge_spark.plans.build import build_and_save
    from meilibridge_spark.plans.incremental import apply_cdc
    from meilibridge_spark.sources.cdc import generate_cdc_batch
    from meilibridge_spark.sources.tables import load_snapshot, save_snapshot
    from meilibridge_spark.sources.transcripts import generate_transcripts

    cfg = IndexConfig(
        index_name="poscdc",
        primary_key=("conv_id", "turn_idx"),
        analyzer=AnalyzerConfig.make(stop_words=["ba"]),
    )
    base = generate_transcripts(spark, n_convs=8, seed=13)
    build_and_save(spark, base, cfg, tmp_index_dir, with_positions=True)
    idx = load_snapshot(spark, tmp_index_dir, cfg)
    cdc = generate_cdc_batch(
        spark, base, seed=3, n_updates=3, n_inserts=2, n_deletes=2, n_replaces=1
    )
    new = apply_cdc(idx, cdc, cfg)
    assert new.positions is not None
    save_snapshot(new, tmp_index_dir, parent_id=idx.snapshot_id)
    loaded = load_snapshot(spark, tmp_index_dir, cfg)
    assert loaded.positions is not None

    want_rows = sorted(
        (r["term"], r["doc_id"], tuple(r["positions"]))
        for r in build_positions(new.docs.drop("terms"), cfg).collect()
    )
    got_rows = sorted(
        (r["term"], r["doc_id"], tuple(r["positions"]))
        for r in loaded.positions.collect()
    )
    assert got_rows == want_rows


def test_quoted_phrase_query(built):
    """Meilisearch quoted-phrase syntax: free terms score, quoted
    segments constrain; no quotes == plain search; unbalanced trailing
    quote opens a phrase to end-of-string."""
    from meilibridge_spark.operators.positions import (
        parse_quoted,
        phrase_steps,
        search_with_phrases,
    )

    idx, pos = built
    assert parse_quoted('a "b c" d "e"') == ("a   d  ", ["b c", "e"])
    assert parse_quoted('a "b c') == ("a ", ["b c"])
    # 'quick "red fox"': only docs with contiguous red-fox qualify
    # (0, 1, 2, 4 — not 3), scored over {red, fox, quick}
    got = search_with_phrases(idx, 'quick "red fox"', 10, positions=pos)
    ids = [r["doc_id"] for r in got.collect()]
    assert sorted(ids) == [0, 1, 2, 4]
    cand = phrase_candidates(
        pos, phrase_steps("red fox", idx.cfg.analyzer)
    )
    want = search(idx, "red fox quick", 10, filter_docs=cand).collect()
    assert ids == [r["doc_id"] for r in want]
    # two phrases intersect
    both = search_with_phrases(
        idx, '"red fox" "quick red"', 10, positions=pos
    ).collect()
    assert sorted(r["doc_id"] for r in both) == [1, 4]
    # no quotes == plain search
    plain = search_with_phrases(idx, "red fox", 10, positions=pos).collect()
    ref = search(idx, "red fox", 10).collect()
    assert [(r["doc_id"], r["score"]) for r in plain] == [
        (r["doc_id"], r["score"]) for r in ref
    ]


def test_quoted_phrase_edge_inputs(built):
    """Degenerate quote placements must not crash and must degrade to
    sensible semantics: empty quotes ignored, all-stop-word phrase
    constrains nothing, quote-only query = placeholder (all docs)."""
    from meilibridge_spark.operators.positions import (
        parse_quoted,
        search_with_phrases,
    )
    from meilibridge_spark.operators.search import search

    idx, pos = built
    assert parse_quoted('""') == (" ", [])
    assert parse_quoted('fox ""') == ("fox  ", [])
    assert parse_quoted('"') == ("", [])
    assert parse_quoted('a"b"c') == ("a c", ["b"])
    # empty-quote query == plain query
    a = search_with_phrases(idx, 'fox ""', 10, positions=pos).collect()
    b = search(idx, "fox", 10).collect()
    assert [(r["doc_id"], r["score"]) for r in a] == [
        (r["doc_id"], r["score"]) for r in b
    ]
    # quote-only query -> no terms -> Meilisearch PLACEHOLDER semantics
    # (round 5): the endpoint layer matches ALL documents, score 0.0,
    # doc_id order — not an empty result
    ph = search_with_phrases(idx, '"" "', 10, positions=pos).collect()
    n_docs = idx.docs.count()
    assert [r["doc_id"] for r in ph] == sorted(
        r["doc_id"] for r in idx.docs.select("doc_id").collect()
    )[:10]
    assert len(ph) == min(10, n_docs)
    assert all(r["score"] == 0.0 for r in ph)
    # stop-word-only phrase: no anchor terms -> constrains nothing
    stop_idx, stop_pos = built  # base fixture has no stop words; use steps
    from meilibridge_spark.operators.positions import phrase_steps

    assert phrase_steps("the a", _cfg(stop_words=("the", "a")).analyzer) == []


def test_positions_with_separator_settings(spark):
    """v1.4 separatorTokens/nonSeparatorTokens flow through the
    positional path: '-' compounds occupy ONE slot, '||' splits, and a
    pure-hyphen token holds its slot but emits no posting (like a stop
    word) — phrase matching stays consistent with the main tokenizer."""
    from meilibridge_spark.operators.positions import (
        match_positions,
        search_with_phrases,
    )

    cfg = IndexConfig(
        index_name="sep-pos",
        primary_key=("doc_id",),
        searchable_attributes=("text",),
        analyzer=AnalyzerConfig.make(
            token_pattern=ASCII_TOKEN_PATTERN,
            separator_tokens=("||",),
            non_separator_tokens=("-",),
        ),
    )
    docs = [
        (0, "state-of-the-art scan - runs fast"),
        (1, "state of the art scan runs fast"),
        (2, "alpha||beta gamma"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    idx = build_index(df, cfg, doc_id_col="doc_id")
    pos = build_positions(idx.docs, cfg, text_col="text")
    rows = {
        (r["term"], r["doc_id"]): list(r["positions"])
        for r in pos.collect()
    }
    # compound is one slot; the lone '-' occupies slot 2 silently
    assert rows[("state-of-the-art", 0)] == [0]
    assert rows[("scan", 0)] == [1]
    assert rows[("runs", 0)] == [3]
    assert ("-", 0) not in rows
    # '||' split into two adjacent slots
    assert rows[("alpha", 2)] == [0] and rows[("beta", 2)] == [1]
    idx.positions = pos
    # phrase across the silent hyphen slot: scan@p, runs@p+2
    hits = search_with_phrases(idx, '"scan - runs"', 5)
    assert [r["doc_id"] for r in hits.collect()] == [0]
    # separator-split words are phrase-adjacent
    hits2 = search_with_phrases(idx, '"alpha beta"', 5)
    assert [r["doc_id"] for r in hits2.collect()] == [2]
    mp = match_positions(idx, "state-of-the-art", positions=pos)
    assert [(r["doc_id"], r["pos"]) for r in mp.collect()] == [(0, 0)]


def test_stop_word_only_phrase_and_facet_searches_run_no_job(built):
    """A phrase, match-positions or exhaustive facet search whose query
    is all stop words answers with a driver-built empty frame (a local
    relation): collecting it runs no Spark job."""
    import copy

    from meilibridge_spark.operators.positions import match_positions
    from meilibridge_spark.operators.relational import (
        facet_distribution_exhaustive,
    )

    idx, pos = built
    idx = copy.copy(idx)
    idx.cfg = _cfg(stop_words=("the",))
    sc = idx.postings.sparkSession.sparkContext
    group = "test-stop-word-only-no-job"
    sc.setJobGroup(group, group)
    try:
        assert phrase_search(idx, pos, "the", 10).collect() == []
        assert match_positions(idx, "the the", positions=pos).collect() == []
        assert facet_distribution_exhaustive(idx, "the", ["text"]).collect() == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30000)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
