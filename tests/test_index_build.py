"""End-to-end rank-identity: Spark engine vs pinned pure-Python oracle
(SURVEY.md §5 items 2-3, FIXTURES.md §5-6) on the synthetic transcripts
table, plus structural invariants."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from meilibridge_spark.config import AnalyzerConfig, IndexConfig
from meilibridge_spark.functions.bm25 import score_round
from meilibridge_spark.operators.search import (
    DriverSearcher,
    search,
    search_many,
)
from meilibridge_spark.plans.build import build_index
from meilibridge_spark.sources.transcripts import (
    generate_transcripts,
    generate_transcripts_pdf,
)
from tests.oracle import BM25Oracle

N_CONVS = 40
SEED = 42

CFG = IndexConfig(
    index_name="transcripts test",
    primary_key=("conv_id", "turn_idx"),
    analyzer=AnalyzerConfig.make(
        stop_words=["ba", "ce"],
        synonyms={"difo": ["digu"]},
    ),
)

# mix of: hot Zipf-head terms, rare terms, absent terms, stopword-only,
# synonym-hitting, unicode, repeated, mixed-case (FIXTURES.md §5)
QUERIES = [
    "baba",
    "baba cedi",
    "BABA difo",
    "ba ce",            # stop-word-only -> empty
    "zzznotaterm",
    "difo",             # synonym-expanded to digu
    "café 東京",
    "baba baba cedi",   # repeated query terms
    "haki loba mune",
    "dine fodi gune haki",
]


@pytest.fixture(scope="module")
def built(spark):
    sdf = generate_transcripts(spark, n_convs=N_CONVS, seed=SEED)
    index = build_index(sdf, CFG)
    index.postings = index.postings.persist()
    index.postings.count()
    return index


@pytest.fixture(scope="module")
def oracle():
    pdf = generate_transcripts_pdf(n_convs=N_CONVS, seed=SEED)
    pdf = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    docs = list(enumerate(pdf["text"].tolist()))
    return BM25Oracle(docs, CFG.analyzer)


def test_generator_is_partition_independent(spark):
    a = generate_transcripts(spark, n_convs=10, seed=7, num_partitions=1).toPandas()
    b = generate_transcripts(spark, n_convs=10, seed=7, num_partitions=5).toPandas()
    a = a.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    b = b.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert a.equals(b)


def test_doc_ids_dense_and_ordered(built):
    rows = built.docs.select("doc_id", "conv_id", "turn_idx").orderBy("doc_id").collect()
    assert [r["doc_id"] for r in rows] == list(range(len(rows)))
    keys = [(r["conv_id"], r["turn_idx"]) for r in rows]
    assert keys == sorted(keys)


def test_per_turn_text_equality_vs_source(spark, built):
    """BASELINE.json input_hint row-level invariant: per-turn text
    equality docs-table vs source under stable (conv_id, turn_idx)."""
    src = generate_transcripts(spark, n_convs=N_CONVS, seed=SEED)
    joined = built.docs.alias("d").join(
        src.alias("s"), on=["conv_id", "turn_idx"], how="full"
    )
    mismatches = joined.filter(
        ~(F.col("d.text").eqNullSafe(F.col("s.text")))
    ).count()
    assert mismatches == 0
    assert built.docs.count() == src.count()


def test_corpus_stats_match_oracle(built, oracle):
    assert built.n_docs == oracle.N
    assert built.avgdl == pytest.approx(oracle.avgdl, rel=1e-12)


def test_df_invariant(built, oracle):
    """postings df(term) == number of docs containing term (FIXTURES §6)."""
    got = {r["term"]: r["df"] for r in built.terms.collect()}
    assert got == dict(oracle.df)


def test_batched_encoder_matches_per_group_reference(spark, built):
    """Stage 2 encodes one Arrow batch at a time and carries a batch's
    last (term, shard) group into the next. With three rows per Arrow
    batch most groups straddle a batch boundary; the rows still equal
    encoding each (term, shard) group on its own."""
    import dataclasses

    from meilibridge_spark.functions.codec import encode_blocks
    from meilibridge_spark.operators.postings import (
        POSTING_COLUMNS,
        build_postings,
    )

    cfg = dataclasses.replace(CFG, block_size=3, shard_range=64)
    slim = built.docs.select("doc_id", "terms", "dl")
    groups = {}
    for r in slim.collect():
        for term, tf in zip(r["terms"]["terms"], r["terms"]["tfs"]):
            key = (term, r["doc_id"] // cfg.shard_range)
            groups.setdefault(key, []).append((r["doc_id"], tf, r["dl"]))
    want = sorted(
        (term, *(blk[f] for f in POSTING_COLUMNS[1:]))
        for (term, _), entries in groups.items()
        for blk in encode_blocks(
            *(np.array(c) for c in zip(*sorted(entries))),
            cfg.block_size,
            cfg.shard_range,
        )
    )
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        got = sorted(tuple(r) for r in build_postings(slim, cfg).collect())
    finally:
        spark.conf.set(key, old)
    assert got == want


def test_build_postings_plan_has_no_grouped_udf(built):
    """Both build stages are mapInPandas: stage 2 encodes whole Arrow
    batches, not one pandas call per (term, shard) group."""
    from meilibridge_spark.operators.postings import build_postings

    def plan(df):
        return df._jdf.queryExecution().analyzed().toString()

    slim = built.docs.select("doc_id", "terms", "dl")
    got = plan(build_postings(slim, CFG))
    assert got.count("MapInPandas") == plan(slim).count("MapInPandas") + 2
    assert "FlatMapGroupsInPandas" not in got, got


def test_pagination_invariant(built):
    """sum(per-partition counts) == total (mysql_test.go:115 analog)."""
    from meilibridge_spark.sources.tables import partition_lineage

    lineage = partition_lineage(built.docs)
    assert sum(e["rows"] for e in lineage) == built.n_docs


@pytest.mark.parametrize("k", [1, 10, 100])
def test_rank_identity_dataframe_path(built, oracle, k):
    for q in QUERIES:
        want = oracle.topk(q, k)
        got = [
            (r["doc_id"], r["score"])
            for r in search(built, q, k).collect()
        ]
        assert [d for d, _ in got] == [d for d, _ in want], f"query={q!r} k={k}"
        np.testing.assert_allclose(
            score_round([s for _, s in got]),
            score_round([s for _, s in want]),
            rtol=0,
            atol=1e-9,
            err_msg=f"query={q!r}",
        )


def test_rank_identity_wand_path(built, oracle):
    s = DriverSearcher(built)
    for q in QUERIES:
        want = oracle.topk(q, 10)
        got = s.search(q, 10, strategy="wand")
        assert [d for d, _ in got] == [d for d, _ in want], f"query={q!r}"
        np.testing.assert_allclose(
            score_round([s for _, s in got]),
            score_round([s for _, s in want]),
            rtol=0,
            atol=1e-9,
        )


def test_driver_searcher_matches_wand(built, oracle):
    from meilibridge_spark.operators.search import DriverSearcher

    s = DriverSearcher(built)
    for q in QUERIES:
        want = oracle.topk(q, 10)
        got = s.search(q, 10)
        assert [d for d, _ in got] == [d for d, _ in want], f"query={q!r}"
        got2 = s.search(q, 10)  # warm cache path
        assert got2 == got


def test_driver_searcher_warm_batch_prefetch(built, oracle, monkeypatch):
    """warm(queries) prefetches every query's terms in one pass; the
    queries then serve with ZERO further fetches (asserted by making
    _fetch_raw raise) and rank-identical to the cold path."""
    from meilibridge_spark.operators import search as search_mod
    from meilibridge_spark.operators.search import DriverSearcher

    s = DriverSearcher(built)
    n_fetched = s.warm(QUERIES)
    assert n_fetched > 0
    # a second warm is a no-op — everything is already cached
    assert s.warm(QUERIES) == 0

    def _boom(index, terms):
        raise AssertionError(f"unexpected fetch after warm: {terms}")

    monkeypatch.setattr(search_mod, "_fetch_raw", _boom)
    for q in QUERIES:
        want = oracle.topk(q, 10)
        got = s.search(q, 10)
        assert [d for d, _ in got] == [d for d, _ in want], f"query={q!r}"


def test_driver_searcher_large_vocab_guard(built, oracle):
    """The searcher never collects the vocabulary (driver-OOM hazard at
    10^9 terms): construction runs no Spark job, idf comes from the
    fetched postings and stays rank-identical, a cold query runs one
    job and a warm one none, and an absent term is remembered so it
    never rescans."""
    import itertools

    sc = built.postings.sparkSession.sparkContext
    seq = itertools.count()

    def count_jobs(fn):
        group = f"test-large-vocab-guard-{next(seq)}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty(30000)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    s, jobs = count_jobs(lambda: DriverSearcher(built))
    assert jobs == 0
    for q in QUERIES:
        want = oracle.topk(q, 10)
        got = s.search(q, 10)
        assert [d for d, _ in got] == [d for d, _ in want], f"query={q!r}"
    assert "zzznotaterm" in s._absent
    assert count_jobs(lambda: s.search("zzznotaterm", 10)) == ([], 0)
    cold = DriverSearcher(built)
    hits, jobs = count_jobs(lambda: cold.search("baba cedi", 10))
    assert hits and jobs == 1
    assert count_jobs(lambda: cold.search("baba cedi", 10)) == (hits, 0)


def test_driver_searcher_filter_matches_distributed(built):
    """DriverSearcher.search(filter_docs=...) (the tenant-token
    forced-filter serving case) is rank-identical to the distributed
    search(filter_docs=...): postings restricted before scoring,
    BM25 stats corpus-global."""
    from meilibridge_spark.operators.search import DriverSearcher

    filt = built.docs.filter(F.col("doc_id") % 3 == 0).select("doc_id")
    s = DriverSearcher(built)
    allowed = s.prepare_filter(filt)
    assert allowed.dtype == np.int64 and (np.diff(allowed) > 0).all()
    for q in QUERIES:
        want = [
            (r["doc_id"], r["score"])
            for r in search(built, q, 10, filter_docs=filt).collect()
        ]
        for fd in (allowed, filt):  # prepared array AND DataFrame form
            got = s.search(q, 10, filter_docs=fd)
            assert [d for d, _ in got] == [d for d, _ in want], f"{q!r}"
            for (_, gs), (_, ws) in zip(got, want):
                assert gs == pytest.approx(ws, abs=1e-9)
        # every strategy agrees under the restriction
        dense = s.search(q, 10, strategy="dense", filter_docs=allowed)
        wand = s.search(q, 10, strategy="wand", filter_docs=allowed)
        assert [d for d, _ in dense] == [d for d, _ in wand]
        # unfiltered results only ever gain docs
        assert {d for d, _ in s.search(q, 10, filter_docs=allowed)} <= {
            d for d, _ in s.search(q, built.n_docs)
        }


def test_driver_searcher_cutoff(built):
    """searchCutoffMs serving analog: no cutoff delegates to search();
    a generous budget completes identically (degraded False); an
    already-expired clock degrades to the empty prefix."""
    from meilibridge_spark.operators.search import DriverSearcher

    s = DriverSearcher(built)
    for q in QUERIES:
        want = s.search(q, 10)
        # no cutoff anywhere (cfg default None) -> plain search path
        hits, degraded = s.search_cutoff(q, 10)
        assert (hits, degraded) == (want, False)
        # generous budget -> WAND completes, rank-identical
        hits, degraded = s.search_cutoff(q, 10, cutoff_ms=60_000)
        assert degraded is False
        assert [d for d, _ in hits] == [d for d, _ in want]
        for (_, gs), (_, ws) in zip(hits, want):
            assert gs == pytest.approx(ws, abs=1e-9)


def test_driver_searcher_cutoff_degrades(built, monkeypatch):
    """A fired deadline returns (partial-prefix hits, degraded=True) —
    deterministic via a fake clock that expires right after the
    budget is computed (fetch 'consumed' the whole budget)."""
    import time as _time

    from meilibridge_spark.operators.search import DriverSearcher

    s = DriverSearcher(built)
    base = _time.monotonic
    t0 = base()
    calls = {"n": 0}

    def fake_monotonic():
        calls["n"] += 1
        # first call = deadline computation; everything after is past it
        return t0 if calls["n"] <= 1 else t0 + 10.0

    monkeypatch.setattr(_time, "monotonic", fake_monotonic)
    hits, degraded = s.search_cutoff("baba cedi", 10, cutoff_ms=5)
    assert degraded is True and hits == []


def test_driver_searcher_cutoff_from_config(spark, tmp_index_dir):
    """cfg.search_cutoff_ms is the default budget; explicit arg wins."""
    import dataclasses

    from meilibridge_spark.operators.search import DriverSearcher
    from meilibridge_spark.plans.build import build_and_save

    cfg = dataclasses.replace(
        CFG, index_name="cut", search_cutoff_ms=60_000
    )
    sdf = spark.createDataFrame(
        [("c", 0, "baba cedi dada"), ("c", 1, "baba")],
        "conv_id string, turn_idx int, text string",
    )
    idx = build_and_save(spark, sdf, cfg, tmp_index_dir)
    s = DriverSearcher(idx)
    hits, degraded = s.search_cutoff("baba", 10)
    assert degraded is False and len(hits) == 2
    # a loader with a default cfg ADOPTS the stored setting (the
    # from_json_dict regression: to_json_dict carried search_cutoff_ms
    # but the rebuild dropped it, so the CLI never saw the budget)
    from meilibridge_spark.sources.tables import load_snapshot

    reloaded = load_snapshot(spark, tmp_index_dir, IndexConfig("cut"))
    assert reloaded.cfg.search_cutoff_ms == 60_000


def test_driver_searcher_filter_bounds(built):
    from meilibridge_spark.operators.search import DriverSearcher

    s = DriverSearcher(built)
    # empty allowed set -> no hits, no error
    assert s.search("baba", 10, filter_docs=np.empty(0, np.int64)) == []
    # cap guard points oversized filters to the distributed path
    s.FILTER_MAX_DOCS = 5
    with pytest.raises(ValueError, match="FILTER_MAX_DOCS"):
        s.prepare_filter(built.docs.select("doc_id"))


def test_search_many_matches_single(built):
    # single-path counterpart is the endpoint layer (search_with_phrases):
    # the stop-word-only query routes to placeholder semantics on BOTH
    # paths (all documents, doc_id order); the search() primitive itself
    # stays term-scoring-only (empty token set = no hits)
    from meilibridge_spark.operators.positions import search_with_phrases

    batch = [(f"q{i}", q) for i, q in enumerate(QUERIES)]
    res = search_many(built, batch, k=10).collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    for qid, text in batch:
        single = [
            (r["doc_id"], r["score"])
            for r in search_with_phrases(built, text, 10).collect()
        ]
        many = [(d, s) for _, d, s in sorted(by_q.get(qid, []))]
        assert [d for d, _ in many] == [d for d, _ in single], f"{qid}: {text!r}"
        if text == "ba ce":  # placeholder rows really are present
            assert len(many) == 10 and all(s == 0.0 for _, s in many)


def test_filtered_search(built, oracle, spark):
    """Q7: filter restricts candidates; scores stay corpus-global."""
    q = "baba cedi"
    filt = built.docs.filter(F.col("role") == "user").select("doc_id")
    got = [(r["doc_id"], r["score"]) for r in search(built, q, 20, filter_docs=filt).collect()]
    allowed = {r["doc_id"] for r in filt.collect()}
    want = [(d, s) for d, s in oracle.topk(q, 10**9) if d in allowed][:20]
    assert [d for d, _ in got] == [d for d, _ in want]
    np.testing.assert_allclose(
        score_round([s for _, s in got]),
        score_round([s for _, s in want]),
        rtol=0, atol=1e-9,
    )


def test_search_many_gather_paths_identical(built):
    batch = [(f"q{i}", q) for i, q in enumerate(QUERIES)]
    a = sorted(
        tuple(r) for r in search_many(built, batch, k=10, gather="driver").collect()
    )
    b = sorted(
        tuple(r) for r in search_many(built, batch, k=10, gather="window").collect()
    )
    c = sorted(
        tuple(r) for r in search_many(built, batch, k=10, gather="tree").collect()
    )
    assert a == b == c and a


def test_load_snapshot_validates_layout_knobs(spark, tmp_index_dir):
    """shard_range/block_size are baked into the stored postings bytes;
    loading a snapshot under a different value must fail loudly instead
    of mis-indexing the scatter-add (manifest records them)."""
    import dataclasses

    from meilibridge_spark.config import ConfigError
    from meilibridge_spark.plans.build import build_and_save
    from meilibridge_spark.sources.tables import load_snapshot

    sdf = generate_transcripts(spark, n_convs=6, seed=3)
    build_and_save(spark, sdf, CFG, tmp_index_dir)
    # matching cfg loads fine
    load_snapshot(spark, tmp_index_dir, CFG)
    with pytest.raises(ConfigError, match="shard_range"):
        load_snapshot(
            spark, tmp_index_dir, dataclasses.replace(CFG, shard_range=1 << 16)
        )
    with pytest.raises(ConfigError, match="block_size"):
        load_snapshot(
            spark, tmp_index_dir, dataclasses.replace(CFG, block_size=64)
        )


def test_load_snapshot_adopts_built_settings(spark, tmp_index_dir):
    """The manifest records the settings surface the index was BUILT
    with; a loader that leaves attribute lists at their defaults adopts
    them (index-defined filter enforcement), while an explicit caller
    value still wins."""
    import dataclasses

    from meilibridge_spark.plans.build import build_and_save
    from meilibridge_spark.sources.tables import load_snapshot

    built_cfg = dataclasses.replace(
        CFG,
        filterable_attributes=("role", "tool"),
        sortable_attributes=("ts",),
        distinct_attribute="conv_id",
    )
    sdf = generate_transcripts(spark, n_convs=6, seed=3)
    build_and_save(spark, sdf, built_cfg, tmp_index_dir)
    # default-cfg loader adopts the stored settings
    idx = load_snapshot(spark, tmp_index_dir, CFG)
    assert idx.cfg.filterable_attributes == ("role", "tool")
    assert idx.cfg.sortable_attributes == ("ts",)
    assert idx.cfg.distinct_attribute == "conv_id"
    # ...so index-defined --filter enforcement works out of the box
    from meilibridge_spark.functions.filters import filter_doc_ids

    assert filter_doc_ids(idx, "role = 'user'").count() > 0
    # explicit caller value wins over the stored one
    idx2 = load_snapshot(
        spark, tmp_index_dir,
        dataclasses.replace(CFG, filterable_attributes=("role",)),
    )
    assert idx2.cfg.filterable_attributes == ("role",)


def test_search_many_filtered_matches_single(built):
    """Filtered batch scatter-gather == single-query filtered path,
    rank-identical, with and without serving mode. Single path = the
    endpoint layer (search_with_phrases): the stop-word-only query is
    a filtered PLACEHOLDER on both paths."""
    from meilibridge_spark.operators.positions import search_with_phrases
    from meilibridge_spark.operators.search import prepare_serving

    filt = built.docs.filter(F.col("role") == "user").select("doc_id")
    batch = [(f"q{i}", q) for i, q in enumerate(QUERIES)]

    def check():
        res = search_many(built, batch, k=10, filter_docs=filt).collect()
        by_q: dict = {}
        for r in res:
            by_q.setdefault(r["query_id"], []).append(
                (r["rank"], r["doc_id"], r["score"])
            )
        for qid, text in batch:
            single = [
                (r["doc_id"], r["score"])
                for r in search_with_phrases(
                    built, text, 10, filter_docs=filt
                ).collect()
            ]
            many = [(d, s) for _, d, s in sorted(by_q.get(qid, []))]
            assert [d for d, _ in many] == [d for d, _ in single], f"{qid}: {text!r}"
            np.testing.assert_allclose(
                score_round([s for _, s in many]),
                score_round([s for _, s in single]),
                rtol=0,
                atol=1e-9,
            )

    check()
    prepare_serving(built)
    try:
        check()
    finally:
        built.serving.unpersist()
        built.serving = None


def test_search_many_empty_filter(built):
    filt = built.docs.filter(F.col("role") == "nosuchrole").select("doc_id")
    assert search_many(built, [("q0", "baba")], k=5, filter_docs=filt).count() == 0


def test_words_ranking_criterion(built, oracle):
    """Q11 'words' rule: matched-term count dominates, BM25 breaks ties
    within a count; the hit SET equals the BM25 hit set for k=all."""
    q = "baba cedi difo"
    hits = search(built, q, 10**6, words_rank=True).collect()
    mts = [r["matched_terms"] for r in hits]
    assert mts == sorted(mts, reverse=True)
    # within each matched_terms group, (score desc, doc_id asc)
    for i in range(1, len(hits)):
        a, b = hits[i - 1], hits[i]
        if a["matched_terms"] == b["matched_terms"]:
            sa, sb = score_round(a["score"]), score_round(b["score"])
            assert sa > sb or (sa == sb and a["doc_id"] < b["doc_id"])
    assert {r["doc_id"] for r in hits} == {
        d for d, _ in oracle.topk(q, 10**9)
    }


def test_conversation_rollup_index(spark):
    """rollup_text turns per-turn transcripts into per-conversation
    documents (turn order preserved) that index and search like any
    other docs table."""
    from meilibridge_spark.operators.docs import rollup_text

    sdf = generate_transcripts(spark, n_convs=10, seed=6)
    conv = rollup_text(sdf, "conv_id", "turn_idx")
    rows = {r["conv_id"]: (r["text"], r["n_members"]) for r in conv.collect()}
    # ordering check against a driver-side reference
    src = sorted(
        ((r["conv_id"], r["turn_idx"], r["text"] or "") for r in sdf.collect())
    )
    want: dict = {}
    for c, _, t in src:
        want[c] = (want.get(c, ("", 0))[0] + (" " if c in want else "") + t,
                   want.get(c, ("", 0))[1] + 1)
    assert {c: v[0] for c, v in rows.items()} == {c: v[0] for c, v in want.items()}
    assert {c: v[1] for c, v in rows.items()} == {c: v[1] for c, v in want.items()}

    cfg = IndexConfig(
        index_name="convs", primary_key=("conv_id",),
        searchable_attributes=("text",), analyzer=CFG.analyzer,
    )
    idx = build_index(conv.withColumn(
        "doc_id", F.dense_rank().over(__import__("pyspark").sql.window.Window.orderBy("conv_id")) - 1
    ), cfg, doc_id_col="doc_id")
    hits = search(idx, "baba", 5)
    assert 0 < hits.count() <= 5


def test_empty_corpus(spark):
    """A zero-row source builds an empty-but-valid index: searches
    return empty, stats are zero, nothing crashes."""
    from meilibridge_spark.sources.transcripts import TRANSCRIPT_SCHEMA

    empty = spark.createDataFrame([], TRANSCRIPT_SCHEMA)
    idx = build_index(empty, CFG)
    assert idx.n_docs == 0 and idx.avgdl == 0.0
    assert idx.postings.count() == 0 and idx.terms.count() == 0
    assert search(idx, "baba cedi", 5).count() == 0
    assert DriverSearcher(idx).search("baba", 5, strategy="wand") == []
    assert search_many(idx, [("q0", "baba")], k=5).count() == 0


def test_search_many_words_rank_matches_single(built):
    """Batch words_rank == single-path words_rank, across all three
    gather modes, matched_terms included. Single path = the endpoint
    layer (search_with_phrases): the stop-word-only query is a
    PLACEHOLDER (matched_terms 0) on both paths."""
    from meilibridge_spark.operators.positions import search_with_phrases

    batch = [(f"q{i}", q) for i, q in enumerate(QUERIES)]
    single = {}
    for qid, text in batch:
        single[qid] = [
            (r["doc_id"], r["matched_terms"], r["score"])
            for r in search_with_phrases(
                built, text, 10, words_rank=True
            ).collect()
        ]
    for mode in ("driver", "window", "tree"):
        res = search_many(
            built, batch, k=10, gather=mode, words_rank=True
        ).collect()
        by_q: dict = {}
        for r in res:
            by_q.setdefault(r["query_id"], []).append(
                (r["rank"], r["doc_id"], r["matched_terms"], r["score"])
            )
        for qid, text in batch:
            many = [
                (d, m, s) for _, d, m, s in sorted(by_q.get(qid, []))
            ]
            assert [(d, m) for d, m, _ in many] == [
                (d, m) for d, m, _ in single[qid]
            ], f"{mode}/{qid}: {text!r}"
            np.testing.assert_allclose(
                score_round([s for _, _, s in many]),
                score_round([s for _, _, s in single[qid]]),
                rtol=0,
                atol=1e-9,
            )


def test_search_many_words_rank_empty_plan_schema(built):
    res = search_many(built, [("q0", "zzznotaterm")], k=5, words_rank=True)
    assert res.columns == ["query_id", "doc_id", "score", "matched_terms", "rank"]
    assert res.count() == 0


def test_offset_pagination(built):
    """Q13 offset/limit: page 2 == rows offset..offset+k of the full
    ranking in BOTH paths; batch rank stays the absolute position."""
    idx = built
    full = search(idx, "baba cedi", 20).collect()
    page = search(idx, "baba cedi", 5, offset=5).collect()
    assert [(r["doc_id"], r["score"]) for r in page] == [
        (r["doc_id"], r["score"]) for r in full[5:10]
    ]
    res = search_many(idx, [("q", "baba cedi")], k=5, offset=5).collect()
    got = sorted((r["rank"], r["doc_id"]) for r in res)
    assert got == [
        (i + 6, r["doc_id"]) for i, r in enumerate(full[5:10])
    ]
    # past-the-end page -> empty, no error
    assert search(idx, "baba cedi", 5, offset=10**6).collect() == []
    with pytest.raises(ValueError, match="offset"):
        search(idx, "baba", 5, offset=-1)


def test_snapshot_settings_are_per_entry(spark, tmp_index_dir):
    """ADVICE r03: save_snapshot used to rewrite the manifest's
    top-level index meta wholesale, so a later save from a
    differently-configured index (no attrs, different filterable list)
    changed what an EARLIER attrs-carrying snapshot meant — loading it
    hit a false legacy-encoding 'rebuild the index' error and adopted
    the wrong settings. The built-settings surface travels with each
    snapshot entry."""
    import dataclasses

    from meilibridge_spark.sources.tables import load_snapshot, save_snapshot

    sdf = generate_transcripts(spark, n_convs=6, seed=3)
    cfg1 = dataclasses.replace(CFG, filterable_attributes=("role",))
    idx1 = build_index(sdf, cfg1, with_attributes=True)
    save_snapshot(idx1, tmp_index_dir)
    cfg2 = dataclasses.replace(CFG, filterable_attributes=("tool",))
    idx2 = build_index(sdf, cfg2)  # later save: no attrs
    save_snapshot(idx2, tmp_index_dir, parent_id=1)
    # snapshot 1 still loads — its attrs encoding marker travels with it
    loaded = load_snapshot(spark, tmp_index_dir, CFG, snapshot_id=1)
    assert loaded.attrs is not None
    # ...and adopts ITS built settings, not the latest save's
    assert loaded.cfg.filterable_attributes == ("role",)
    # the latest snapshot adopts its own
    latest = load_snapshot(spark, tmp_index_dir, CFG)
    assert latest.attrs is None
    assert latest.cfg.filterable_attributes == ("tool",)


def test_get_settings_endpoint_shape(spark, tmp_index_dir):
    """GET /settings analog: camelCase endpoint shape, per-snapshot
    answers (an earlier snapshot keeps ITS settings after later saves),
    _geo reflected in filterable/sortable when geo_attributes set."""
    import dataclasses

    from meilibridge_spark.plans.build import build_and_save
    from meilibridge_spark.sources.tables import get_settings
    from meilibridge_spark.sources.transcripts import generate_transcripts

    from meilibridge_spark.config import AnalyzerConfig

    cfg = dataclasses.replace(
        CFG,
        filterable_attributes=("role",),
        sortable_attributes=("ts",),
        geo_attributes=("lat", "lng"),
        analyzer=AnalyzerConfig.make(
            separator_tokens=("|",), non_separator_tokens=("-",)
        ),
    )
    src = generate_transcripts(spark, n_convs=5, seed=3).persist()
    from pyspark.sql import functions as F

    src = src.withColumn("lat", F.lit(1.0)).withColumn("lng", F.lit(2.0))
    idx = build_and_save(spark, src, cfg, tmp_index_dir)
    s = get_settings(tmp_index_dir)
    assert s["snapshotId"] == idx.snapshot_id
    assert s["searchableAttributes"] == ["text"]
    assert s["filterableAttributes"] == ["role", "_geo"]
    assert s["sortableAttributes"] == ["ts", "_geo"]
    assert s["geoAttributes"] == ["lat", "lng"]
    assert s["separatorTokens"] == ["|"]
    assert s["nonSeparatorTokens"] == ["-"]
    assert s["engine"]["blockSize"] == cfg.block_size
    # a later save with different settings must not rewrite snapshot 1's
    cfg2 = dataclasses.replace(cfg, filterable_attributes=("tool",))
    build_and_save(spark, src, cfg2, tmp_index_dir, recreate=False)
    assert get_settings(tmp_index_dir, snapshot_id=1)[
        "filterableAttributes"
    ] == ["role", "_geo"]
    assert get_settings(tmp_index_dir)["filterableAttributes"] == [
        "tool", "_geo",
    ]
    with pytest.raises(KeyError):
        get_settings(tmp_index_dir, snapshot_id=99)


def test_list_indexes_endpoint_shape(spark, tmp_index_dir):
    """GET /indexes analog: committed children only, uid-sorted,
    offset/limit pagination."""
    import os

    from meilibridge_spark.plans.build import build_and_save
    from meilibridge_spark.sources.tables import list_indexes

    sdf = generate_transcripts(spark, n_convs=4, seed=9)
    for name in ("beta", "alpha"):
        build_and_save(
            spark, sdf, IndexConfig(index_name=name),
            os.path.join(tmp_index_dir, name),
        )
    os.makedirs(os.path.join(tmp_index_dir, "not_an_index"))
    (open(os.path.join(tmp_index_dir, "stray.txt"), "w")).close()

    out = list_indexes(tmp_index_dir)
    assert out["total"] == 2 and out["offset"] == 0
    assert [r["uid"] for r in out["results"]] == ["alpha", "beta"]
    r = out["results"][0]
    assert r["primaryKey"] == ["conv_id", "turn_idx"]
    assert r["createdAt"] <= r["updatedAt"]

    page = list_indexes(tmp_index_dir, limit=1, offset=1)
    assert [r["uid"] for r in page["results"]] == ["beta"]
    assert page["total"] == 2

    assert list_indexes(os.path.join(tmp_index_dir, "missing"))["total"] == 0
