"""Physical-plan shape assertions — the scale properties the design
depends on, checked against `.explain` output so a regression that
silently de-optimizes a path fails loudly:

- term/doc_id predicates reach the parquet scan (PushedFilters);
- the postings scan for a query reads only the needed columns
  (ReadSchema pruning — no tf/dl metadata columns for decode);
- serving-mode search_many plans ZERO exchanges upstream of the
  scatter-gather scorer (the doc-shard layout is resident);
- scoring in the single-query path is whole-stage-codegen JVM.
"""

import re

import pytest
from pyspark.sql import functions as F

from meilibridge_spark.config import IndexConfig
from meilibridge_spark.operators.search import (
    prepare_serving,
    search,
    search_many,
)
from meilibridge_spark.plans.build import build_and_save
from meilibridge_spark.sources.transcripts import generate_transcripts


def _explain(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def saved(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("planidx"))
    src = generate_transcripts(spark, n_convs=60, seed=11)
    idx = build_and_save(spark, src, IndexConfig(index_name="plans"), d)
    return idx


def test_term_filter_pushed_to_scan(saved):
    plan = _explain(saved.postings.filter(F.col("term") == "baba"))
    assert "PushedFilters" in plan
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "term" in m.group(1), m and m.group(1)


def test_point_lookup_pushed(saved):
    plan = _explain(saved.docs.filter(F.col("doc_id") == 7))
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "doc_id" in m.group(1)


def test_decode_reads_only_needed_columns(saved):
    from meilibridge_spark.operators.search import decode_postings

    plan = _explain(decode_postings(saved.postings))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"term", "first_doc", "docs_bin", "tfs_bin", "dls_bin"}, cols


def test_serving_search_has_no_upstream_exchange(saved):
    prepare_serving(saved)
    try:
        df = search_many(
            saved, [("a", "baba cedi"), ("b", "dila")], k=5, gather="window"
        )
        plan = _explain(df)
        # the only exchanges allowed are AFTER the scorer (tiny top-k
        # merge + broadcast of the query mapping): everything upstream
        # of the MapInPandas scorer must read resident cached partitions
        scorer_pos = plan.find("MapInPandas")
        assert scorer_pos != -1, plan
        # formatted explain lists operators bottom-up in the tree section;
        # use the operator-detail section order: find the scan feeding
        # MapInPandas and assert no shuffle between them
        upstream = plan[scorer_pos:]
        assert "InMemoryTableScan" in upstream, plan
        scan_pos = upstream.find("InMemoryTableScan")
        between = upstream[:scan_pos]
        assert "Exchange" not in between, between
    finally:
        saved.serving.unpersist()
        saved.serving = None


def test_serving_driver_gather_is_one_job_and_local(saved):
    """Serving-mode batch with the driver gather: the scorer's collect
    is the call's only Spark job, and the merged result is a local
    relation, so collecting it runs none."""
    prepare_serving(saved)
    sc = saved.postings.sparkSession.sparkContext
    queries = [("a", "baba cedi"), ("b", "dila"), ("c", "baba")]
    group = "test-serving-driver-gather"
    try:
        sc.setJobGroup(group, group)
        try:
            df = search_many(saved, queries, k=5, gather="driver")
            rows = df.collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty(30000)
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
        assert rows
        assert len(jobs) == 1, jobs
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "LocalRelation" in plan, plan
    finally:
        saved.serving.unpersist()
        saved.serving = None


def test_unbounded_hit_set_is_never_broadcast(saved, spark):
    """The facet/distinct/sort paths are called with k up to 10^6 (all
    matching docs). A hot term at 100 TB matches tens of millions of
    docs — forcing a broadcast there OOMs the executors, so the hint
    must only appear for caller-attested small hit sets."""
    from meilibridge_spark.operators.relational import (
        distinct_hits,
        facet_counts,
        hits_with_docs,
        sort_hits,
    )

    hits = search(saved, "baba cedi", 10**6)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # disable stats-based auto-broadcast so any BroadcastExchange in the
    # plan can only come from our explicit hint
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for df in (
            hits_with_docs(hits, saved.docs, ["role"]),
            facet_counts(hits, saved.docs, "role"),
            distinct_hits(hits, saved.docs, "role"),
            sort_hits(hits, saved.docs, [("ts", True)], k=50),
        ):
            assert "BroadcastExchange" not in _explain(df)
        # bounded hit set (k <= MAX_BROADCAST_HITS) -> explicit broadcast
        small = search(saved, "baba cedi", 10)
        plan = _explain(hits_with_docs(small, saved.docs, ["role"], hit_bound=10))
        assert "BroadcastExchange" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_filtered_batch_term_filter_reaches_scan(saved):
    """The filtered cogroup path must still prune the postings scan by
    term (PushedFilters) — the filter adds a cogroup, it must not cost
    a full postings read."""
    from pyspark.sql import functions as F

    filt = saved.docs.filter(F.col("role") == "user").select("doc_id")
    df = search_many(
        saved, [("a", "baba cedi")], k=5, gather="window", filter_docs=filt
    )
    plan = _explain(df)
    assert "FlatMapCoGroupsInPandas" in plan, plan
    m = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("term" in g for g in m), m


def test_single_query_scoring_is_codegen(saved):
    df = search(saved, "baba cedi", 5)
    df.collect()  # AQE assigns codegen ids on the executed final plan
    plan = _explain(df)
    # scoring/agg operators fused into whole-stage codegen spans
    assert "codegen id" in plan, plan
    # top-k is a bounded TakeOrderedAndProject, never a global sort
    assert "TakeOrderedAndProject" in plan, plan
    # partial (map-side) aggregation before the exchange
    assert plan.count("HashAggregate") >= 2, plan


def test_serving_filtered_batch_blocks_not_reshuffled(saved):
    """Filtered batches in serving mode must NOT re-shuffle the resident
    posting blocks: the serving layout is hash-partitioned on its
    materialized _shard column, the cogroup groups on that column, and
    only the (cheap) allowed-id side exchanges."""
    from pyspark.sql import functions as F

    prepare_serving(saved)
    try:
        assert "_shard" in saved.serving.columns
        filt = saved.docs.filter(F.col("role") == "user").select("doc_id")
        df = search_many(
            saved, [("a", "baba cedi"), ("b", "dila")], k=5,
            gather="window", filter_docs=filt,
        )
        plan = _explain(df)
        pos = plan.find("FlatMapCoGroupsInPandas")
        assert pos != -1, plan
        # formatted explain lists the cogroup's LEFT child (blocks)
        # first: between the cogroup operator and the cached scan there
        # must be no Exchange — only Sort/Filter over resident partitions
        left = plan[pos:]
        scan_pos = left.find("InMemoryTableScan")
        assert scan_pos != -1, plan
        assert "Exchange" not in left[:scan_pos], left[:scan_pos]
        # correctness unchanged: serving filtered == non-serving filtered
        got = sorted(
            (r["query_id"], r["rank"], r["doc_id"]) for r in df.collect()
        )
        saved_serving = saved.serving
        saved.serving = None
        want = sorted(
            (r["query_id"], r["rank"], r["doc_id"])
            for r in search_many(
                saved, [("a", "baba cedi"), ("b", "dila")], k=5,
                gather="window", filter_docs=filt,
            ).collect()
        )
        saved.serving = saved_serving
        assert got == want
    finally:
        saved.serving.unpersist()
        saved.serving = None


def test_serving_search_on_has_no_upstream_exchange(spark):
    """attributesToSearchOn in serving mode rides the SAME resident
    bkind layout as the attribute criterion: no Exchange upstream of
    the scorer — the restriction must not cost a block re-shuffle."""
    from meilibridge_spark.plans.build import build_index

    src = generate_transcripts(spark, n_convs=30, seed=11)
    cfg = IndexConfig(
        index_name="plans-so", searchable_attributes=("role", "text")
    )
    idx = build_index(src, cfg, with_attributes=True)
    prepare_serving(idx, n_parts=2)
    try:
        assert "bkind" in idx.serving.columns
        df = search_many(
            idx,
            [("a", "baba cedi"), ("b", "user")],
            k=5,
            gather="window",
            attributes_to_search_on=("text",),
        )
        plan = _explain(df)
        scorer_pos = plan.find("MapInPandas")
        assert scorer_pos != -1, plan
        upstream = plan[scorer_pos:]
        assert "InMemoryTableScan" in upstream, plan
        scan_pos = upstream.find("InMemoryTableScan")
        assert "Exchange" not in upstream[:scan_pos], upstream[:scan_pos]
        # and the restriction actually bites: role-only term 'user'
        # must not reach b's hits under text-restriction unless in text
        rows = df.collect()
        assert all(r["query_id"] in ("a", "b") for r in rows)
    finally:
        idx.serving.unpersist()
        idx.serving = None


def test_proximity_positions_scan_is_term_pruned(spark, tmp_path_factory):
    """proximity_rank's positions fetch must reach the parquet scan as
    a term IN filter (posting-sized work), and the cost arithmetic must
    stay JVM-side — no Python evaluation (BatchEvalPython) in the plan."""
    d = str(tmp_path_factory.mktemp("proxidx"))
    src = generate_transcripts(spark, n_convs=30, seed=11)
    idx = build_and_save(
        spark, src, IndexConfig(index_name="prox"), d, with_positions=True
    )
    hits = search(idx, "baba cedi", 5, proximity_rank=True)
    plan = _explain(hits)
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("term" in p for p in pushed), pushed
    assert "BatchEvalPython" not in plan


def test_exhaustive_pagination_window_is_bounded(saved):
    """Exhaustive pagination (page/hitsPerPage): the single-partition
    row-number/count window must sit ABOVE a TakeOrderedAndProject
    (the limit(maxTotalHits) candidate bound) — never over the raw
    candidate set, whose size is corpus-dependent."""
    plan = _explain(search(saved, "baba cedi", page=1, hits_per_page=5))
    win = plan.find("Window")
    assert win != -1, plan[:800]
    bound = plan.find("TakeOrderedAndProject", win)
    assert bound != -1, plan[win : win + 800]
    # parents print above children in the formatted tree: the bound
    # must be the window's input, and no exchange may sit between the
    # window and its bound (both run on the bounded <= cap rows)
    between = plan[win:bound]
    assert "Exchange" not in between, between


def test_count_single_term_reads_block_metadata_only(saved):
    """search_count's single-term fast path is a metadata aggregate:
    the postings scan reads only (term, n) — no compressed payload
    columns, no decode stage — and the term filter is pushed."""
    from meilibridge_spark.operators.search import search_count

    plan = _explain(search_count(saved, "baba"))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"term", "n"}, cols
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "term" in m.group(1), plan
    assert "mapinpandas" not in plan.lower()


def test_batch_count_plan_no_topk_machinery(saved):
    """search_many_count's plan: the shard scorers emit one
    (query, candidate-count) row each, summed by a partial-aggregated
    groupBy — no Window / row_number / sort-based top-k anywhere, and
    the count reduction input is shard-granular, never doc-granular."""
    from meilibridge_spark.operators.search import search_many_count

    plan = _explain(
        search_many_count(saved, [("a", "baba cedi"), ("b", "dog")])
    )
    low = plan.lower()
    assert "window" not in low, plan
    assert "row_number" not in low, plan
    assert "takeordered" not in low, plan
    # the per-qkey sum is a two-phase hash aggregate (partial on the
    # scorer output, final after the qkey exchange)
    assert low.count("hashaggregate") >= 2, plan


def test_batch_paged_plan_bounded_and_two_sided(saved):
    """search_many(page=, hits_per_page=): the hit side stays the
    bounded scatter-gather (rank window over n_shards*k rows), the
    totals side joins in as a broadcast — no doc-granular join key
    materialization beyond the page slice."""
    from meilibridge_spark.operators.search import search_many

    plan = _explain(
        search_many(saved, [("a", "baba cedi")], page=2, hits_per_page=3)
    )
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan
