"""Incremental MERGE (S9-S15) + resume correctness:
- apply_cdc == fresh rebuild of final state (byte-identical postings)
- idempotent re-apply (S14)
- rank-identity vs oracle on the post-CDC corpus
- staged resume reproduces a byte-identical index (north_star)
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from meilibridge_spark.config import IndexConfig
from meilibridge_spark.functions.bm25 import score_round
from meilibridge_spark.operators.search import DriverSearcher, search
from meilibridge_spark.plans.build import build_and_save, build_index
from meilibridge_spark.plans.incremental import apply_cdc
from meilibridge_spark.sources.cdc import generate_cdc_batch
from meilibridge_spark.sources.transcripts import generate_transcripts
from tests.oracle import BM25Oracle

CFG = IndexConfig(index_name="inc")
N_CONVS = 25


def _postings_pdf(postings) -> pd.DataFrame:
    pdf = postings.toPandas().sort_values(["term", "block_id"]).reset_index(drop=True)
    return pdf


@pytest.fixture(scope="module")
def incremental(spark):
    src = generate_transcripts(spark, n_convs=N_CONVS, seed=42).persist()
    base = build_index(src, CFG)
    base.docs = base.docs.persist()
    base.postings = base.postings.persist()
    cdc = generate_cdc_batch(spark, src, seed=7).persist()
    new = apply_cdc(base, cdc)
    new.docs = new.docs.persist()
    new.postings = new.postings.persist()
    new.postings.count()
    return src, base, cdc, new


def test_docs_merge_semantics(spark, incremental):
    src, base, cdc, new = incremental
    events = cdc.collect()
    docs = {(r["conv_id"], r["turn_idx"]): r for r in new.docs.collect()}
    base_keys = {(r["conv_id"], r["turn_idx"]) for r in base.docs.collect()}
    for e in events:
        key = (e["conv_id"], e["turn_idx"])
        if e["op"] == "delete":
            assert key not in docs, f"deleted key {key} still present"
        elif e["op"] == "insert":
            assert key in docs and docs[key]["text"] == e["full_document"]["text"]
        elif e["op"] == "replace":
            if key in docs:  # not later deleted
                assert docs[key]["text"] == e["full_document"]["text"]
        elif e["op"] == "update" and key in docs:
            assert docs[key]["text"] == e["updated_fields"]["text"]
            assert docs[key]["tool"] is None  # removed_fields
    # untouched rows unchanged
    touched = {(e["conv_id"], e["turn_idx"]) for e in events}
    src_rows = {(r["conv_id"], r["turn_idx"]): r["text"] for r in src.collect()}
    for key, row in docs.items():
        if key not in touched:
            assert row["text"] == src_rows[key]
            assert key in base_keys


def test_existing_doc_ids_stable(incremental):
    _, base, _, new = incremental
    old_ids = {(r["conv_id"], r["turn_idx"]): r["doc_id"] for r in base.docs.collect()}
    for r in new.docs.collect():
        key = (r["conv_id"], r["turn_idx"])
        if key in old_ids:
            assert r["doc_id"] == old_ids[key]


def test_incremental_equals_fresh_rebuild(spark, incremental):
    """The merged index must be byte-identical to a from-scratch build
    of the final doc set with the same doc_id assignment."""
    _, _, _, new = incremental
    final_src = new.docs.select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts", "doc_id"
    )
    fresh = build_index(final_src, CFG, doc_id_col="doc_id")
    a = _postings_pdf(new.postings)
    b = _postings_pdf(fresh.postings)
    assert len(a) == len(b)
    for col in a.columns:
        assert a[col].tolist() == b[col].tolist(), f"postings column {col} differs"
    ta = new.terms.toPandas().sort_values("term").reset_index(drop=True)
    tb = fresh.terms.toPandas().sort_values("term").reset_index(drop=True)
    assert ta.equals(tb)
    assert new.n_docs == fresh.n_docs
    assert new.avgdl == pytest.approx(fresh.avgdl, rel=1e-12)


def test_idempotent_reapply(spark, incremental):
    """S14: applying the same batch twice == once."""
    _, _, cdc, new = incremental
    again = apply_cdc(new, cdc)
    a = _postings_pdf(new.postings)
    b = _postings_pdf(again.postings)
    assert len(a) == len(b)
    for col in a.columns:
        assert a[col].tolist() == b[col].tolist(), f"column {col} differs"
    assert again.n_docs == new.n_docs


def test_rank_identity_after_cdc(spark, incremental):
    _, _, _, new = incremental
    rows = new.docs.select("doc_id", "text").collect()
    oracle = BM25Oracle([(r["doc_id"], r["text"]) for r in rows], CFG.analyzer)
    # a fresh DriverSearcher takes idf from the decoded posting count,
    # so this also pins df == posting count after a delta
    driver = DriverSearcher(new)
    for q in ["baba cedi", "spark merge", "inserted query filter", "replaced join"]:
        want = oracle.topk(q, 10)
        got = [(r["doc_id"], r["score"]) for r in search(new, q, 10).collect()]
        assert [d for d, _ in got] == [d for d, _ in want], q
        got = driver.search(q, 10)
        assert [d for d, _ in got] == [d for d, _ in want], q
        np.testing.assert_allclose(
            score_round([s for _, s in got]),
            score_round([s for _, s in want]),
            rtol=0,
            atol=1e-9,
            err_msg=q,
        )


def test_staged_resume_byte_identical(spark, tmp_index_dir):
    """Kill-after-stage-1 resume: a build that finds completed staging
    skips recompute and commits a byte-identical index (north_star)."""
    import os
    import shutil

    src = generate_transcripts(spark, n_convs=10, seed=3)
    dir_a = os.path.join(tmp_index_dir, "a")
    dir_b = os.path.join(tmp_index_dir, "b")
    full = build_and_save(spark, src, CFG, dir_a)

    # simulate a run killed after stage 1: staging docs exist, no snapshot
    os.makedirs(dir_b)
    shutil.copytree(
        os.path.join(dir_a, "_staging", "docs"),
        os.path.join(dir_b, "_staging", "docs"),
    )
    resumed = build_and_save(spark, src, CFG, dir_b, recreate=False)
    a = _postings_pdf(full.postings)
    b = _postings_pdf(resumed.postings)
    assert len(a) == len(b)
    for col in a.columns:
        assert a[col].tolist() == b[col].tolist(), f"column {col} differs"


def test_expire_snapshots(spark, tmp_index_dir):
    """Iceberg expire_snapshots analog: old snapshot dirs + manifest
    entries drop, the survivors still load, loading an expired id
    fails."""
    import os

    from meilibridge_spark.plans.build import build_and_save
    from meilibridge_spark.sources.cdc import generate_cdc_batch
    from meilibridge_spark.sources.tables import (
        expire_snapshots,
        load_snapshot,
        save_snapshot,
        snapshot_log,
    )
    from meilibridge_spark.sources.transcripts import generate_transcripts

    base = generate_transcripts(spark, n_convs=6, seed=21)
    build_and_save(spark, base, CFG, tmp_index_dir)
    idx = load_snapshot(spark, tmp_index_dir, CFG)
    for seed in (1, 2):
        cdc = generate_cdc_batch(
            spark, base, seed=seed, n_updates=2, n_inserts=1, n_deletes=0,
            n_replaces=0,
        )
        new = apply_cdc(idx, cdc, CFG)
        save_snapshot(new, tmp_index_dir, parent_id=idx.snapshot_id)
        idx = load_snapshot(spark, tmp_index_dir, CFG)
    assert [s["snapshot_id"] for s in snapshot_log(tmp_index_dir)] == [1, 2, 3]

    expired = expire_snapshots(tmp_index_dir, keep_last=1)
    assert expired == [1, 2]
    assert [s["snapshot_id"] for s in snapshot_log(tmp_index_dir)] == [3]
    assert not os.path.isdir(os.path.join(tmp_index_dir, "snap-000001"))
    assert os.path.isdir(os.path.join(tmp_index_dir, "snap-000003"))
    loaded = load_snapshot(spark, tmp_index_dir, CFG)
    assert loaded.snapshot_id == 3 and loaded.docs.count() == loaded.n_docs
    with pytest.raises(FileNotFoundError, match="expired or never"):
        load_snapshot(spark, tmp_index_dir, CFG, snapshot_id=1)
    # no-op when nothing to expire
    assert expire_snapshots(tmp_index_dir, keep_last=5) == []


def test_attrs_cdc_equals_fresh_rebuild(spark):
    """The attribute-rank blocks (with_attributes=True) are maintained
    through apply_cdc byte-identically to a fresh attr build of the
    final state — same guarantee the postings have."""
    import dataclasses

    cfg = dataclasses.replace(
        CFG, index_name="inc-attrs", searchable_attributes=("tool", "text")
    )
    src = generate_transcripts(spark, n_convs=10, seed=5).persist()
    base = build_index(src, cfg, with_attributes=True)
    base.docs = base.docs.persist()
    base.postings = base.postings.persist()
    base.attrs = base.attrs.persist()
    cdc = generate_cdc_batch(spark, src, seed=3).persist()
    new = apply_cdc(base, cdc)
    assert new.attrs is not None
    final_src = new.docs.select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts", "doc_id"
    )
    fresh = build_index(final_src, cfg, doc_id_col="doc_id", with_attributes=True)
    a = _postings_pdf(new.attrs)
    b = _postings_pdf(fresh.attrs)
    assert len(a) == len(b) and len(a) > 0
    for col in a.columns:
        assert a[col].tolist() == b[col].tolist(), f"attrs column {col} differs"
    # and the attribute criterion still answers rank-identically
    from meilibridge_spark.operators.search import search

    got = [
        (r["doc_id"], r["best_attr"])
        for r in search(new, "baba cedi", 10, attribute_rank=True).collect()
    ]
    want = [
        (r["doc_id"], r["best_attr"])
        for r in search(fresh, "baba cedi", 10, attribute_rank=True).collect()
    ]
    assert got == want


def test_delete_by_filter_equals_fresh_rebuild(spark):
    """Delete-by-filter (Meilisearch POST /documents/delete with a
    filter) == fresh rebuild of the surviving corpus, byte-identical
    postings; unknown filterable attribute errors loudly."""
    import datetime as dt

    from meilibridge_spark.plans.incremental import delete_by_filter

    cfg = IndexConfig(index_name="delf", filterable_attributes=("role",))
    src = generate_transcripts(spark, n_convs=10, seed=5).persist()
    base = build_index(src, cfg)
    base.docs = base.docs.persist()
    base.postings = base.postings.persist()
    ts = dt.datetime(2026, 1, 1)
    new = delete_by_filter(base, "role = 'tool'", ts)
    assert new.docs.filter(F.col("role") == "tool").count() == 0
    survivors = src.filter(F.col("role") != "tool")
    fresh = build_index(survivors, cfg)
    # doc_ids differ (deletes leave gaps) so compare the DOC-KEYED
    # search surface: same corpus stats and same per-key hit ranking
    assert new.n_docs == fresh.n_docs
    assert new.n_docs == survivors.count()
    assert new.avgdl == pytest.approx(fresh.avgdl)
    key_of = {
        r["doc_id"]: (r["conv_id"], r["turn_idx"])
        for r in new.docs.select("doc_id", "conv_id", "turn_idx").collect()
    }
    fkey_of = {
        r["doc_id"]: (r["conv_id"], r["turn_idx"])
        for r in fresh.docs.select("doc_id", "conv_id", "turn_idx").collect()
    }
    for q in ("baba cedi", "user", "zzz"):
        got = [
            (key_of[r["doc_id"]], round(r["score"], 9))
            for r in search(new, q, 10).collect()
        ]
        want = [
            (fkey_of[r["doc_id"]], round(r["score"], 9))
            for r in search(fresh, q, 10).collect()
        ]
        assert got == want, q
    with pytest.raises(Exception, match="filterable"):
        delete_by_filter(base, "nosuch = 'x'", ts)


def test_alias_swap_zero_downtime_reindex(spark, tmp_path):
    """swap-indexes analog: build v1 live + v2 scratch, swap atomically,
    loads through the alias flip; unset alias errors loudly."""
    from meilibridge_spark.sources.tables import (
        load_aliased,
        resolve_alias,
        set_alias,
        swap_aliases,
    )

    aliases = str(tmp_path / "aliases.json")
    d1, d2 = str(tmp_path / "idx_v1"), str(tmp_path / "idx_v2")
    src = generate_transcripts(spark, n_convs=5, seed=3)
    build_and_save(spark, src, CFG, d1)
    build_and_save(spark, src.filter(F.col("role") != "tool"), CFG, d2)
    set_alias(aliases, "live", d1)
    set_alias(aliases, "scratch", d2)
    n_live = load_aliased(spark, aliases, "live", CFG).n_docs
    n_scr = load_aliased(spark, aliases, "scratch", CFG).n_docs
    assert n_live > n_scr
    swap_aliases(aliases, "live", "scratch")
    assert resolve_alias(aliases, "live") == d2
    assert load_aliased(spark, aliases, "live", CFG).n_docs == n_scr
    with pytest.raises(KeyError, match="nope"):
        swap_aliases(aliases, "live", "nope")
    with pytest.raises(KeyError, match="ghost"):
        resolve_alias(aliases, "ghost")


def test_compaction_after_cdc_chain(spark, tmp_index_dir):
    """Round-4 OPTIMIZE analog: N CDC merges each commit a snapshot of
    >= 4 small files; compact_snapshot rewrites the current snapshot
    sized from actual bytes — fewer files, byte-identical postings to a
    fresh rebuild of the final state, metrics recorded."""
    from meilibridge_spark.sources.tables import (
        compact_snapshot,
        load_snapshot,
        save_snapshot,
        snapshot_log,
    )

    src = generate_transcripts(spark, n_convs=10, seed=5).persist()
    cur = build_and_save(spark, src, CFG, tmp_index_dir)
    for seed in (7, 11):
        cdc = generate_cdc_batch(spark, src, seed=seed)
        cur = apply_cdc(cur, cdc)
        save_snapshot(cur, tmp_index_dir, parent_id=cur.snapshot_id)
    new_id = compact_snapshot(spark, tmp_index_dir, CFG)
    compacted = load_snapshot(spark, tmp_index_dir, CFG)
    assert compacted.snapshot_id == new_id
    # byte-identical postings vs a fresh rebuild of the final docs
    final_src = compacted.docs.select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts", "doc_id"
    )
    fresh = build_index(final_src, CFG, doc_id_col="doc_id")
    a = _postings_pdf(compacted.postings)
    b = _postings_pdf(fresh.postings)
    assert len(a) == len(b) and len(a) > 0
    for col in a.columns:
        assert a[col].tolist() == b[col].tolist(), col
    # file count reduced and recorded in the manifest metrics
    comp = next(
        s for s in snapshot_log(tmp_index_dir) if s["snapshot_id"] == new_id
    )["metrics"]["compaction"]
    assert comp["after"]["postings"]["files"] < comp["before"]["postings"]["files"]
    assert comp["after"]["postings"]["files"] == 1  # tiny corpus -> 1 file
    assert comp["before"]["postings"]["bytes"] > 0
    # queries still serve off the compacted snapshot
    assert search(compacted, "baba", 5).count() > 0


def test_delta_snapshot_chain_equals_full(spark, tmp_index_dir):
    """Round-4 merge-on-read: two CDC batches committed as DELTA
    snapshots (O(touched) writes) load back byte-identical to the full
    in-memory merge — postings, docs, terms — and each delta entry's
    stored bytes are a fraction of the base snapshot's."""
    from meilibridge_spark.sources.tables import (
        load_snapshot,
        save_snapshot_delta,
        snapshot_log,
    )

    src = generate_transcripts(spark, n_convs=60, seed=5).persist()
    cur = build_and_save(spark, src, CFG, tmp_index_dir)
    for seed in (7, 11):
        cdc = generate_cdc_batch(spark, src, seed=seed)
        cur = apply_cdc(cur, cdc)
        assert cur.delta is not None
        save_snapshot_delta(cur, tmp_index_dir)
    log = snapshot_log(tmp_index_dir)
    assert [s.get("delta", False) for s in log] == [False, True, True]
    assert log[-1]["metrics"]["delta_levels"] == 2
    # O(touched) writes: the delta stores only the upserted doc rows
    # and exactly the affected terms' re-encoded blocks — a fraction of
    # the vocabulary (hot terms make the BYTES a bigger fraction at toy
    # scale, so rows are the honest measure)
    import os as _os

    tip = log[-1]["tables"]

    def _rd(rel):
        return spark.read.parquet(_os.path.join(tmp_index_dir, rel))

    assert _rd(tip["docs_delta"]).count() <= 40  # <= CDC batch size
    aff = _rd(tip["affected_terms"])
    # 40 touched docs cover most of the tiny Zipf vocab (500 terms) —
    # at real vocab scale the ratio is tiny; assert the structural
    # property (strict subset) plus the exact block identity below
    assert aff.count() < cur.terms.count()
    assert (
        _rd(tip["postings_delta"]).count()
        == cur.postings.join(aff, "term", "left_semi").count()
    )

    loaded = load_snapshot(spark, tmp_index_dir, CFG)
    assert loaded.snapshot_id == 3
    a = _postings_pdf(loaded.postings)
    b = _postings_pdf(cur.postings)
    assert len(a) == len(b) > 0
    for col in a.columns:
        assert a[col].tolist() == b[col].tolist(), f"postings {col}"
    ta = loaded.terms.toPandas().sort_values("term").reset_index(drop=True)
    tb = cur.terms.toPandas().sort_values("term").reset_index(drop=True)
    assert ta.equals(tb)
    da = loaded.docs.drop("terms").toPandas().sort_values("doc_id").reset_index(drop=True)
    db = cur.docs.select(da.columns.tolist()).toPandas().sort_values("doc_id").reset_index(drop=True)
    assert da.equals(db)
    assert loaded.n_docs == cur.n_docs
    assert loaded.avgdl == pytest.approx(cur.avgdl, rel=1e-12)
    # queries serve off the folded chain
    assert search(loaded, "baba", 5).count() > 0


def test_delta_chain_optional_tables_and_compact(spark, tmp_index_dir):
    """Positions, attrs and the typo table fold through delta commits
    too; compact_snapshot collapses the chain into a full snapshot,
    byte-identical, recording the levels collapsed; expire keeps the
    ancestor closure of a live delta."""
    import dataclasses

    from meilibridge_spark.sources.tables import (
        compact_snapshot,
        expire_snapshots,
        load_snapshot,
        save_snapshot_delta,
        snapshot_log,
    )

    cfg = dataclasses.replace(CFG, filterable_attributes=("role",))
    src = generate_transcripts(spark, n_convs=10, seed=9).persist()
    cur = build_and_save(
        spark, src, cfg, tmp_index_dir,
        with_positions=True, with_attributes=True, with_typos=True,
    )
    cdc = generate_cdc_batch(spark, src, seed=13)
    cur = apply_cdc(cur, cdc)
    save_snapshot_delta(cur, tmp_index_dir)

    # expire with keep_last=1 must keep the base (ancestor closure)
    assert expire_snapshots(tmp_index_dir, keep_last=1) == []
    loaded = load_snapshot(spark, tmp_index_dir, cfg)
    for tbl in ("positions", "attrs", "typos"):
        got = getattr(loaded, tbl)
        want = getattr(cur, tbl)
        assert got is not None
        assert got.exceptAll(want.select(got.columns)).count() == 0
        assert want.select(got.columns).exceptAll(got).count() == 0

    new_id = compact_snapshot(spark, tmp_index_dir, cfg)
    log = snapshot_log(tmp_index_dir)
    comp = next(s for s in log if s["snapshot_id"] == new_id)
    assert not comp.get("delta", False)
    assert comp["metrics"]["compaction"]["delta_levels_collapsed"] == 1
    compacted = load_snapshot(spark, tmp_index_dir, cfg)
    a = _postings_pdf(compacted.postings)
    b = _postings_pdf(cur.postings)
    assert len(a) == len(b) > 0
    for col in a.columns:
        assert a[col].tolist() == b[col].tolist(), f"postings {col}"
    # with the chain collapsed, the ancestors can expire
    expired = expire_snapshots(tmp_index_dir, keep_last=1)
    assert sorted(expired) == [1, 2]
    assert search(load_snapshot(spark, tmp_index_dir, cfg), "baba", 5).count() > 0


def test_streaming_delta_commits(spark, tmp_index_dir, tmp_path):
    """start_cdc_sync(delta_commits=True): each micro-batch commits a
    delta entry; the folded tip equals what full commits produce."""
    from meilibridge_spark.sources.tables import load_snapshot, snapshot_log
    from meilibridge_spark.streaming.cdc_stream import start_cdc_sync

    src = generate_transcripts(spark, n_convs=8, seed=21).persist()
    build_and_save(spark, src, CFG, tmp_index_dir)
    cdc = generate_cdc_batch(spark, src, seed=23)
    cdc_dir = str(tmp_path / "cdc")
    cdc.write.mode("overwrite").parquet(cdc_dir)
    q = start_cdc_sync(
        spark,
        cdc_path=cdc_dir,
        index_dir=tmp_index_dir,
        cfg=CFG,
        checkpoint_dir=str(tmp_path / "ckpt"),
        delta_commits=True,
    )
    q.awaitTermination(120)
    log = snapshot_log(tmp_index_dir)
    assert log[-1]["delta"] is True
    loaded = load_snapshot(spark, tmp_index_dir, CFG)
    base = load_snapshot(spark, tmp_index_dir, CFG, snapshot_id=1)
    want = apply_cdc(base, spark.read.parquet(cdc_dir))
    a = _postings_pdf(loaded.postings)
    b = _postings_pdf(want.postings)
    assert len(a) == len(b) > 0
    for col in a.columns:
        assert a[col].tolist() == b[col].tolist(), f"postings {col}"


def test_delta_commit_refuses_stale_base(spark, tmp_index_dir):
    """A delta's DataFrames read the parquet of the snapshot it was
    computed against; attaching it to a parent committed in between
    (second stream / manual save) would silently half-overwrite that
    parent's changes at fold time. save_snapshot_delta must refuse."""
    from meilibridge_spark.sources.tables import save_snapshot_delta

    src = generate_transcripts(spark, n_convs=15, seed=21).persist()
    cur = build_and_save(spark, src, CFG, tmp_index_dir)  # snap 1
    d1 = apply_cdc(cur, generate_cdc_batch(spark, src, seed=3))
    d2 = apply_cdc(cur, generate_cdc_batch(spark, src, seed=5))
    assert d1.delta["_base_snapshot_id"] == cur.snapshot_id
    save_snapshot_delta(d1, tmp_index_dir)  # current -> 2
    with pytest.raises(ValueError, match="concurrent commit"):
        save_snapshot_delta(d2, tmp_index_dir)


def test_edit_documents_equals_fresh_rebuild(spark):
    """Edit-documents-by-function (Meilisearch POST /documents/edit,
    v1.10): SQL-expression edits over the filtered docs MERGE through
    the CDC path and land byte-identical to a fresh build of the
    edited corpus; non-updatable fields and empty edits error loudly."""
    import datetime as dt

    from meilibridge_spark.plans.incremental import edit_documents

    cfg = IndexConfig(index_name="editf", filterable_attributes=("role",))
    src = generate_transcripts(spark, n_convs=10, seed=6).persist()
    base = build_index(src, cfg)
    base.docs = base.docs.persist()
    base.postings = base.postings.persist()
    ts = dt.datetime(2026, 1, 2)
    new = edit_documents(
        base,
        {"text": "upper(text)", "role": "'editor'"},
        ts,
        filter_expr="role = 'user'",
    )
    # the edited rows carry the computed values, untouched rows don't
    edited_src = src.select(
        "conv_id",
        "turn_idx",
        F.when(F.col("role") == "user", F.lit("editor"))
        .otherwise(F.col("role"))
        .alias("role"),
        F.when(F.col("role") == "user", F.upper("text"))
        .otherwise(F.col("text"))
        .alias("text"),
        "tool",
    )
    diff = (
        new.docs.alias("n")
        .join(edited_src.alias("e"), ["conv_id", "turn_idx"])
        .filter(
            (F.col("n.text") != F.col("e.text"))
            | (F.col("n.role") != F.col("e.role"))
        )
        .count()
    )
    assert diff == 0
    assert new.n_docs == base.n_docs  # updates never change the key set
    # postings byte-identical to a fresh build of the final doc state
    final_src = new.docs.select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts", "doc_id"
    )
    fresh = build_index(final_src, cfg, doc_id_col="doc_id")
    a = _postings_pdf(new.postings)
    b = _postings_pdf(fresh.postings)
    assert len(a) == len(b) > 0
    for col in a.columns:
        assert a[col].tolist() == b[col].tolist(), f"postings {col}"
    with pytest.raises(ValueError, match="non-updatable"):
        edit_documents(base, {"ts": "ts"}, ts)
    with pytest.raises(ValueError, match="at least one edit"):
        edit_documents(base, {}, ts)


def test_edit_documents_no_filter_touches_all(spark):
    """filter_expr=None edits every document (Meilisearch semantics:
    the filter is optional; the function applies corpus-wide)."""
    import datetime as dt

    from meilibridge_spark.plans.incremental import edit_documents

    cfg = IndexConfig(index_name="editall")
    src = generate_transcripts(spark, n_convs=5, seed=8).persist()
    base = build_index(src, cfg)
    new = edit_documents(
        base, {"text": "concat(text, ' zzmarker')"}, dt.datetime(2026, 1, 3)
    )
    n = new.docs.count()
    assert new.docs.filter(F.col("text").endswith(" zzmarker")).count() == n
    # the appended term is now searchable on every doc
    assert search(new, "zzmarker", n + 5).count() == n
