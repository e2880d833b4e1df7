"""Index build orchestration (SURVEY.md §3.1 Spark shape).

The reference's bulk lifecycle (S19: per-collection workers paging 100
docs at a time into Meilisearch with a WaitForTask barrier per batch)
becomes ONE declarative Spark job:

  read source -> project (S7) -> dense docIDs -> tokenize (scalar
  pandas UDF) -> per-Arrow-batch (term, shard) partial runs
  (mapInPandas) -> repartition + sort by (term, shard) -> batched block
  encode, one vectorized pass per Arrow batch (mapInPandas,
  operators/postings.py) -> write snapshot tables + manifest commit.

Resumability (north_star): the build is staged through on-disk staging
dirs with _SUCCESS markers; re-running after a kill skips completed
stages. All stages are deterministic functions of the source, so a
resumed build produces byte-identical postings (tested).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession

from meilibridge_spark.config import IndexConfig
from meilibridge_spark.operators.docs import assemble_docs, corpus_stats
from meilibridge_spark.operators.postings import build_postings, term_stats
from meilibridge_spark.sources.tables import (
    InvertedIndex,
    delete_index,
    index_exists,
    save_snapshot,
)


def build_index(
    source: DataFrame,
    cfg: IndexConfig,
    doc_id_col: "str | None" = None,
    with_attributes: bool = False,
    with_typos: bool = False,
) -> InvertedIndex:
    """In-memory build (no persistence): source rows -> InvertedIndex.

    Only the slim (doc_id, terms, dl) projection is cached: the build
    consumes docs twice (corpus stats + postings), but caching the full
    row (source text columns included) is pure memory-bandwidth waste —
    at 100 TB the text dwarfs the term arrays. The full docs DataFrame
    stays lazy; rarely-used paths (display, facets) recompute it.

    ``with_attributes``: also build the attribute-rank blocks for the
    Q11 'attribute' ranking criterion (operators/attrs.py).
    """
    docs = assemble_docs(source, cfg, doc_id_col=doc_id_col)
    slim = docs.select("doc_id", "terms", "dl").persist()
    n_docs, avgdl = corpus_stats(slim)
    postings = build_postings(slim, cfg)
    terms = term_stats(postings)
    attrs = None
    if with_attributes:
        from meilibridge_spark.operators.attrs import build_attr_postings

        attrs = build_attr_postings(docs, cfg)
    typos = None
    if with_typos:
        from meilibridge_spark.operators.search import build_typo_table

        typos = build_typo_table(terms)
    return InvertedIndex(
        cfg=cfg, docs=docs, postings=postings, terms=terms,
        n_docs=n_docs, avgdl=avgdl, attrs=attrs, typos=typos,
    )


def _success(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def build_and_save(
    spark: SparkSession,
    source: DataFrame,
    cfg: IndexConfig,
    index_dir: str,
    doc_id_col: "str | None" = None,
    recreate: bool = True,
    max_ts: "str | None" = None,
    with_positions: bool = False,
    with_attributes: bool = False,
    with_typos: bool = False,
) -> InvertedIndex:
    """Full build with staged, resumable persistence.

    ``recreate=True`` mirrors the reference's recreateIndex
    (delete-if-exists then create, pkg/bridge/helper.go:43-67); with
    ``recreate=False`` an existing current snapshot is required
    (--continue semantics, pkg/bridge/mongo.go:362-366) and the build
    resumes from whatever staging completed.
    """
    staging = os.path.join(index_dir, "_staging")
    docs_path = os.path.join(staging, "docs")
    postings_path = os.path.join(staging, "postings")
    t0 = time.time()

    if recreate and not _success(docs_path):
        # fresh build: clear snapshots AND staging
        delete_index(index_dir)
    elif not recreate and not index_exists(index_dir) and not os.path.isdir(staging):
        raise FileNotFoundError(
            f"--continue requested but no index/staging at {index_dir}"
        )

    # stage 1: docs table (doc_id, source cols, terms, dl)
    if not _success(docs_path):
        docs = assemble_docs(source, cfg, doc_id_col=doc_id_col)
        docs.write.mode("overwrite").parquet(docs_path)
    docs = spark.read.parquet(docs_path)
    n_docs, avgdl = corpus_stats(docs)

    # stage 2: postings blocks
    if not _success(postings_path):
        postings = build_postings(docs, cfg)
        postings.write.mode("overwrite").parquet(postings_path)
    postings = spark.read.parquet(postings_path)

    # stage 3: terms + snapshot commit (+ optional positional postings
    # for phrase search — derived from the staged docs, same analyzer)
    terms = term_stats(postings)
    positions = None
    if with_positions:
        from meilibridge_spark.operators.positions import build_positions

        positions = build_positions(docs, cfg)
    attrs = None
    if with_attributes:
        from meilibridge_spark.operators.attrs import build_attr_postings

        attrs = build_attr_postings(docs, cfg)
    typos = None
    if with_typos:
        from meilibridge_spark.operators.search import build_typo_table

        # stored SymSpell deletion neighborhood of the full vocabulary:
        # typo serving then needs zero session-side neighborhood builds
        typos = build_typo_table(terms)
    index = InvertedIndex(
        cfg=cfg, docs=docs, postings=postings, terms=terms,
        n_docs=n_docs, avgdl=avgdl, positions=positions, attrs=attrs,
        typos=typos,
    )
    # journal the commit as a /tasks-shaped record (sources/tasks.py).
    # Deviation recorded: recreate=True wipes index_dir (journal
    # included) — the journal is per index LIFETIME, not per instance.
    from meilibridge_spark.sources.tasks import task_scope

    with task_scope(
        index_dir,
        "documentAdditionOrUpdate",
        index_uid=cfg.normalized_name(),
    ) as task:
        save_snapshot(
            index,
            index_dir,
            parent_id=None,
            extra_metrics={"build_seconds": round(time.time() - t0, 3)},
            max_ts=max_ts,
        )
        task["details"] = {
            "receivedDocuments": n_docs,
            "indexedDocuments": n_docs,
            "snapshotId": index.snapshot_id,
        }
    # staging kept until next build for cheap resume; a fresh recreate clears it
    return index
