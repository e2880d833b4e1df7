"""Incremental index maintenance — exact MERGE of CDC batches
(SURVEY.md S9-S15 Spark shape, §3.2).

The reference handles each change event with a point HTTP upsert into
Meilisearch; our engine owns the index, so a CDC batch becomes an exact
incremental MERGE:

  1. fold events -> final row-state per touched key (sources/cdc.py)
  2. docs MERGE (emulated: anti-join + union — no Delta in sandbox)
     - existing keys keep their doc_id (stable identity, Q17)
     - new keys get doc_ids max_id+1.. in (conv_id, turn_idx) order
  3. affected terms = union(old text terms, new text terms) of touched
     docs; every OTHER term's postings pass through untouched
  4. per affected term, a cogrouped pandas merge: decode old blocks,
     drop all touched doc_ids, insert the new (doc_id, tf, dl) entries,
     re-encode. Encoding is content-deterministic, so the result is
     byte-identical to a fresh build of the final state with the same
     doc_id assignment (tested).
  5. term dictionary + corpus stats (N, avgdl) recomputed exactly
  6. optional positions table: touched docs' rows dropped and re-derived
     (phrase search stays consistent through CDC)

Cost ∝ |touched docs| + |postings of affected terms| — not corpus size.
Re-applying the same batch is a no-op (idempotent retry, S14).
"""

from __future__ import annotations

import pandas as pd
import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from meilibridge_spark.config import IndexConfig
from meilibridge_spark.functions.codec import decode_blocks, encode_blocks
from meilibridge_spark.operators.docs import assign_doc_ids, make_term_freq_udf
from meilibridge_spark.operators.postings import (
    POSTING_COLUMNS,
    POSTINGS_SCHEMA,
    term_stats,
)
from meilibridge_spark.sources.cdc import fold_events
from meilibridge_spark.sources.tables import InvertedIndex


def _make_merger(block_size: int, shard_range: int):
    def merge(key, old_pdf: pd.DataFrame, delta_pdf: pd.DataFrame) -> pd.DataFrame:
        term = key[0]
        # decode surviving old entries
        if old_pdf.empty:
            d = t = l = np.empty(0, dtype=np.int64)
        else:
            old = old_pdf.sort_values("block_id")
            d, t, l, _ = decode_blocks(
                old["first_doc"], old["docs_bin"], old["tfs_bin"], old["dls_bin"]
            )
        touched = delta_pdf["doc_id"].to_numpy(dtype=np.int64)
        keep = ~np.isin(d, touched)
        d, t, l = d[keep], t[keep], l[keep]
        adds = delta_pdf[delta_pdf["is_add"]]
        if not adds.empty:
            d = np.concatenate([d, adds["doc_id"].to_numpy(dtype=np.int64)])
            t = np.concatenate([t, adds["tf"].to_numpy(dtype=np.int64)])
            l = np.concatenate([l, adds["dl"].to_numpy(dtype=np.int64)])
            order = np.argsort(d, kind="stable")
            d, t, l = d[order], t[order], l[order]
        if d.size == 0:
            return pd.DataFrame(columns=POSTING_COLUMNS)
        out = pd.DataFrame(encode_blocks(d, t, l, block_size, shard_range))
        out.insert(0, "term", term)
        return out[POSTING_COLUMNS]

    return merge


def apply_cdc(
    index: InvertedIndex,
    cdc: DataFrame,
    cfg: "IndexConfig | None" = None,
    vectors_cdc: "DataFrame | None" = None,
) -> InvertedIndex:
    """MERGE a CDC batch into the index -> new in-memory InvertedIndex
    (persist/save via sources.tables.save_snapshot).

    When the index carries a stored IVF vector layout
    (``index.vectors``), the batch maintains it too
    (operators/similarity.apply_cdc_vector_index): DELETED documents'
    vectors always leave the assignment (no ghost semantic hits), and
    ``vectors_cdc`` (optional ``id_col`` + ``vec_col`` rows — the
    ``_vectors`` document-field analog, supplied separately because
    the reference's CDC payloads don't carry embeddings) upserts
    replacement vectors assigned to the nearest STORED centroid with
    zero training jobs. Documented deviation: a document UPDATE
    without a matching ``vectors_cdc`` row keeps its old vector (the
    meilibridge model — vectors come from a pipeline, not the doc
    payload — where a Meilisearch document REPLACE would drop them).
    """
    cfg = cfg or index.cfg
    spark = cdc.sparkSession
    docs = index.docs
    tf_udf = make_term_freq_udf(cfg.analyzer)

    folded = fold_events(cdc, docs).persist()
    keys = folded.select("conv_id", "turn_idx")

    # --- doc_id assignment: keep existing, append new
    # (old rows carry every searchable attribute so the attr-rank table
    # can derive its removal delta below)
    old_cols = ["conv_id", "turn_idx", "doc_id"] + [
        a for a in dict.fromkeys(("text", *cfg.searchable_attributes))
    ]
    existing = docs.join(keys, ["conv_id", "turn_idx"], "inner").select(
        *old_cols
    ).persist()
    live = folded.filter(~F.col("deleted"))
    new_keys = live.join(
        existing.select("conv_id", "turn_idx"), ["conv_id", "turn_idx"], "left_anti"
    )
    max_id = docs.agg(F.max("doc_id")).collect()[0][0]
    base = (int(max_id) + 1) if max_id is not None else 0
    new_with_ids = assign_doc_ids(
        new_keys, ("conv_id", "turn_idx")
    ).withColumn("doc_id", F.col("doc_id") + F.lit(base))

    upserts = (
        live.join(
            existing.select("conv_id", "turn_idx", "doc_id"),
            ["conv_id", "turn_idx"],
            "left",
        )
        .join(
            new_with_ids.select(
                "conv_id", "turn_idx", F.col("doc_id").alias("_new_id")
            ),
            ["conv_id", "turn_idx"],
            "left",
        )
        .withColumn("doc_id", F.coalesce("doc_id", "_new_id"))
        .drop("_new_id", "deleted")
    )
    upserts = (
        upserts.withColumn("terms", tf_udf(F.coalesce(F.col("text"), F.lit(""))))
        .withColumn(
            "dl",
            F.coalesce(
                F.aggregate(F.col("terms.tfs"), F.lit(0), lambda a, x: a + x),
                F.lit(0),
            ),
        )
        .persist()
    )

    # --- delta rows: removals (old text of touched docs) + additions
    old_terms = (
        existing.withColumn("terms", tf_udf(F.coalesce(F.col("text"), F.lit(""))))
        .select("doc_id", F.explode("terms.terms").alias("term"))
        .select(
            "term",
            "doc_id",
            F.lit(0).alias("tf"),
            F.lit(0).alias("dl"),
            F.lit(False).alias("is_add"),
        )
    )
    add_terms = upserts.select(
        "doc_id",
        "dl",
        F.explode(
            F.arrays_zip(
                F.col("terms.terms").alias("term"), F.col("terms.tfs").alias("tf")
            )
        ).alias("_t"),
    ).select(
        F.col("_t.term").alias("term"),
        "doc_id",
        F.col("_t.tf").alias("tf"),
        "dl",
        F.lit(True).alias("is_add"),
    )
    delta = old_terms.unionByName(add_terms).persist()
    affected = delta.select("term").distinct()

    # --- postings MERGE (affected terms only; others pass through)
    old_affected = index.postings.join(affected, "term", "left_semi")
    untouched = index.postings.join(affected, "term", "left_anti")
    merged = (
        old_affected.groupBy("term")
        .cogroup(delta.groupBy("term"))
        .applyInPandas(
            _make_merger(cfg.block_size, cfg.shard_range), schema=POSTINGS_SCHEMA
        )
    )
    postings_new = untouched.unionByName(merged)

    # --- docs MERGE
    src_cols = [c for c in docs.columns if c not in ("terms",)]
    docs_new = docs.join(keys, ["conv_id", "turn_idx"], "left_anti").select(
        src_cols
    ).unionByName(upserts.select(src_cols))
    docs_new = docs_new.persist()

    # --- positions MERGE (only when the snapshot carries a positions
    # table): positions are keyed by doc_id, so drop every touched
    # doc's rows and re-derive rows for the upserted docs — deleted
    # docs simply aren't re-added. Cost ∝ touched docs.
    positions_new = None
    if index.positions is not None:
        from meilibridge_spark.operators.positions import build_positions

        touched_ids = (
            existing.select("doc_id")
            .union(upserts.select("doc_id"))
            .distinct()
        )
        kept = index.positions.join(touched_ids, "doc_id", "left_anti")
        new_pos = build_positions(upserts, cfg)
        positions_new = kept.unionByName(new_pos)

    # --- attribute-rank blocks MERGE (only when the snapshot carries
    # them): same cogrouped merger as the postings — the attrs table IS
    # a postings table with tf = attribute bitmask (operators/attrs.py)
    # — with the delta derived from per-attribute tokenization of the
    # old and new rows. Byte-identical to a fresh attr build (tested).
    attrs_new = None
    if index.attrs is not None:
        from meilibridge_spark.operators.attrs import make_attr_rank_udf

        a_udf = make_attr_rank_udf(cfg.analyzer, len(cfg.searchable_attributes))

        def _attr_inputs(df):
            return [
                F.coalesce(F.col(a).cast("string"), F.lit(""))
                for a in cfg.searchable_attributes
            ]

        old_attr = (
            existing.withColumn("_at", a_udf(*_attr_inputs(existing)))
            .select("doc_id", F.explode("_at.terms").alias("term"))
            .select(
                "term",
                "doc_id",
                F.lit(0).alias("tf"),
                F.lit(0).alias("dl"),
                F.lit(False).alias("is_add"),
            )
        )
        add_attr = (
            upserts.withColumn("_at", a_udf(*_attr_inputs(upserts)))
            .select(
                "doc_id",
                F.explode(
                    F.arrays_zip(
                        F.col("_at.terms").alias("term"),
                        F.col("_at.tfs").alias("tf"),
                    )
                ).alias("_z"),
            )
            .select(
                F.col("_z.term").alias("term"),
                "doc_id",
                F.col("_z.tf").alias("tf"),
                F.lit(0).alias("dl"),
                F.lit(True).alias("is_add"),
            )
        )
        delta_a = old_attr.unionByName(add_attr).persist()
        affected_a = delta_a.select("term").distinct()
        merged_a = (
            index.attrs.join(affected_a, "term", "left_semi")
            .groupBy("term")
            .cogroup(delta_a.groupBy("term"))
            .applyInPandas(
                _make_merger(cfg.block_size, cfg.shard_range),
                schema=POSTINGS_SCHEMA,
            )
        )
        attrs_new = index.attrs.join(affected_a, "term", "left_anti").unionByName(
            merged_a
        )

    # --- exact stats refresh
    row = docs_new.agg(F.count("*").alias("n"), F.avg("dl").alias("avgdl")).collect()[0]
    n_docs, avgdl = int(row["n"]), float(row["avgdl"] or 0.0)
    terms_delta = term_stats(merged)
    terms_new = index.terms.join(affected, "term", "left_anti").unionByName(
        terms_delta
    )

    # --- typo deletion-neighborhood MERGE (only when the snapshot
    # stores one): the table is a pure function of the VOCABULARY, so
    # drop every affected term's neighborhood rows and re-expand the
    # affected terms that survive in the new dictionary — vanished
    # vocabulary stops producing typo candidates, new vocabulary starts.
    # Cost ∝ |affected terms|, not vocabulary size.
    typos_new = None
    if index.typos is not None:
        from meilibridge_spark.operators.search import build_typo_table

        kept_nbr = index.typos.join(affected, "term", "left_anti").select(
            "delkey", "term"  # the join puts the key column first
        )
        surviving = terms_new.join(affected, "term", "left_semi")
        new_nbr = build_typo_table(surviving)
        typos_new = kept_nbr.unionByName(new_nbr)

    # --- stored IVF vector layout MERGE (only when the snapshot
    # carries one): deleted docs' vectors leave the assignment;
    # vectors_cdc rows replace/insert against the FIXED stored
    # centroids (one broadcast pass, no retraining). Cost ∝ touched
    # vectors.
    vectors_new = None
    vec_delta: "dict | None" = None
    if index.vectors is not None:
        from meilibridge_spark.operators.similarity import (
            apply_cdc_vector_index,
        )

        idc = index.vectors.id_col
        dead_ids = existing.join(
            live.select("conv_id", "turn_idx"),
            ["conv_id", "turn_idx"],
            "left_anti",
        ).select(F.col("doc_id").alias(idc))
        vcd = vectors_cdc
        if vcd is not None and idc not in vcd.columns:
            # primary-key-shaped vector payloads (the `_vectors`
            # document-field analog rides the same keys as the CDC
            # events): resolve to doc ids against the MERGED docs, so
            # both this batch's upserts and vector-only refreshes of
            # untouched docs work; vectors for deleted/unknown keys
            # drop here (inner join), matching document semantics
            vcd = (
                vcd.join(
                    docs_new.select("conv_id", "turn_idx", "doc_id"),
                    ["conv_id", "turn_idx"],
                )
                .drop("conv_id", "turn_idx")
                .withColumnRenamed("doc_id", idc)
            )
        vectors_new, vec_delta = apply_cdc_vector_index(
            index.vectors, deleted_ids=dead_ids, upserts=vcd
        )
    elif vectors_cdc is not None:
        raise ValueError(
            "vectors_cdc given but the index has no stored vector "
            "layout (build_vector_index + save_vector_index first)"
        )

    # --- delta components (what changed, keyed for merge-on-read):
    # save_snapshot_delta persists THESE instead of rewriting every
    # table — a micro-batch commit then costs O(touched docs +
    # affected-term postings), never corpus size. load_snapshot folds
    # delta entries back over their parent (anti-join on the keys,
    # union the delta rows) — byte-identical to the full save (tested).
    delta = {
        "affected_terms": affected,
        "postings": merged,
        "terms": terms_delta,
        "touched_keys": keys,
        "docs": upserts.select(src_cols),
        # the snapshot these delta frames were COMPUTED against: the
        # delta's parquet plans read that snapshot's files, so
        # save_snapshot_delta must refuse to attach it to any other
        # parent (a concurrent commit in between would otherwise be
        # silently half-overwritten at fold time)
        "_base_snapshot_id": index.snapshot_id,
    }
    if positions_new is not None:
        delta["touched_doc_ids"] = touched_ids
        delta["positions"] = new_pos
    if attrs_new is not None:
        delta["affected_attr_terms"] = affected_a
        delta["attrs"] = merged_a
    if typos_new is not None:
        delta["typos"] = new_nbr
    if vec_delta is not None:
        delta.update(vec_delta)
    return InvertedIndex(
        cfg=cfg,
        docs=docs_new,
        postings=postings_new,
        terms=terms_new,
        n_docs=n_docs,
        avgdl=avgdl,
        positions=positions_new,
        attrs=attrs_new,
        typos=typos_new,
        vectors=vectors_new,
        delta=delta,
    )


def delete_by_filter(
    index: "InvertedIndex",
    expr: str,
    ts,
    cfg: "IndexConfig | None" = None,
) -> "InvertedIndex":
    """Meilisearch ``POST /indexes/{uid}/documents/delete`` with a
    ``filter`` (delete-by-filter): resolve a Meilisearch filter
    expression over the index's filterable attributes to the matching
    documents and MERGE their tombstones through the same incremental
    path a CDC delete batch takes (S9-S12 semantics, so the result is
    byte-identical to rebuilding from the surviving corpus — tested).

    ``ts``: event timestamp for the generated tombstones (explicit so
    replays are deterministic; pass e.g. ``datetime.datetime.utcnow()``
    or the upstream batch watermark).

    Cost ∝ matching docs + affected-term postings: the filter resolves
    in ONE pushed-down scan of the docs table (functions/filters.py),
    keys ride a left-semi join, and apply_cdc touches only affected
    terms' blocks. Keyed on the transcripts primary key — like the
    whole CDC layer, this targets CDC-shaped (conv_id, turn_idx)
    indexes.
    """
    from meilibridge_spark.functions.filters import filter_doc_ids
    from meilibridge_spark.sources.cdc import CDC_SCHEMA

    ids = filter_doc_ids(index, expr)
    keys = index.docs.join(ids, "doc_id", "left_semi").select(
        "conv_id", "turn_idx"
    )
    f = {x.name: x.dataType for x in CDC_SCHEMA.fields}
    events = keys.select(
        F.lit("delete").alias("op"),
        "conv_id",
        "turn_idx",
        F.lit(None).cast(f["full_document"]).alias("full_document"),
        F.lit(None).cast(f["updated_fields"]).alias("updated_fields"),
        F.lit(None).cast(f["removed_fields"]).alias("removed_fields"),
        F.lit(ts).cast("timestamp").alias("ts"),
    )
    return apply_cdc(index, events, cfg)


def edit_documents(
    index: "InvertedIndex",
    edits: "dict[str, str]",
    ts,
    filter_expr: "str | None" = None,
    cfg: "IndexConfig | None" = None,
) -> "InvertedIndex":
    """Meilisearch ``POST /indexes/{uid}/documents/edit`` (v1.10
    edit-documents-by-function): apply ``edits`` to every document
    matching ``filter_expr`` (all documents when None) and MERGE the
    results through the incremental CDC path, so the outcome is
    byte-identical to rebuilding from an equivalently edited corpus.

    ``edits`` maps an updatable field (sources/cdc.UPDATABLE_FIELDS —
    the same surface a CDC partial update may touch, mirroring the
    reference's UpdateFields map, pkg/bridge/mongo.go:252-262) to a
    Spark SQL expression evaluated over the CURRENT document row —
    the Spark-native analog of Meilisearch's RHAI ``function`` with
    ``doc`` bound (e.g. ``{"text": "upper(text)"}``,
    ``{"role": "'assistant'"}``). Constants the expression needs play
    Meilisearch's ``context`` — inline them (expressions are strings,
    so f-string or ``lit``-style quoting both work).

    Cost ∝ matching docs + affected-term postings, exactly like
    :func:`delete_by_filter`: one pushed-down docs scan resolves the
    filter, the new field values are computed in the SAME scan (no
    second pass), and apply_cdc touches only affected terms' blocks.
    """
    from meilibridge_spark.functions.filters import filter_doc_ids
    from meilibridge_spark.sources.cdc import CDC_SCHEMA, UPDATABLE_FIELDS

    if not edits:
        raise ValueError("edit_documents needs at least one edit")
    bad = sorted(set(edits) - set(UPDATABLE_FIELDS))
    if bad:
        raise ValueError(
            f"non-updatable field(s) {bad}; CDC partial updates may "
            f"touch {sorted(UPDATABLE_FIELDS)}"
        )
    rows = index.docs
    if filter_expr is not None:
        ids = filter_doc_ids(index, filter_expr)
        rows = rows.join(ids, "doc_id", "left_semi")
    pairs = []
    for field, expr in sorted(edits.items()):
        pairs.append(F.lit(field))
        pairs.append(F.expr(expr).cast("string"))
    f = {x.name: x.dataType for x in CDC_SCHEMA.fields}
    events = rows.select(
        F.lit("update").alias("op"),
        "conv_id",
        "turn_idx",
        F.lit(None).cast(f["full_document"]).alias("full_document"),
        F.create_map(*pairs).alias("updated_fields"),
        F.lit(None).cast(f["removed_fields"]).alias("removed_fields"),
        F.lit(ts).cast("timestamp").alias("ts"),
    )
    return apply_cdc(index, events, cfg)
