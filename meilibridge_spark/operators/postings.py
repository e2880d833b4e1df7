"""Term-partitioned posting-list construction (SURVEY.md §2C, §7 stages 3-5).

Two-stage build with partition-local partial runs:

  stage 1 (mapInPandas, Arrow batch = the unit of locality): within
      each batch, flatten the per-doc (term, tf) arrays and group by
      (term, doc-shard) with one stable numpy argsort — emitting ONE
      compact row per (term, shard, batch): (term, shard, doc_ids[],
      tfs[], dls[]). A hot Zipf-head term's postings are built by every
      input partition in parallel instead of one straggler task.
  stage 2 (repartition(term, shard) + sortWithinPartitions +
      mapInPandas): each partition's rows arrive sorted by (term,
      shard), and each Arrow batch is encoded in ONE vectorized
      codec.encode_blocks_many pass — one lexsort over (run, doc_id),
      one varint encode per field — instead of one pandas call per
      (term, shard) group. A group can straddle two batches, so each
      batch's last group is carried into the next. The lexsort, not
      the input layout, puts a run in doc order: partial runs arrive in
      any batch order.

Compared to the textbook salted groupBy (shuffle every (term, doc_id,
tf, dl) tuple, then merge), the only wide exchange here moves ~(terms x
batches) compressed ARRAY rows — orders of magnitude fewer rows at any
scale, and skew-free by construction.

Encoding is content-deterministic: the same corpus yields byte-identical
postings regardless of partitioning or batching (resume/identity tests
rely on it).

Scale note (10^12 turns): stage 2 keys on (term, doc-shard), so a hot
term's postings spread over n_docs/shard_range groups — doc-range index
shards (Lucene-segment style: postings per (shard, term), queries merge
per-shard top-k exactly).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from meilibridge_spark.config import IndexConfig
from meilibridge_spark.functions.codec import BLOCK_FIELDS, encode_blocks_many
from meilibridge_spark.session import trim_importer_cache

POSTINGS_SCHEMA = (
    "term string, block_id long, n int, first_doc long, last_doc long, "
    "max_tf int, min_dl long, sum_tf long, "
    "docs_bin binary, tfs_bin binary, dls_bin binary"
)

POSTING_COLUMNS = ["term", *BLOCK_FIELDS]

PARTIAL_SCHEMA = (
    "term string, shard long, doc_ids array<long>, "
    "tfs array<long>, dls array<long>"
)


def explode_terms(docs: DataFrame) -> DataFrame:
    """docs(doc_id, terms struct<terms,tfs>, dl) ->
    (doc_id, term, tf, dl) rows — kept for operators that want the
    relational form; the posting build itself uses the compact
    partial-run path below."""
    return docs.select(
        "doc_id",
        "dl",
        F.explode(
            F.arrays_zip(
                F.col("terms.terms").alias("term"),
                F.col("terms.tfs").alias("tf"),
            )
        ).alias("_t"),
    ).select(
        "doc_id",
        F.col("_t.term").alias("term"),
        F.col("_t.tf").alias("tf"),
        "dl",
    )


def _make_partial_runs(shard_range: int):
    def run(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        trim_importer_cache()
        for pdf in batches:
            if pdf.empty:
                continue
            terms_col = pdf["terms_arr"]
            tfs_col = pdf["tfs_arr"]
            lens = np.fromiter(
                (len(x) for x in terms_col), dtype=np.int64, count=len(pdf)
            )
            total = int(lens.sum())
            if total == 0:
                continue
            doc_ids = np.repeat(pdf["doc_id"].to_numpy(dtype=np.int64), lens)
            dls = np.repeat(pdf["dl"].to_numpy(dtype=np.int64), lens)
            flat_terms = np.concatenate(
                [np.asarray(x, dtype=object) for x in terms_col]
            )
            flat_tfs = np.concatenate(
                [np.asarray(x, dtype=np.int64) for x in tfs_col]
            )
            shards = doc_ids // shard_range
            # one stable sort groups by (term, shard), keeping the
            # batch's doc order within each group
            codes, uniq_terms = pd.factorize(flat_terms, sort=True)
            key = codes.astype(np.int64) * (shards.max() + 1) + shards
            order = np.argsort(key, kind="stable")
            sk = key[order]
            sd, stf, sdl = doc_ids[order], flat_tfs[order], dls[order]
            starts = np.unique(sk, return_index=True)[1]
            bounds = np.append(starts, sk.size)
            yield pd.DataFrame(
                {
                    "term": uniq_terms[
                        (sk[starts] // (shards.max() + 1)).astype(np.int64)
                    ],
                    "shard": sk[starts] % (shards.max() + 1),
                    "doc_ids": [
                        sd[bounds[i] : bounds[i + 1]] for i in range(starts.size)
                    ],
                    "tfs": [
                        stf[bounds[i] : bounds[i + 1]] for i in range(starts.size)
                    ],
                    "dls": [
                        sdl[bounds[i] : bounds[i + 1]] for i in range(starts.size)
                    ],
                }
            )

    return run


def encode_runs(
    run_terms: np.ndarray,
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    run_id: np.ndarray,
    block_size: int,
    shard_range: int,
) -> pd.DataFrame:
    """Posting runs -> postings rows (POSTING_COLUMNS) in one
    encode_blocks_many pass; entry i belongs to run ``run_id[i]``, whose
    term is ``run_terms[run_id[i]]``."""
    cols = encode_blocks_many(
        doc_ids, tfs, dls, run_id, block_size, shard_range
    )
    cols["term"] = np.asarray(run_terms, dtype=object)[cols.pop("run")]
    return pd.DataFrame(cols, columns=POSTING_COLUMNS)


def _make_batch_encoder(block_size: int, shard_range: int):
    def encode(pdf: pd.DataFrame) -> pd.DataFrame:
        term = pdf["term"].to_numpy()
        shard = pdf["shard"].to_numpy()
        new_run = np.ones(len(pdf), dtype=bool)
        new_run[1:] = (term[1:] != term[:-1]) | (shard[1:] != shard[:-1])
        lens = np.fromiter(map(len, pdf["doc_ids"]), np.int64, len(pdf))
        return encode_runs(
            term[new_run],
            np.concatenate(pdf["doc_ids"].to_list()),
            np.concatenate(pdf["tfs"].to_list()),
            np.concatenate(pdf["dls"].to_list()),
            np.repeat(np.cumsum(new_run) - 1, lens),
            block_size,
            shard_range,
        )

    def run(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        trim_importer_cache()
        # rows arrive sorted by (term, shard); a group can straddle an
        # Arrow batch, so each batch's last group waits for the next
        carry = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if pdf.empty:
                continue
            last = (pdf["term"] == pdf["term"].iat[-1]) & (
                pdf["shard"] == pdf["shard"].iat[-1]
            )
            cut = int(np.argmax(last.to_numpy()))
            carry = pdf.iloc[cut:]
            if cut:
                yield encode(pdf.iloc[:cut])
        if carry is not None:
            yield encode(carry)

    return run


def build_postings(docs: DataFrame, cfg: IndexConfig) -> DataFrame:
    """docs(doc_id, terms, dl) -> postings blocks (POSTINGS_SCHEMA).

    Stage 2's partition count is AQE-sized, as a groupBy's would be;
    canonical shard-aligned block ids keep the output byte-identical to
    any other build path."""
    src = docs.select(
        "doc_id",
        F.col("terms.terms").alias("terms_arr"),
        F.col("terms.tfs").alias("tfs_arr"),
        "dl",
    )
    partial = src.mapInPandas(
        _make_partial_runs(cfg.shard_range), schema=PARTIAL_SCHEMA
    )
    return (
        partial.repartition("term", "shard")
        .sortWithinPartitions("term", "shard")
        .mapInPandas(
            _make_batch_encoder(cfg.block_size, cfg.shard_range),
            schema=POSTINGS_SCHEMA,
        )
    )


def term_stats(postings: DataFrame) -> DataFrame:
    """Per-term dictionary from block metadata (JVM agg, no decode):
    df = total postings, cf = total tf."""
    return postings.groupBy("term").agg(
        F.sum("n").alias("df"), F.sum("sum_tf").alias("cf")
    )
