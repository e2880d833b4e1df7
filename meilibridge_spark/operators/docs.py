"""Document assembly: projection, dense docID assignment, tokenization,
doc/corpus statistics (SURVEY.md §7 stage 2).

Reference parity:
- projection/rename map == the reference's ``updateItemKeys``
  (pkg/bridge/helper.go:18-41, S7): keep only listed keys, rename when
  the mapped value is non-empty.
- docID == the reference's required primary key (config/config.go:96-109,
  S17/Q17): for transcripts a dense rank over (conv_id, turn_idx).

Scale note (the hard part, SURVEY §7(a)): a naive
``row_number().over(Window.orderBy(...))`` collapses to ONE partition.
We instead do the canonical two-pass dense-id assignment:
range-repartition + sort within partitions (one shuffle — ordering is
part of the contract), count rows per partition (tiny driver-side
collect of num_partitions longs), broadcast the cumulative offsets,
then per-partition row_number + offset. O(1) driver state, no global
sort bottleneck, deterministic because (conv_id, turn_idx) is a total
order regardless of sampled range boundaries.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from meilibridge_spark.config import AnalyzerConfig, IndexConfig
from meilibridge_spark.functions.tokenizer import term_freq_frame
from meilibridge_spark.session import trim_importer_cache

#: struct-of-arrays term-frequency layout (cheap through Arrow)
TERMS_FIELD = T.StructType(
    [
        T.StructField("terms", T.ArrayType(T.StringType()), False),
        T.StructField("tfs", T.ArrayType(T.IntegerType()), False),
    ]
)


def apply_projection(df: DataFrame, cfg: IndexConfig) -> DataFrame:
    """S7 updateItemKeys: keep-only + rename. Empty map = passthrough."""
    proj = cfg.projection()
    if not proj:
        return df
    return df.select([F.col(src).alias(dst) for src, dst in proj])


def assign_doc_ids(
    df: DataFrame,
    order_cols: "tuple[str, ...]",
    num_partitions: "int | None" = None,
) -> DataFrame:
    """Add a dense 0-based ``doc_id`` ranking rows by ``order_cols``.

    Two-pass scalable dense rank (see module docstring). The returned
    DataFrame is range-partitioned and sorted by ``order_cols`` with
    doc_id ascending within and across partitions.
    """
    parts = num_partitions or df.sparkSession.conf.get(
        "spark.sql.shuffle.partitions", "32"
    )
    parts = int(parts)
    cols = [F.col(c) for c in order_cols]
    ranged = df.repartitionByRange(parts, *cols).sortWithinPartitions(*cols)
    # CRITICAL: pin the partitioning. repartitionByRange SAMPLES its
    # boundaries per execution; the count pass and the window pass below
    # would otherwise re-execute the lineage with different boundaries
    # and hand out overlapping ids. Eager localCheckpoint materializes
    # the ranged partitions once; a lost block fails the job instead of
    # silently recomputing with new boundaries. (On a real cluster with
    # a checkpoint dir, reliable .checkpoint() or a staged table write
    # is the same commit point.)
    ranged = ranged.localCheckpoint(eager=True)
    with_pid = ranged.withColumn("_pid", F.spark_partition_id())
    # pass 1: per-partition counts (num_partitions rows -> driver)
    sizes = {
        r["_pid"]: r["cnt"]
        for r in with_pid.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
    }
    if not sizes:  # empty input: preserve schema, no rows
        return df.withColumn("doc_id", F.lit(0).cast("long"))
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]
    # pass 2: row_number within partition + broadcast offset
    offs = F.create_map(
        *[x for pid, off in offsets.items() for x in (F.lit(pid), F.lit(off))]
    )
    w = Window.partitionBy("_pid").orderBy(*cols)
    return (
        with_pid.withColumn(
            "doc_id",
            (F.row_number().over(w) - 1 + offs[F.col("_pid")]).cast("long"),
        )
        .drop("_pid")
    )


def assign_doc_ids_contiguous(
    df: DataFrame, conv_col: str, turn_col: str
) -> "DataFrame | None":
    """Fast path for the transcripts contract: when ``turn_col`` is
    contiguous 0..n-1 within every conversation (a transcript by
    definition), the dense rank over (conv, turn) equals
    cumsum(conv sizes in conv order) + turn — computed with one
    conv-LEVEL aggregation + a conv-level cumsum + a join, instead of
    range-sorting and checkpointing every turn row. At 10^12 turns this
    replaces the full-row global sort with an aggregation that is ~10x
    smaller and a broadcast-or-shuffle join Catalyst picks itself.

    Returns None when contiguity doesn't hold (caller falls back to the
    sort-based general path)."""
    sizes = (
        df.groupBy(conv_col)
        .agg(
            F.count("*").alias("_cnt"),
            F.min(turn_col).alias("_mn"),
            F.max(turn_col).alias("_mx"),
        )
        .persist()
    )
    bad = (
        sizes.filter((F.col("_mn") != 0) | (F.col("_mx") != F.col("_cnt") - 1))
        .limit(1)
        .count()
    )
    if bad:
        sizes.unpersist()
        return None
    parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    ranged = (
        sizes.select(conv_col, "_cnt")
        .repartitionByRange(parts, F.col(conv_col))
        .sortWithinPartitions(conv_col)
        .localCheckpoint(eager=True)  # pin sampled boundaries (see above)
    )
    with_pid = ranged.withColumn("_pid", F.spark_partition_id())
    psums = {
        r["_pid"]: r["s"]
        for r in with_pid.groupBy("_pid").agg(F.sum("_cnt").alias("s")).collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(psums):
        offsets[pid] = acc
        acc += psums[pid]
    if not offsets:
        return df.withColumn("doc_id", F.lit(0).cast("long"))
    offs = F.create_map(
        *[x for pid, off in offsets.items() for x in (F.lit(pid), F.lit(off))]
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy(conv_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    conv_off = with_pid.withColumn(
        "_off",
        (F.coalesce(F.sum("_cnt").over(w), F.lit(0)) + offs[F.col("_pid")]).cast(
            "long"
        ),
    ).select(conv_col, "_off")
    out = df.join(conv_off, conv_col).withColumn(
        "doc_id", (F.col("_off") + F.col(turn_col)).cast("long")
    ).drop("_off")
    return out


def make_term_freq_udf(analyzer: AnalyzerConfig):
    """Scalar pandas UDF: text -> array<struct<term,tf>> (per-doc tf
    combined Python-side = map-side combine, SURVEY §2C)."""

    @F.pandas_udf(TERMS_FIELD)
    def term_freq_udf(texts: pd.Series) -> pd.DataFrame:
        trim_importer_cache()
        return term_freq_frame(texts, analyzer)

    return term_freq_udf


def searchable_text(df: DataFrame, cfg: IndexConfig) -> "F.Column":
    """Concatenate searchable attributes in importance order (Q5) into
    the indexed text. Single attribute -> the column itself."""
    attrs = cfg.searchable_attributes
    if len(attrs) == 1:
        return F.coalesce(F.col(attrs[0]), F.lit(""))
    return F.concat_ws(" ", *[F.coalesce(F.col(a), F.lit("")) for a in attrs])


def assemble_docs(
    df: DataFrame,
    cfg: IndexConfig,
    doc_id_col: "str | None" = None,
) -> DataFrame:
    """source rows -> docs table: doc_id, original columns, terms
    (array<struct<term,tf>>), dl (token count after stop removal).

    ``doc_id_col``: use an existing unique int column as docID (e.g. the
    driver's `documents.doc_id`); otherwise dense-rank primary_key.
    """
    cfg.validate()
    df = apply_projection(df, cfg)
    if doc_id_col is None:
        fast = None
        if len(cfg.primary_key) == 2:
            fast = assign_doc_ids_contiguous(df, *cfg.primary_key)
        df = fast if fast is not None else assign_doc_ids(df, cfg.primary_key)
    elif doc_id_col != "doc_id":
        df = df.withColumn("doc_id", F.col(doc_id_col).cast("long"))
    else:
        df = df.withColumn("doc_id", F.col("doc_id").cast("long"))
    tf_udf = make_term_freq_udf(cfg.analyzer)
    return (
        df.withColumn("_searchable", searchable_text(df, cfg))
        .withColumn("terms", tf_udf(F.col("_searchable")))
        .drop("_searchable")
        .withColumn(
            "dl",
            F.coalesce(
                F.aggregate(
                    F.col("terms.tfs"), F.lit(0), lambda acc, x: acc + x
                ),
                F.lit(0),
            ),
        )
    )


def rollup_text(
    df: DataFrame,
    group_col: str,
    order_col: str,
    text_col: str = "text",
    sep: str = " ",
) -> DataFrame:
    """Roll member texts up into one document per group, concatenated
    in ``order_col`` order -> (group_col, text, n_members). The
    transcripts use: index CONVERSATIONS instead of turns
    (rollup_text(transcripts, 'conv_id', 'turn_idx')); also works for
    any grouping (source, user, session).

    One groupBy with collect_list + an in-group array_sort — ordering
    is deterministic regardless of partitioning, no window/global sort.
    Group size bounds the per-row memory (a transcript's turns), which
    is the natural document bound anyway."""
    member = F.struct(
        F.col(order_col).alias("_o"),
        F.coalesce(F.col(text_col), F.lit("")).alias("_t"),
    )
    agg = df.groupBy(group_col).agg(
        F.array_sort(F.collect_list(member)).alias("_ms"),
        F.count("*").alias("n_members"),
    )
    return agg.select(
        group_col,
        F.array_join(
            F.transform(F.col("_ms"), lambda m: m["_t"]), sep
        ).alias(text_col),
        "n_members",
    )


def doc_stats(docs: DataFrame) -> DataFrame:
    return docs.select("doc_id", "dl")


def field_distribution(
    df: DataFrame, fields: "tuple[str, ...] | None" = None
) -> DataFrame:
    """Meilisearch ``GET /indexes/{uid}/stats`` fieldDistribution analog
    (the reference exposes index stats through the Meilisearch client it
    wraps, S27 pkg/logger/logger.go + meilisearch-go Index.GetStats):
    for every field, the number of documents where the field is PRESENT.
    Parquet/DataFrame NULL is the analog of a missing JSON key.

    Plan shape: ONE full-scan aggregation producing a single row of
    per-field ``count(col)`` (map-side combinable partial aggs — only
    num_partitions tiny rows move), then an explode of that one row
    into (field, n_docs). 100 TB-safe: the cost is the column scan
    itself, and only requested columns are read (column pruning).
    """
    cols = list(fields) if fields is not None else list(df.columns)
    counts = df.agg(*[F.count(F.col(c)).alias(c) for c in cols])
    pairs = F.array(
        *[
            F.struct(F.lit(c).alias("field"), F.col(c).alias("n_docs"))
            for c in cols
        ]
    )
    return (
        counts.select(F.explode(pairs).alias("fd"))
        .select("fd.field", "fd.n_docs")
        .orderBy("field")
    )


def corpus_stats(docs: DataFrame) -> "tuple[int, float]":
    """(N, avgdl) — one tiny agg (groupBy().agg, SURVEY §2C)."""
    row = docs.agg(
        F.count("*").alias("n"), F.avg("dl").alias("avgdl")
    ).collect()[0]
    return int(row["n"]), float(row["avgdl"] or 0.0)
