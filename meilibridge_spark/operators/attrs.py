"""Per-(term, doc) best-attribute-rank postings — the data layer of the
Q11 ``attribute`` ranking criterion (the 4th rule of the reference's
default ranking_rules [words, typo, proximity, attribute, sort,
exactness], /root/reference/config/type.go:56): documents whose matched
terms occur in MORE IMPORTANT searchable attributes (lower index in
``searchable_attributes``, Q5 order) rank first.

Storage reuses the main posting-block machinery verbatim
(operators/postings.py + functions/codec.py): per (term, doc) the "tf"
slot carries the ATTRIBUTE BITMASK — bit r set iff the term occurs in
searchable attribute r (importance order, Q5) — and the dl slot is 0.
The mask is always >= 1 so the varint/min_dl metadata semantics are
untouched, and the min attribute rank (what the ``attribute`` criterion
sorts by) is recovered as the mask's lowest set bit; keeping the whole
mask additionally powers query-time attribute restriction
(Meilisearch's ``attributesToSearchOn`` search parameter: mask & subset
!= 0). For <= 7 attributes the mask varint stays one byte, the same
size the former min-rank encoding paid. This buys, for free:

- byte-deterministic, shard-aligned blocks (same canonical layout
  guarantees as the score postings);
- the batch scatter-gather can co-shuffle attr blocks WITH score blocks
  (one union keyed by doc-shard, distinguished by a ``_kind`` column)
  — nothing doc-granular moves, the criterion costs one extra
  compressed-block stream;
- term-sorted parquet pruning for the single-query join path.

Edge (documented): dictionary compounds (Q2) spanning an attribute
boundary exist in the concatenated-text postings but not here; such a
(term, doc) scores normally and takes the no-attr-info sentinel rank.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from meilibridge_spark.config import IndexConfig
from meilibridge_spark.functions.tokenizer import tokenize_series
from meilibridge_spark.operators.docs import TERMS_FIELD
from meilibridge_spark.operators.postings import build_postings
from meilibridge_spark.session import trim_importer_cache

#: best_attr when a matched (term, doc) has no attribute info — ranks
#: below every real attribute index
ATTR_RANK_SENTINEL = 1 << 20


def attrs_search_mask(cfg: IndexConfig, names) -> int:
    """attributesToSearchOn names -> bitmask over the index's
    ``searchable_attributes`` order. Unknown (non-searchable) names are
    a loud error, matching Meilisearch's invalid_search_attributes_to_search_on."""
    ranks = {a: r for r, a in enumerate(cfg.searchable_attributes)}
    mask = 0
    for n in names:
        if n not in ranks:
            raise ValueError(
                f"attributesToSearchOn entry {n!r} is not a searchable "
                f"attribute of this index (searchable: "
                f"{list(cfg.searchable_attributes)})"
            )
        mask |= 1 << ranks[n]
    if mask == 0:
        raise ValueError("attributesToSearchOn must name at least one attribute")
    return mask


def make_attr_rank_udf(analyzer, n_attrs: int):
    """Scalar pandas UDF over the N searchable-attribute text columns ->
    struct{terms: [..], tfs: [attr_bitmask, ..]} per doc (the
    struct-of-arrays layout build_postings consumes; 'tfs' carries the
    attribute bitmask, bit r = occurs in attribute r)."""

    @F.pandas_udf(TERMS_FIELD)
    def attr_rank_udf(*cols: pd.Series) -> pd.DataFrame:
        trim_importer_cache()
        tok_lists = [tokenize_series(c, analyzer) for c in cols]
        terms_out: "list[list[str]]" = []
        masks_out: "list[list[int]]" = []
        for i in range(len(tok_lists[0])):
            best: "dict[str, int]" = {}
            for rank in range(n_attrs):
                bit = 1 << rank
                for t in tok_lists[rank].iloc[i]:
                    best[t] = best.get(t, 0) | bit
            terms_out.append(list(best.keys()))
            masks_out.append(list(best.values()))
        return pd.DataFrame(
            {"terms": terms_out, "tfs": masks_out}, index=cols[0].index
        )

    return attr_rank_udf


def assemble_attr_docs(docs: DataFrame, cfg: IndexConfig) -> DataFrame:
    """docs (original columns + doc_id) -> (doc_id, terms{terms,
    tfs=attr_bitmask}, dl=0), ready for build_postings."""
    attrs = cfg.searchable_attributes
    udf = make_attr_rank_udf(cfg.analyzer, len(attrs))
    inputs = [
        F.coalesce(F.col(a).cast("string"), F.lit("")) for a in attrs
    ]
    return docs.select(
        "doc_id", udf(*inputs).alias("terms")
    ).withColumn("dl", F.lit(0).cast("long"))


def build_attr_postings(docs: DataFrame, cfg: IndexConfig) -> DataFrame:
    """Attribute-mask blocks in POSTINGS_SCHEMA (tf slot = attr bitmask)."""
    return build_postings(assemble_attr_docs(docs, cfg), cfg)
