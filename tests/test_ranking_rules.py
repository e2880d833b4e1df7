"""Configurable rankingRules (reference config/type.go:56, YAML surface
config.example.yml:108-116; operators/ranking.py): user-supplied rule
ORDER, rule removal, custom ``field:asc|desc`` rules at any position,
``sort`` composed AT its rule position, batch==single rank identity,
and get_settings reporting the list."""

import pytest
from pyspark.sql import functions as F

from meilibridge_spark.config import (
    ASCII_TOKEN_PATTERN,
    AnalyzerConfig,
    ConfigError,
    IndexConfig,
)
from meilibridge_spark.operators.ranking import (
    DEFAULT_RANKING_RULES,
    compose_order,
    parse_ranking_rules,
    rules_doc_fields,
)
from meilibridge_spark.operators.search import search, search_many
from meilibridge_spark.plans.build import build_index

# title = more important attribute (rank 0), body rank 1; price is the
# custom-rule field; doc 5 has a NULL price (nulls-last contract)
ROWS = [
    (0, "spark shuffle", "join planning and shuffle costs", "en", 30),
    (1, "vector index", "spark join strategies for wide tables", "en", 90),
    (2, "join order", "statistics drive the optimizer", "de", 70),
    (3, "storage formats", "spark spark spark join join", "en", 10),
    (4, "spark join", "irrelevant body text here", "de", 50),
    (5, "metrics", "observability of spark executors", "en", None),
]
SCHEMA = "doc_id long, title string, body string, lang string, price int"

CFG = IndexConfig(
    index_name="rank-rules",
    primary_key=("doc_id",),
    searchable_attributes=("title", "body"),
    filterable_attributes=("lang",),
    sortable_attributes=("price", "lang"),
    analyzer=AnalyzerConfig(token_pattern=ASCII_TOKEN_PATTERN),
)


@pytest.fixture(scope="module")
def built(spark):
    df = spark.createDataFrame(ROWS, SCHEMA)
    idx = build_index(df, CFG, doc_id_col="doc_id", with_attributes=True)
    idx.postings = idx.postings.persist()
    idx.attrs = idx.attrs.persist()
    idx.postings.count()
    return idx


# ------------------------------------------------------------------ parsing


def test_parse_default_list():
    toks = parse_ranking_rules(DEFAULT_RANKING_RULES)
    assert [t[1] for t in toks] == list(DEFAULT_RANKING_RULES)
    assert all(t[0] == "builtin" for t in toks)


def test_parse_custom_rules():
    toks = parse_ranking_rules(["words", "price:desc", "exactness"])
    assert toks[1] == ("custom", "price", False)
    assert parse_ranking_rules(["release_ts:asc"]) == [
        ("custom", "release_ts", True)
    ]


@pytest.mark.parametrize(
    "bad",
    [
        [],
        ["words", "words"],
        ["bogus"],
        ["price:"],
        [":asc"],
        ["price:up"],
        ["words:asc"],  # builtin name as a custom field
        [""],
    ],
)
def test_parse_rejects(bad):
    with pytest.raises(ValueError):
        parse_ranking_rules(bad)


def test_config_validates_rules():
    with pytest.raises(ConfigError):
        IndexConfig(
            index_name="x",
            primary_key=("doc_id",),
            ranking_rules=("words", "nope"),
        ).validate()
    IndexConfig(
        index_name="x",
        primary_key=("doc_id",),
        ranking_rules=("exactness", "price:desc", "words"),
    ).validate()


def test_rules_doc_fields():
    toks = parse_ranking_rules(["words", "price:desc", "sort", "lang:asc"])
    assert rules_doc_fields(toks, None) == ["price", "lang"]
    assert rules_doc_fields(toks, [("ts", True), ("price", False)]) == [
        "price",
        "ts",
        "lang",
    ]


def test_compose_order_skips_inactive(spark):
    toks = parse_ranking_rules(["attribute", "words", "sort"])
    cols = compose_order(
        toks, {"attribute": False, "words": True, "sort": False}, None
    )
    assert len(cols) == 1  # only words survives


# ------------------------------------------------- single-path composition


def _brute(rules_key):
    """Brute-force ranking of the fixture corpus for 'spark join'."""
    import math

    terms = ["spark", "join"]
    toks = {
        d: (t + " " + b).lower().split() for d, t, b, _, _ in ROWS
    }
    n = len(ROWS)
    dl = {d: len(v) for d, v in toks.items()}
    avgdl = sum(dl.values()) / n
    df = {t: sum(1 for v in toks.values() if t in v) for t in terms}
    rows = []
    for d, title, body, lang, price in ROWS:
        matched = [t for t in terms if t in toks[d]]
        if not matched:
            continue
        s = 0.0
        for t in matched:
            tf = toks[d].count(t)
            idf = math.log(1 + (n - df[t] + 0.5) / (df[t] + 0.5))
            s += idf * tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl[d] / avgdl))
        best = 0 if any(t in title.lower().split() for t in matched) else 1
        rows.append(
            {
                "doc_id": d,
                "score": s,
                "matched": len(matched),
                "best_attr": best,
                "price": price,
            }
        )
    return sorted(rows, key=rules_key)


def test_single_custom_order_with_field_rule(built):
    # NON-default order: attribute first, custom price:desc in the
    # middle, words demoted last
    hits = search(
        built,
        "spark join",
        10,
        ranking_rules=["attribute", "price:desc", "words"],
    ).collect()
    exp = _brute(
        lambda r: (
            r["best_attr"],
            -(r["price"] if r["price"] is not None else -(1 << 60)),
            -r["matched"],
            -round(r["score"], 9),
            r["doc_id"],
        )
    )
    assert [h.doc_id for h in hits] == [r["doc_id"] for r in exp]
    # the custom field is returned as an output column
    assert [h.price for h in hits] == [r["price"] for r in exp]


def test_single_rule_removal_changes_order(built):
    # with 'words' removed, pure BM25 decides (vs words first)
    plain = search(built, "spark join", 10, ranking_rules=["words"]).collect()
    nowords = search(
        built, "spark join", 10, ranking_rules=["exactness"]
    ).collect()
    exp_words = _brute(
        lambda r: (-r["matched"], -round(r["score"], 9), r["doc_id"])
    )
    exp_plain = _brute(lambda r: (-round(r["score"], 9), r["doc_id"]))
    assert [h.doc_id for h in plain] == [r["doc_id"] for r in exp_words]
    assert [h.doc_id for h in nowords] == [r["doc_id"] for r in exp_plain]


def test_single_sort_at_position(built):
    # sort composed BETWEEN words and exactness (the default slot):
    # ties under words break by lang asc before BM25
    hits = search(
        built, "spark join", 10, sort_params=[("lang", True)]
    ).collect()
    exp = _brute(lambda r: (-round(r["score"], 9), r["doc_id"]))
    by_doc = {r.doc_id: r for r in built.docs.collect()}
    exp2 = _brute(
        lambda r: (
            by_doc[r["doc_id"]].lang,
            -round(r["score"], 9),
            r["doc_id"],
        )
    )
    del exp
    assert [h.doc_id for h in hits] == [r["doc_id"] for r in exp2]


def test_single_sort_rule_position_respected(built):
    # explicit list puts sort FIRST: lang asc outranks everything
    first = search(
        built,
        "spark join",
        10,
        ranking_rules=["sort", "words"],
        sort_params=[("lang", False)],
    ).collect()
    langs = [h.lang for h in first]
    assert langs == sorted(langs, reverse=True)


def test_nulls_rank_last_both_directions(built):
    # doc 5 (NULL price) is a 'spark' match; it must come last under
    # price:desc AND price:asc when the rule leads
    for rule in ("price:desc", "price:asc"):
        hits = search(built, "spark", 10, ranking_rules=[rule]).collect()
        assert hits[-1].doc_id == 5, rule


def test_cfg_level_rules(spark, built):
    """ranking_rules set on IndexConfig applies without a query param."""
    import dataclasses

    idx2 = dataclasses.replace(built)
    idx2.cfg = dataclasses.replace(
        CFG, ranking_rules=("attribute", "price:desc", "words")
    )
    a = search(idx2, "spark join", 10).collect()
    b = search(
        built,
        "spark join",
        10,
        ranking_rules=["attribute", "price:desc", "words"],
    ).collect()
    assert [h.doc_id for h in a] == [h.doc_id for h in b]


def test_unknown_field_raises(built):
    with pytest.raises(ValueError, match="not in docs"):
        search(built, "spark", 5, ranking_rules=["bogus_col:asc"]).collect()


# --------------------------------------------------- batch == single


def _pairs(df, cols):
    return [tuple(r[c] for c in cols) for r in df.collect()]


def test_batch_identity_custom_order(built):
    rules = ["attribute", "price:desc", "words"]
    cols = ["doc_id", "best_attr", "price", "matched_terms"]
    single = search(built, "spark join", 10, ranking_rules=rules).select(
        *cols, F.round("score", 6).alias("s")
    )
    batch = (
        search_many(
            built,
            [("q1", "spark join"), ("q2", "optimizer statistics")],
            10,
            ranking_rules=rules,
        )
        .filter(F.col("query_id") == "q1")
        .orderBy("rank")
        .select(*cols, F.round("score", 6).alias("s"))
    )
    assert _pairs(single, cols + ["s"]) == _pairs(batch, cols + ["s"])


def test_batch_identity_sort_at_position(built):
    single = search(
        built, "spark join", 10, sort_params=[("lang", True)]
    ).select("doc_id", "lang", F.round("score", 6).alias("s"))
    batch = (
        search_many(
            built, [("a", "spark join")], 10, sort_params=[("lang", True)]
        )
        .orderBy("rank")
        .select("doc_id", "lang", F.round("score", 6).alias("s"))
    )
    cols = ["doc_id", "lang", "s"]
    assert _pairs(single, cols) == _pairs(batch, cols)


def test_batch_identity_no_field_rules_reordered(built):
    # permuted builtin-only list exercises the crit_order threading
    # through the shard-local lexsort (no doc-field rules, truncation ON)
    rules = ["exactness", "attribute", "words"]
    single = search(
        built,
        "spark join",
        10,
        ranking_rules=rules,
        exact_terms=["spark", "join"],
    ).select("doc_id", F.round("score", 6).alias("s"))
    batch = (
        search_many(built, [("a", "spark join")], 10, ranking_rules=rules)
        .orderBy("rank")
        .select("doc_id", F.round("score", 6).alias("s"))
    )
    assert _pairs(single, ["doc_id", "s"]) == _pairs(batch, ["doc_id", "s"])


def test_batch_filtered_with_field_rules(spark, built):
    # doc-field rules compose with filter_docs (cogrouped path)
    filt = built.docs.filter(F.col("lang") == "en").select("doc_id")
    rules = ["price:asc", "words"]
    single = search(
        built, "spark join", 10, filter_docs=filt, ranking_rules=rules
    ).select("doc_id", "price")
    batch = (
        search_many(
            built,
            [("a", "spark join")],
            10,
            filter_docs=filt,
            ranking_rules=rules,
        )
        .orderBy("rank")
        .select("doc_id", "price")
    )
    cols = ["doc_id", "price"]
    assert _pairs(single, cols) == _pairs(batch, cols)


# --------------------------------------------------------------- settings


def test_get_settings_reports_rules(spark, built, tmp_index_dir):
    import dataclasses

    from meilibridge_spark.sources.tables import get_settings, save_snapshot

    idx = dataclasses.replace(built)
    idx.cfg = dataclasses.replace(
        CFG, ranking_rules=("attribute", "price:desc", "words")
    )
    save_snapshot(idx, tmp_index_dir)
    got = get_settings(tmp_index_dir)
    assert got["rankingRules"] == ["attribute", "price:desc", "words"]


def test_get_settings_defaults_rules(spark, built, tmp_index_dir):
    from meilibridge_spark.sources.tables import get_settings, save_snapshot

    save_snapshot(built, tmp_index_dir)
    got = get_settings(tmp_index_dir)
    assert got["rankingRules"] == list(DEFAULT_RANKING_RULES)


# ------------------------------------------ flags == default rule list

FLAG_QUERIES = [
    ("q1", "spark join"),
    ("q2", "spark optimizer statistics"),
    ("q3", "join"),
]


@pytest.mark.parametrize("sort", [None, [("lang", True)]])
def test_flags_equal_default_rules_single(built, sort):
    # the *_rank flags are sugar over DEFAULT_RANKING_RULES: same side
    # data, same hits, same criteria columns, same order
    side = dict(orig_terms=["spark"], exact_terms=["spark", "join"])
    cols = ["doc_id", "matched_terms", "matched_exact", "best_attr",
            "exact_form"]
    flags = search(
        built, "spark join", 10, words_rank=True, typo_rank=True,
        attribute_rank=True, exactness_rank=True, sort_params=sort, **side,
    )
    rules = search(
        built, "spark join", 10, ranking_rules=DEFAULT_RANKING_RULES,
        sort_params=sort, **side,
    )
    assert flags.columns == rules.columns
    got = [c for c in cols + ["lang"] if c in flags.columns]
    sel = [*got, F.round("score", 6).alias("s")]
    assert _pairs(flags.select(*sel), got + ["s"]) == _pairs(
        rules.select(*sel), got + ["s"]
    )


@pytest.mark.parametrize("sort", [None, [("lang", True)]])
def test_flags_equal_default_rules_batch(built, sort):
    cols = ["query_id", "rank", "doc_id", "matched_terms", "best_attr",
            "exact_form"]
    flags = search_many(
        built, FLAG_QUERIES, 10, words_rank=True, attribute_rank=True,
        exactness_rank=True, sort_params=sort,
    )
    rules = search_many(
        built, FLAG_QUERIES, 10, ranking_rules=DEFAULT_RANKING_RULES,
        sort_params=sort,
    )
    assert flags.columns == rules.columns
    got = [c for c in cols + ["lang"] if c in flags.columns]

    def rows(df):
        return _pairs(
            df.select(*got, F.round("score", 6).alias("s")).orderBy(
                "query_id", "rank"
            ),
            got + ["s"],
        )

    assert rows(flags) == rows(rules)


def test_explicit_flag_without_data_raises(built):
    with pytest.raises(ValueError, match="typo_rank requires orig_terms"):
        search(built, "spark join", 5, typo_rank=True)
    with pytest.raises(ValueError, match="exactness_rank requires exact"):
        search(built, "spark join", 5, exactness_rank=True)


def test_driver_searcher_rejects_non_score_order(built):
    import dataclasses

    from meilibridge_spark.operators.search import DriverSearcher

    def with_cfg(**kw):
        return dataclasses.replace(built, cfg=dataclasses.replace(CFG, **kw))

    for kw in (
        {"words_ranking": True},
        {"ranking_rules": ("attribute",)},
        {"ranking_rules": ("price:desc",)},
        {"ranking_rules": DEFAULT_RANKING_RULES},
    ):
        with pytest.raises(ValueError, match="BM25 score only"):
            DriverSearcher(with_cfg(**kw))
    # rules whose data is per-query only (typo, exactness, sort) leave
    # a query without that data score-ordered: served as before
    s = DriverSearcher(with_cfg(ranking_rules=("typo", "sort", "exactness")))
    want = search(built, "spark join", 5).collect()
    assert [d for d, _ in s.search("spark join", 5)] == [
        r["doc_id"] for r in want
    ]
