"""Index + analyzer configuration.

Mirrors the reference's ``IndexConfig`` / ``Settings`` surface
(``config/type.go:48-96`` in /root/reference) re-shaped for a Spark
engine: the sync-bridge knobs (searchable/displayed/filterable/sortable
attributes, stop words, synonyms, distinct attribute, pagination cap,
primary key) become build/query parameters of our own inverted index,
and validation mirrors ``config/config.go:26-115``
(ErrPrimaryKeyIsRequire etc., ``config/err.go``).
"""

from __future__ import annotations

from dataclasses import dataclass, field

#: Default Unicode-aware token pattern: runs of word chars excluding '_'
#: (Meilisearch-style default segmentation: split on whitespace/punct).
DEFAULT_TOKEN_PATTERN = r"[^\W_]+"

#: ASCII-only pattern used when oracle parity with DuckDB's RE2 regexes
#: matters (the driver's `documents` fixture is ASCII word soup).
ASCII_TOKEN_PATTERN = r"[a-z0-9]+"

#: BM25 constants (standard Robertson/Okapi; SURVEY.md §2B Q11).
DEFAULT_K1 = 1.2
DEFAULT_B = 0.75

#: Meilisearch pagination.max_total_hits default (config/type.go:82-84).
DEFAULT_MAX_TOTAL_HITS = 1000

#: Postings block size (docs per compressed block, block-max metadata).
DEFAULT_BLOCK_SIZE = 128


class ConfigError(ValueError):
    """Mirrors the reference's config validation errors (config/err.go)."""


def parse_collection(spec: str) -> "tuple[str, str | None]":
    """Parse the reference's ``Collection`` encoding ``"collection"`` or
    ``"collection:view"`` (config/type.go:100,115-143) -> (collection,
    view-or-None). The view names the DataFrame/join the engine reads
    instead of the base collection (S25, operators/views.py).

    Deviations from the reference, on purpose:
    - 2+ colons: the reference silently treats the whole string as
      view-less (``HasView`` false, config/type.go:123-125 — a quirk its
      own test pins at config/config_test.go:411). We raise instead of
      replicating the silent bug (SURVEY §4 known-bugs list).
    - empty collection / empty view around the colon raise instead of
      passing through as empty names.
    """
    if not isinstance(spec, str) or not spec.strip():
        raise ConfigError("collection spec is required")
    parts = spec.split(":")
    if len(parts) == 1:
        return parts[0], None
    if len(parts) > 2:
        raise ConfigError(
            f"collection spec {spec!r} has {len(parts) - 1} colons; "
            "expected 'collection' or 'collection:view'"
        )
    col, view = parts
    if not col:
        raise ConfigError(f"collection spec {spec!r} has an empty collection")
    if not view:
        raise ConfigError(f"collection spec {spec!r} has an empty view")
    return col, view


@dataclass(frozen=True)
class AnalyzerConfig:
    """Tokenization settings (SURVEY.md §2B Q1-Q4).

    - ``token_pattern``: regex; matches are terms (on lowercased text when
      ``lowercase``). Reference: Meilisearch default segmentation — the
      reference's separator_tokens / non_separator_tokens YAML knobs are
      silently dropped by its Settings struct (config/type.go:55-68), so
      defaults apply; we expose the pattern directly instead.
    - ``dictionary``: compound terms tokenized as single terms via a
      longest-match alternation pre-pended to the pattern (Q2).
    - ``stop_words``: dropped at index and query time (config/type.go:60).
    - ``synonyms``: query-side expansion word -> group (config/type.go:61).
    - ``separator_tokens`` / ``non_separator_tokens``: the Meilisearch
      v1.4 settings the reference's YAML also names (and drops):
      separator strings always split (replaced by a space before
      matching, so multi-char separators like ``'||'`` work and
      dictionary compounds must not contain them); non-separator
      strings are kept INSIDE tokens (spliced into the token
      alternation, e.g. ``'-'`` keeps ``state-of-the-art`` one term). A
      run consisting only of non-separator strings is not a term.
      Requires ``token_pattern`` to end in ``+`` (the default does).
    """

    token_pattern: str = DEFAULT_TOKEN_PATTERN
    lowercase: bool = True
    stop_words: tuple[str, ...] = ()
    synonyms: tuple[tuple[str, tuple[str, ...]], ...] = ()
    dictionary: tuple[str, ...] = ()
    separator_tokens: tuple[str, ...] = ()
    non_separator_tokens: tuple[str, ...] = ()

    @staticmethod
    def make(
        token_pattern: str = DEFAULT_TOKEN_PATTERN,
        lowercase: bool = True,
        stop_words: "tuple[str, ...] | list[str] | set[str]" = (),
        synonyms: "dict[str, list[str]] | None" = None,
        dictionary: "tuple[str, ...] | list[str]" = (),
        separator_tokens: "tuple[str, ...] | list[str]" = (),
        non_separator_tokens: "tuple[str, ...] | list[str]" = (),
    ) -> "AnalyzerConfig":
        syn = tuple(
            sorted((w, tuple(sorted(g))) for w, g in (synonyms or {}).items())
        )
        return AnalyzerConfig(
            token_pattern=token_pattern,
            lowercase=lowercase,
            stop_words=tuple(sorted(set(stop_words))),
            synonyms=syn,
            dictionary=tuple(dictionary),
            separator_tokens=tuple(sorted(set(separator_tokens))),
            non_separator_tokens=tuple(sorted(set(non_separator_tokens))),
        )

    def validate(self) -> None:
        """Loud analyzer-knob validation (called by IndexConfig.validate;
        mirrors the endpoint's invalid_settings_* 400s)."""
        for knob, vals in (
            ("separator_tokens", self.separator_tokens),
            ("non_separator_tokens", self.non_separator_tokens),
        ):
            for v in vals:
                if not isinstance(v, str) or not v:
                    raise ConfigError(
                        f"{knob} entries must be non-empty strings, "
                        f"got {v!r}"
                    )
        both = set(self.separator_tokens) & set(self.non_separator_tokens)
        if both:
            raise ConfigError(
                "tokens cannot be both separator and non-separator: "
                f"{sorted(both)}"
            )
        if self.non_separator_tokens and not self.token_pattern.endswith("+"):
            raise ConfigError(
                "non_separator_tokens requires a token_pattern ending in "
                f"'+' to splice into, got {self.token_pattern!r}"
            )
        for d in self.dictionary:
            hit = next((s for s in self.separator_tokens if s in d), None)
            if hit is not None:
                raise ConfigError(
                    f"dictionary compound {d!r} contains separator token "
                    f"{hit!r} and could never match"
                )

    def synonym_map(self) -> dict[str, tuple[str, ...]]:
        return dict(self.synonyms)


#: Analyzer whose output is reproducible in DuckDB SQL
#: (lower + regexp_extract_all('[a-z0-9]+')).
ASCII_ANALYZER = AnalyzerConfig(token_pattern=ASCII_TOKEN_PATTERN)


@dataclass(frozen=True)
class TypoToleranceConfig:
    """Q12 typo tolerance — mirrors the reference's TypoTolerance
    settings (config/type.go:70-80): ``enabled``,
    ``min_word_size_for_typos`` {one_typo: 5, two_typos: 9},
    ``disable_on_words`` (query words never typo-expanded),
    ``disable_on_attributes`` (attributes whose exclusive vocabulary is
    excluded from typo candidates) and ``disable_on_numbers``
    (Meilisearch v1.12: digit-carrying words neither expand nor serve
    as alternates).
    """

    enabled: bool = True
    one_typo: int = 5
    two_typos: int = 9
    disable_on_words: tuple[str, ...] = ()
    disable_on_attributes: tuple[str, ...] = ()
    #: Meilisearch v1.12 typoTolerance.disableOnNumbers: words
    #: containing digits neither typo-expand nor serve as typo
    #: alternates ('2024' never matches '2025')
    disable_on_numbers: bool = False

    @staticmethod
    def make(
        enabled: bool = True,
        one_typo: int = 5,
        two_typos: int = 9,
        disable_on_words: "tuple[str, ...] | list[str] | set[str]" = (),
        disable_on_attributes: "tuple[str, ...] | list[str]" = (),
        disable_on_numbers: bool = False,
    ) -> "TypoToleranceConfig":
        return TypoToleranceConfig(
            enabled=enabled,
            one_typo=one_typo,
            two_typos=two_typos,
            disable_on_words=tuple(sorted({w.lower() for w in disable_on_words})),
            disable_on_attributes=tuple(disable_on_attributes),
            disable_on_numbers=disable_on_numbers,
        )


@dataclass(frozen=True)
class IndexConfig:
    """Per-index build/query plan — the analog of the reference's
    ``IndexConfig{IndexName, PrimaryKey, Fields, Settings}``
    (config/type.go:48-68) plus our engine-internal knobs (SURVEY §2C).
    """

    index_name: str
    #: column(s) forming doc identity; for transcripts: ("conv_id", "turn_idx")
    primary_key: tuple[str, ...] = ("conv_id", "turn_idx")
    #: projection/rename map applied before indexing (S7, bridge/helper.go:18-41);
    #: empty = keep all columns. key -> new name ('' = keep name).
    fields: tuple[tuple[str, str], ...] = ()
    #: columns concatenated into the indexed text, order = importance (Q5)
    searchable_attributes: tuple[str, ...] = ("text",)
    displayed_attributes: tuple[str, ...] = ()
    filterable_attributes: tuple[str, ...] = ()
    #: Meilisearch v1.12 GRANULAR ``filterableAttributes`` entries (the
    #: object form next to the plain-string form above): each rule is
    #: ``(patterns, facet_search, equality, comparison)`` — patterns a
    #: tuple of attribute patterns (exact names, trailing-``*``
    #: wildcards, or ``"*"``), then the three feature flags of
    #: ``{"attributePatterns": [...], "features": {"facetSearch": ...,
    #: "filter": {"equality": ..., "comparison": ...}}}``. Endpoint
    #: defaults apply when building rules from JSON (facetSearch=False,
    #: equality=True, comparison=False); plain strings in
    #: ``filterable_attributes`` keep the legacy behavior = ALL
    #: features on. ``filter_features(attr)`` resolves an attribute
    #: against both forms (first matching rule wins, string form
    #: checked first, exactly the endpoint's order-sensitive match);
    #: the filter parser gates operator families per attribute:
    #: equality gates =/!=/IN/EXISTS/IS/CONTAINS/STARTS WITH,
    #: comparison gates >/>=/</<=/TO (Meilisearch
    #: invalid_search_filter analogs), and facet_search gates the
    #: attribute in the facet-search endpoint analog.
    filterable_attribute_rules: "tuple[tuple, ...]" = ()
    #: Meilisearch-style case-insensitive string filter comparison
    #: (functions/filters.py); off by default to keep filter leaves in
    #: parquet PushedFilters.
    filter_fold_case: bool = False
    sortable_attributes: tuple[str, ...] = ()
    distinct_attribute: str | None = None
    #: (lat_col, lng_col) docs columns backing Meilisearch's ``_geo``
    #: document field — declaring them is the analog of putting _geo in
    #: filterableAttributes/sortableAttributes: it enables the
    #: _geoRadius/_geoBoundingBox filter functions (functions/geo.py)
    #: and the _geoPoint(lat, lng) sort rule. None = geo off (the
    #: filter parser then raises Meilisearch's invalid_search_filter
    #: analog instead of silently mis-filtering).
    geo_attributes: "tuple[str, str] | None" = None
    analyzer: AnalyzerConfig = field(default_factory=AnalyzerConfig)
    #: Q12 typo tolerance knobs (query-side expansion; applied only by
    #: the typo search paths)
    typo: TypoToleranceConfig = field(default_factory=TypoToleranceConfig)
    #: Q11 optional 'words' ranking criterion (the head of the
    #: reference's default ranking_rules, config/type.go:56): order hits
    #: by (matched_terms desc, score desc, doc_id asc) instead of pure
    #: BM25. Off by default — the north_rule contract is BM25 ordering.
    words_ranking: bool = False
    #: Meilisearch ``rankingRules`` setting — the reference carries it
    #: verbatim from user YAML (config/type.go:56,
    #: config.example.yml:108-116): an ordered list of the six built-in
    #: rules (any subset, any order) plus custom ``field:asc`` /
    #: ``field:desc`` rules at any position, with the query-time
    #: ``sort`` parameter composed AT the ``sort`` rule's position.
    #: None (default) = the Meilisearch default order with the engine's
    #: legacy flag-driven criterion activation (search()'s *_rank
    #: arguments decide which criteria run); a non-None list switches
    #: search/search_many into rules-list mode where the LIST decides
    #: both activation and order (operators/ranking.py).
    ranking_rules: "tuple[str, ...] | None" = None
    #: Meilisearch v1.12 index settings: ``prefixSearch`` ("indexingTime"
    #: = last-word prefix matching available, the default; "disabled" =
    #: prefix requests match exact words only) and ``facetSearch``
    #: (False disables the POST /facet-search endpoint analog).
    prefix_search: str = "indexingTime"
    facet_search: bool = True
    #: Meilisearch v1.6 ``proximityPrecision`` index setting: "byWord"
    #: (default — the proximity ranking criterion uses exact raw-slot
    #: word distances from the positions table) or "byAttribute"
    #: (coarser: two query words are "close" iff they co-occur in at
    #: least one common searchable attribute, read from the attrs
    #: bitmask blocks — cheaper, no positions table needed). Consumed
    #: by ``search(proximity_rank=True)`` via
    #: ``operators/positions.proximity_costs``. The reference documents
    #: the setting but never maps it (config.example.yml:104-107 vs
    #: config/type.go:55-68); the Meilisearch semantics are implemented
    #: natively here.
    proximity_precision: str = "byWord"
    #: Meilisearch ``faceting`` index settings: ``maxValuesPerFacet``
    #: (default 100) and ``sortFacetValuesBy`` — ``faceting_sort_by``
    #: is the map's ``"*"`` default rule ("alpha" / "count") and
    #: ``faceting_sort_by_rules`` holds the PER-FACET overrides of the
    #: endpoint's full map form ({"*": "alpha", "genres": "count"}) as
    #: (facet, rule) pairs. ``facet_sort_map()`` reassembles the
    #: endpoint map; the facet distribution paths take it directly.
    #: Explicit per-call args still win.
    faceting_max_values: int = 100
    faceting_sort_by: str = "alpha"
    faceting_sort_by_rules: tuple[tuple[str, str], ...] = ()
    #: Meilisearch ``embedders`` index setting, userProvided source only
    #: (the engine is embedder-model-agnostic — query/document vectors
    #: are inputs, exactly Meilisearch's ``source: "userProvided"``
    #: mode): (name, dimensions) pairs. Declaring one makes the vector
    #: paths validate embedding dimensionality loudly (build_vectors /
    #: the jobs CLI) instead of failing deep inside a numpy reshape.
    embedders: tuple[tuple[str, int], ...] = ()
    #: Meilisearch v1.10 ``binaryQuantized: true`` per embedder: names
    #: of declared embedders whose vectors are sign-quantized at
    #: indexing time (operators/similarity.binary_quantize — 32 dims
    #: per long word, Hamming scoring via binary_ann_topk). Like the
    #: endpoint, the option is one-way per index build: flipping it
    #: means reindexing, so it lives in the per-snapshot settings.
    binary_quantized_embedders: tuple[str, ...] = ()
    #: Meilisearch v1.10 ``searchCutoffMs`` index setting: per-query
    #: wall-clock budget in milliseconds for the low-latency SERVING
    #: path (DriverSearcher.search_cutoff — the anytime block-max WAND
    #: traversal returns the exact top-k of the doc-id prefix visited
    #: within budget, flagged degraded, matching the endpoint's
    #: best-hits-so-far semantics). None = no cutoff (the endpoint's
    #: null default). Batch Spark jobs ignore it — a distributed
    #: scatter-gather stage has no meaningful per-query interrupt
    #: point (COVERAGE.md Q15).
    search_cutoff_ms: "int | None" = None
    k1: float = DEFAULT_K1
    b: float = DEFAULT_B
    max_total_hits: int = DEFAULT_MAX_TOTAL_HITS
    #: salted two-stage posting build: number of doc-range salts (skew defuse)
    n_salts: int = 8
    block_size: int = DEFAULT_BLOCK_SIZE
    #: docs per posting shard: hot terms encode one task per shard, block
    #: segmentation restarts at shard boundaries so the layout is a
    #: canonical function of content (byte-identity across build paths),
    #: and batch queries score one doc-shard per task (scatter-gather).
    #: 2^14 keeps the scatter-gather stage well-parallelized even at
    #: ~10^6-turn corpora (60+ shards) while a 10^12-turn corpus yields
    #: ~6e7 shards — far above any cluster's core count either way.
    shard_range: int = 1 << 14

    def validate(self) -> None:
        """Mirror config/config.go:26-115 validation semantics."""
        if not self.index_name:
            raise ConfigError("index name is required")  # ErrIndexNameRequire
        if not self.primary_key:
            raise ConfigError("primary key is required")  # ErrPrimaryKeyIsRequire
        if not self.searchable_attributes:
            raise ConfigError("at least one searchable attribute is required")
        if self.fields:
            keys = [k for k, _ in self.fields]
            if len(set(keys)) != len(keys):
                raise ConfigError("duplicate field in projection map")
            kept = {(v or k) for k, v in self.fields}
            for pk in self.primary_key:
                if pk not in kept:
                    # reference: pk must survive the projection
                    # (config/config.go:96-109)
                    raise ConfigError(
                        f"primary key column {pk!r} dropped by fields projection"
                    )
        self.analyzer.validate()
        if self.block_size < 2:
            raise ConfigError("block_size must be >= 2")
        if self.n_salts < 1:
            raise ConfigError("n_salts must be >= 1")
        if self.prefix_search not in ("indexingTime", "disabled"):
            raise ConfigError(
                "prefix_search must be 'indexingTime' or 'disabled', "
                f"got {self.prefix_search!r}"
            )
        if self.proximity_precision not in ("byWord", "byAttribute"):
            raise ConfigError(
                "proximity_precision must be 'byWord' or 'byAttribute', "
                f"got {self.proximity_precision!r}"
            )
        if self.ranking_rules is not None:
            from meilibridge_spark.operators.ranking import resolve_ranking

            try:
                resolve_ranking(self)
            except ValueError as e:
                raise ConfigError(str(e)) from None
        if self.faceting_sort_by not in ("alpha", "count"):
            raise ConfigError(
                "faceting_sort_by must be 'alpha' or 'count', got "
                f"{self.faceting_sort_by!r}"
            )
        seen_facets = set()
        for pair in self.faceting_sort_by_rules:
            if len(pair) != 2:
                raise ConfigError(
                    "faceting_sort_by_rules entries must be "
                    f"(facet, rule) pairs, got {pair!r}"
                )
            facet, rule = pair
            if not facet or facet == "*":
                # the '*' default lives in faceting_sort_by — one home
                # per setting, like the endpoint's map
                raise ConfigError(
                    "faceting_sort_by_rules facet names must be "
                    "non-empty and not '*' (set faceting_sort_by for "
                    f"the default rule), got {facet!r}"
                )
            if rule not in ("alpha", "count"):
                raise ConfigError(
                    "faceting_sort_by_rules rules must be 'alpha' or "
                    f"'count', got {rule!r} for facet {facet!r}"
                )
            if facet in seen_facets:
                raise ConfigError(
                    f"duplicate faceting_sort_by_rules facet {facet!r}"
                )
            seen_facets.add(facet)
        if self.faceting_max_values < 1:
            raise ConfigError("faceting_max_values must be >= 1")
        if self.search_cutoff_ms is not None and self.search_cutoff_ms <= 0:
            # Meilisearch: invalid_settings_search_cutoff_ms (positive int)
            raise ConfigError("search_cutoff_ms must be a positive integer")
        names = [n for n, _ in self.embedders]
        if len(set(names)) != len(names):
            raise ConfigError("duplicate embedder name")
        for n, dim in self.embedders:
            if not isinstance(n, str) or not n:
                raise ConfigError(
                    f"embedder names must be non-empty strings, got {n!r}"
                )
            if not isinstance(dim, int) or dim < 1:
                raise ConfigError(
                    f"embedder {n!r} dimensions must be an int >= 1, "
                    f"got {dim!r}"
                )
        declared = {n for n, _ in self.embedders}
        for n in self.binary_quantized_embedders:
            if n not in declared:
                raise ConfigError(
                    f"binary_quantized_embedders names a missing "
                    f"embedder {n!r} (declared: {sorted(declared)})"
                )
        if len(set(self.binary_quantized_embedders)) != len(
            self.binary_quantized_embedders
        ):
            raise ConfigError("duplicate binary_quantized_embedders name")
        for rule in self.filterable_attribute_rules:
            if len(rule) != 4:
                raise ConfigError(
                    "filterable_attribute_rules entries must be "
                    "(patterns, facet_search, equality, comparison) "
                    f"4-tuples, got {rule!r}"
                )
            patterns, fs, eq, cmp_ = rule
            if isinstance(patterns, str) or not patterns:
                raise ConfigError(
                    "filterable_attribute_rules patterns must be a "
                    f"non-empty tuple of attribute patterns, got {patterns!r}"
                )
            for p in patterns:
                if not isinstance(p, str) or not p:
                    raise ConfigError(
                        f"attribute patterns must be non-empty strings, "
                        f"got {p!r}"
                    )
                if "*" in p and not (p == "*" or p.endswith("*")):
                    # Meilisearch attributePatterns: '*' alone or as a
                    # trailing wildcard only
                    raise ConfigError(
                        f"attribute pattern {p!r}: '*' is only valid "
                        "alone or as a trailing wildcard"
                    )
            for flag, name in ((fs, "facet_search"), (eq, "equality"),
                               (cmp_, "comparison")):
                if not isinstance(flag, bool):
                    raise ConfigError(
                        f"filterable_attribute_rules {name} must be a "
                        f"bool, got {flag!r}"
                    )
        if self.geo_attributes is not None and (
            isinstance(self.geo_attributes, str)
            or len(self.geo_attributes) != 2
            or not all(isinstance(a, str) and a for a in self.geo_attributes)
        ):
            raise ConfigError(
                "geo_attributes must be a (lat_col, lng_col) pair of "
                f"column names, got {self.geo_attributes!r}"
            )

    def normalized_name(self) -> str:
        """Reference normalizes names: spaces -> dashes (config/config.go)."""
        return self.index_name.strip().replace(" ", "-")

    @staticmethod
    def parse_filterable_setting(
        entries,
    ) -> "tuple[tuple[str, ...], tuple[tuple, ...]]":
        """Split the endpoint's mixed ``filterableAttributes`` value —
        plain strings and/or v1.12 ``{"attributePatterns": [...],
        "features": {...}}`` objects — into the
        ``(filterable_attributes, filterable_attribute_rules)`` pair
        this config stores. Object defaults are the endpoint's:
        ``facetSearch=false``, ``filter.equality=true``,
        ``filter.comparison=false``."""
        plain: "list[str]" = []
        rules: "list[tuple]" = []
        for e in entries:
            if isinstance(e, str):
                plain.append(e)
                continue
            if not isinstance(e, dict) or "attributePatterns" not in e:
                raise ConfigError(
                    "filterableAttributes entries must be attribute "
                    "names or {attributePatterns, features} objects, "
                    f"got {e!r}"
                )
            feats = e.get("features") or {}
            filt = feats.get("filter") or {}
            rules.append((
                tuple(e["attributePatterns"]),
                bool(feats.get("facetSearch", False)),
                bool(filt.get("equality", True)),
                bool(filt.get("comparison", False)),
            ))
        return tuple(plain), tuple(rules)

    def filter_features(self, attr: str) -> "dict | None":
        """Resolve ``attr`` against the filterable declarations ->
        ``{"facet_search": bool, "equality": bool, "comparison": bool}``
        or ``None`` when the attribute is not filterable at all.

        Plain ``filterable_attributes`` strings grant every feature
        (pre-v1.12 behavior); otherwise the FIRST
        ``filterable_attribute_rules`` entry with a matching pattern
        (exact, trailing-``*`` prefix, or ``"*"``) decides — the
        endpoint's order-sensitive first-match rule."""
        if attr in self.filterable_attributes:
            return {"facet_search": True, "equality": True,
                    "comparison": True}
        for patterns, fs, eq, cmp_ in self.filterable_attribute_rules:
            for p in patterns:
                if (
                    p == "*"
                    or p == attr
                    or (p.endswith("*") and attr.startswith(p[:-1]))
                ):
                    return {"facet_search": fs, "equality": eq,
                            "comparison": cmp_}
        return None

    def filterable_surface(self) -> list:
        """The ``filterableAttributes`` setting value in the endpoint's
        mixed shape: plain strings for the legacy entries, the
        ``{"attributePatterns": ..., "features": ...}`` object form for
        granular rules (Meilisearch v1.12)."""
        out: list = list(self.filterable_attributes)
        for patterns, fs, eq, cmp_ in self.filterable_attribute_rules:
            out.append({
                "attributePatterns": list(patterns),
                "features": {
                    "facetSearch": fs,
                    "filter": {"equality": eq, "comparison": cmp_},
                },
            })
        return out

    def facet_sort_map(self) -> dict:
        """The ``faceting.sortFacetValuesBy`` map in the endpoint's
        shape: ``{"*": <default rule>, <facet>: <rule>, ...}`` —
        ``faceting_sort_by`` as the ``"*"`` entry plus the per-facet
        overrides. Feed directly to
        ``relational.facet_distribution(sort_by=)``."""
        return {"*": self.faceting_sort_by, **dict(self.faceting_sort_by_rules)}

    def to_json_dict(self) -> dict:
        """JSON-serializable form of the FULL config (analyzer and typo
        settings included — unlike the snapshot manifest's settings
        surface, which only carries what loaders must adopt). Used by
        the dump exporter; round-trips through :meth:`from_json_dict`.
        """
        import dataclasses

        return dataclasses.asdict(self)

    @classmethod
    def from_json_dict(cls, d: dict) -> "IndexConfig":
        """Rebuild an IndexConfig from :meth:`to_json_dict` output after
        a JSON round-trip (lists back to the tuples the frozen
        dataclasses use; nested analyzer/typo reconstructed)."""
        an = d.get("analyzer") or {}
        ty = d.get("typo") or {}
        analyzer = AnalyzerConfig(
            token_pattern=an.get("token_pattern", DEFAULT_TOKEN_PATTERN),
            lowercase=bool(an.get("lowercase", True)),
            stop_words=tuple(an.get("stop_words") or ()),
            synonyms=tuple(
                (w, tuple(g)) for w, g in (an.get("synonyms") or ())
            ),
            dictionary=tuple(an.get("dictionary") or ()),
            separator_tokens=tuple(an.get("separator_tokens") or ()),
            non_separator_tokens=tuple(
                an.get("non_separator_tokens") or ()
            ),
        )
        typo = TypoToleranceConfig(
            enabled=bool(ty.get("enabled", True)),
            one_typo=int(ty.get("one_typo", 5)),
            two_typos=int(ty.get("two_typos", 9)),
            disable_on_words=tuple(ty.get("disable_on_words") or ()),
            disable_on_attributes=tuple(
                ty.get("disable_on_attributes") or ()
            ),
            disable_on_numbers=bool(ty.get("disable_on_numbers", False)),
        )
        geo = d.get("geo_attributes")
        cfg = cls(
            index_name=d["index_name"],
            primary_key=tuple(d.get("primary_key") or ("conv_id", "turn_idx")),
            fields=tuple((k, v) for k, v in (d.get("fields") or ())),
            searchable_attributes=tuple(
                d.get("searchable_attributes") or ("text",)
            ),
            displayed_attributes=tuple(d.get("displayed_attributes") or ()),
            filterable_attributes=tuple(d.get("filterable_attributes") or ()),
            filterable_attribute_rules=tuple(
                (tuple(pats), bool(fs), bool(eq), bool(cmp_))
                for pats, fs, eq, cmp_ in (
                    d.get("filterable_attribute_rules") or ()
                )
            ),
            filter_fold_case=bool(d.get("filter_fold_case", False)),
            sortable_attributes=tuple(d.get("sortable_attributes") or ()),
            distinct_attribute=d.get("distinct_attribute"),
            geo_attributes=tuple(geo) if geo else None,
            analyzer=analyzer,
            typo=typo,
            words_ranking=bool(d.get("words_ranking", False)),
            ranking_rules=(
                tuple(d["ranking_rules"])
                if d.get("ranking_rules")
                else None
            ),
            prefix_search=d.get("prefix_search", "indexingTime"),
            facet_search=bool(d.get("facet_search", True)),
            proximity_precision=d.get("proximity_precision", "byWord"),
            faceting_max_values=int(d.get("faceting_max_values", 100)),
            faceting_sort_by=d.get("faceting_sort_by", "alpha"),
            faceting_sort_by_rules=tuple(
                (f, r) for f, r in (d.get("faceting_sort_by_rules") or ())
            ),
            embedders=tuple(
                (n, int(dim)) for n, dim in (d.get("embedders") or ())
            ),
            binary_quantized_embedders=tuple(
                d.get("binary_quantized_embedders") or ()
            ),
            search_cutoff_ms=(
                int(d["search_cutoff_ms"])
                if d.get("search_cutoff_ms") is not None
                else None
            ),
            k1=float(d.get("k1", DEFAULT_K1)),
            b=float(d.get("b", DEFAULT_B)),
            max_total_hits=int(d.get("max_total_hits", DEFAULT_MAX_TOTAL_HITS)),
            n_salts=int(d.get("n_salts", 8)),
            block_size=int(d.get("block_size", DEFAULT_BLOCK_SIZE)),
            shard_range=int(d.get("shard_range", 1 << 14)),
        )
        cfg.validate()
        return cfg

    def projection(self) -> list[tuple[str, str]]:
        """(source_col, out_col) pairs; S7 updateItemKeys semantics:
        keep only listed keys, rename when value non-empty."""
        return [(k, v or k) for k, v in self.fields]


#: settings whose change invalidates the stored index bytes in THIS
#: engine (tokenization inputs + the indexed-text assembly; see
#: functions/tokenizer.tokenize — stop words, dictionary compounds and
#: separators apply at BUILD time). Query-time settings (synonyms,
#: typo, ranking rules, faceting, filterable/sortable, pagination,
#: prefix/facet search, cutoff) re-apply on the existing snapshot —
#: Meilisearch reindexes for more of these because its data structures
#: bake them in; this engine's split is pinned by
#: tests/test_settings_patch.py.
REINDEX_SETTINGS = frozenset({
    "searchableAttributes",
    "stopWords",
    "dictionary",
    "separatorTokens",
    "nonSeparatorTokens",
})


def apply_settings_patch(
    cfg: IndexConfig, patch: dict
) -> "tuple[IndexConfig, bool, list[str]]":
    """``PATCH /settings`` analog: fold a partial camelCase settings
    object into ``cfg`` -> ``(new_cfg, reindex_required, changed)``.

    Meilisearch PATCH semantics: only the provided keys change;
    ``null`` resets a setting to its default (the per-setting DELETE
    analog). Unknown keys raise (invalid_settings_* analog).
    ``reindex_required`` is True when any changed key is in
    :data:`REINDEX_SETTINGS` — the caller then rebuilds (the endpoint
    enqueues the reindex task itself; here the split is explicit
    because a 100 TB rebuild is a decision, not a side effect) — or
    when an embedder flips ``binaryQuantized`` (documented one-way per
    index build, config docstring). ``changed`` lists the accepted
    keys whose value actually changed.
    """
    import dataclasses

    defaults = IndexConfig(index_name=cfg.index_name)
    new = cfg
    changed: "list[str]" = []

    def _set(**kw):
        nonlocal new
        new = dataclasses.replace(new, **kw)

    def _val(key, value, default):
        return default if value is None else value

    for key, value in patch.items():
        before = new
        if key == "searchableAttributes":
            _set(searchable_attributes=tuple(
                _val(key, value, defaults.searchable_attributes)
            ))
        elif key == "displayedAttributes":
            _set(displayed_attributes=tuple(value or ()))
        elif key == "filterableAttributes":
            plain, rules = IndexConfig.parse_filterable_setting(value or ())
            _set(filterable_attributes=plain,
                 filterable_attribute_rules=rules)
        elif key == "sortableAttributes":
            _set(sortable_attributes=tuple(value or ()))
        elif key == "distinctAttribute":
            _set(distinct_attribute=value)
        elif key == "rankingRules":
            _set(ranking_rules=tuple(value) if value else None)
        elif key == "stopWords":
            _set(analyzer=dataclasses.replace(
                new.analyzer, stop_words=tuple(value or ())
            ))
        elif key == "synonyms":
            syn = tuple(
                (w, tuple(alts)) for w, alts in sorted((value or {}).items())
            )
            _set(analyzer=dataclasses.replace(new.analyzer, synonyms=syn))
        elif key == "dictionary":
            _set(analyzer=dataclasses.replace(
                new.analyzer, dictionary=tuple(value or ())
            ))
        elif key == "separatorTokens":
            _set(analyzer=dataclasses.replace(
                new.analyzer, separator_tokens=tuple(value or ())
            ))
        elif key == "nonSeparatorTokens":
            _set(analyzer=dataclasses.replace(
                new.analyzer, non_separator_tokens=tuple(value or ())
            ))
        elif key == "typoTolerance":
            v = value or {}
            mw = v.get("minWordSizeForTypos") or {}
            _set(typo=dataclasses.replace(
                new.typo if value is not None else defaults.typo,
                **{
                    k2: v2 for k2, v2 in {
                        "enabled": v.get("enabled"),
                        "one_typo": mw.get("oneTypo"),
                        "two_typos": mw.get("twoTypos"),
                        "disable_on_words": (
                            tuple(v["disableOnWords"])
                            if "disableOnWords" in v else None
                        ),
                        "disable_on_attributes": (
                            tuple(v["disableOnAttributes"])
                            if "disableOnAttributes" in v else None
                        ),
                        "disable_on_numbers": v.get("disableOnNumbers"),
                    }.items() if v2 is not None
                },
            ))
        elif key == "faceting":
            v = value or {}
            kw = {}
            if value is None or "maxValuesPerFacet" in v:
                kw["faceting_max_values"] = (
                    defaults.faceting_max_values if value is None
                    else v["maxValuesPerFacet"]
                )
            if value is None or "sortFacetValuesBy" in v:
                m = dict(v.get("sortFacetValuesBy") or {})
                kw["faceting_sort_by"] = m.pop("*", "alpha")
                kw["faceting_sort_by_rules"] = tuple(sorted(m.items()))
            _set(**kw)
        elif key == "pagination":
            v = value or {}
            _set(max_total_hits=(
                defaults.max_total_hits if value is None
                else v.get("maxTotalHits", new.max_total_hits)
            ))
        elif key == "proximityPrecision":
            _set(proximity_precision=_val(
                key, value, defaults.proximity_precision
            ))
        elif key == "searchCutoffMs":
            _set(search_cutoff_ms=value)
        elif key == "prefixSearch":
            _set(prefix_search=_val(key, value, defaults.prefix_search))
        elif key == "facetSearch":
            _set(facet_search=bool(_val(key, value, defaults.facet_search)))
        elif key == "embedders":
            embs, binq = [], []
            for name, spec in sorted((value or {}).items()):
                src = (spec or {}).get("source", "userProvided")
                if src != "userProvided":
                    raise ConfigError(
                        f"embedder {name!r}: only source='userProvided' "
                        f"is supported (got {src!r}) — vectors are "
                        "inputs, the engine is embedder-model-agnostic"
                    )
                embs.append((name, int(spec["dimensions"])))
                if spec.get("binaryQuantized"):
                    binq.append(name)
            _set(embedders=tuple(embs),
                 binary_quantized_embedders=tuple(binq))
        else:
            raise ConfigError(f"unknown setting {key!r}")
        if new != before:
            changed.append(key)

    reindex = any(k in REINDEX_SETTINGS for k in changed)
    if "embedders" in changed and (
        set(cfg.binary_quantized_embedders)
        != set(new.binary_quantized_embedders)
    ):
        # binaryQuantized is one-way per index build (config docstring)
        reindex = True
    new.validate()
    return new, reindex, changed
