"""Configurable ranking rules (Meilisearch ``rankingRules`` setting).

The reference ships ``ranking_rules`` as a USER-SUPPLIED list
(``config/type.go:56`` in /root/reference; YAML surface
``config.example.yml:108-116``): Meilisearch lets you reorder or remove
the six built-in rules and insert custom ``field:asc`` / ``field:desc``
rules at any position. This module is the composition layer over the
criteria columns the search paths already compute
(``operators/search.py``): it parses a rule list into tokens and turns
them into an ordered sort key, with the query-time ``sort`` parameter
composed AT the position of the ``sort`` rule (Meilisearch semantics)
instead of as a post-hoc override.

Activation contract (documented deviation-free mapping onto this
engine's optional index tables), applied by :func:`resolve_ranking` —
the one place every search path turns its options into an order. The
legacy ``*_rank`` flags are parse-time sugar over this list: with no
list given, the flags activate criteria over ``DEFAULT_RANKING_RULES``
(an explicit flag whose data is absent is the caller's error). With a
list, a listed built-in rule participates only when its data exists —

- ``words``      — always (matched_terms is always computed);
- ``typo``       — when the caller supplied ``orig_terms``;
- ``proximity``  — when the index carries a positions table (byWord) or
  attrs blocks (byAttribute);
- ``attribute``  — when the index was built ``with_attributes=True``;
- ``sort``       — when the query carries ``sort`` parameters (exactly
  Meilisearch: the sort rule is a no-op for queries without ``sort``;
  this holds for the flag form too);
- ``exactness``  — when the caller supplied ``exact_terms``.

A skipped ``typo`` / ``exactness`` rule is NOT a constant column:
without the data every match counts as exact, so ``matched_exact`` /
``exact_form`` would equal ``matched_terms`` and the rule would order
by the ``words`` count. Skipping it is rank-identical only when
``words`` precedes it in the list. ``search`` has exactness data only
from an explicit ``exact_terms``, while ``search_many`` always uses
the typed query, so under ``["exactness"]`` the two paths order
differently (7 of 21 probe queries on a 60-conversation corpus, all
multi-word, got different top-10s).
The query CLI therefore resolves its driver-scorer test with
``exact_data=True``, the data ``search_many`` uses.

Custom ``field:asc|desc`` rules always participate; the field's values
are joined from the docs table at ranking time (one doc_id equi-join,
AQE-sized). Documents without the field rank AFTER documents that have
it in either direction (nulls last — Meilisearch custom-rule
semantics).
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Meilisearch's default rule list (reference config/type.go:56 carries
#: it verbatim from the user's YAML; Meilisearch default shown in
#: config.example.yml:108-116).
DEFAULT_RANKING_RULES: "tuple[str, ...]" = (
    "words",
    "typo",
    "proximity",
    "attribute",
    "sort",
    "exactness",
)

_BUILTIN = frozenset(DEFAULT_RANKING_RULES)


def parse_ranking_rules(
    rules: "list[str] | tuple[str, ...]",
) -> "list[tuple]":
    """Validate + tokenize a rule list.

    Returns tokens in list order: ``("builtin", name)`` for the six
    built-in rules, ``("custom", field, ascending)`` for
    ``field:asc`` / ``field:desc``. Raises ``ValueError`` on an empty
    list, a duplicate built-in, a malformed custom rule, or an unknown
    name (Meilisearch's invalid_settings_ranking_rules analog).
    """
    if not rules:
        raise ValueError("ranking_rules must be a non-empty list")
    tokens: "list[tuple]" = []
    seen_builtin: set = set()
    for r in rules:
        if not isinstance(r, str) or not r.strip():
            raise ValueError(f"invalid ranking rule {r!r}")
        r = r.strip()
        if r in _BUILTIN:
            if r in seen_builtin:
                raise ValueError(f"duplicate ranking rule {r!r}")
            seen_builtin.add(r)
            tokens.append(("builtin", r))
            continue
        if ":" in r:
            fld, _, direction = r.rpartition(":")
            if direction not in ("asc", "desc") or not fld:
                raise ValueError(
                    f"custom ranking rule {r!r} must be 'field:asc' "
                    "or 'field:desc'"
                )
            if fld in _BUILTIN:
                raise ValueError(
                    f"custom ranking rule field {fld!r} collides with a "
                    "built-in rule name"
                )
            tokens.append(("custom", fld, direction == "asc"))
            continue
        raise ValueError(
            f"unknown ranking rule {r!r}: expected one of "
            f"{sorted(_BUILTIN)} or 'field:asc'/'field:desc'"
        )
    return tokens


def rules_doc_fields(
    tokens: "list[tuple]",
    sort_params: "list[tuple[str, bool]] | None",
) -> "list[str]":
    """Docs columns a tokenized rule list needs joined in: custom-rule
    fields plus (when the list has a ``sort`` slot and the query
    carries sort params) the sort fields, deduped in first-use order."""
    fields: "list[str]" = []
    for tok in tokens:
        if tok[0] == "custom" and tok[1] not in fields:
            fields.append(tok[1])
        elif tok[0] == "builtin" and tok[1] == "sort" and sort_params:
            for fld, _ in sort_params:
                if fld not in fields:
                    fields.append(fld)
    return fields


def compose_order(
    tokens: "list[tuple]",
    active: "dict[str, bool]",
    sort_params: "list[tuple[str, bool]] | None" = None,
) -> "list[Column]":
    """The ordered Column sort key for a tokenized rule list, ahead of
    the engine's final (score desc, doc_id asc) tie-break.

    ``active`` says which built-in criteria have data this query
    (see module docstring); inactive listed rules are skipped.
    Column-name contract (the criteria columns the search paths emit):
    words→matched_terms desc, typo→matched_exact desc,
    proximity→prox_cost asc, attribute→best_attr asc,
    exactness→exact_form desc; sort→the ``sort_params`` fields in
    order; custom→the field itself, nulls last both ways."""
    order: "list[Column]" = []
    for tok in tokens:
        if tok[0] == "custom":
            _, fld, asc = tok
            order.append(
                F.col(fld).asc_nulls_last()
                if asc
                else F.col(fld).desc_nulls_last()
            )
            continue
        name = tok[1]
        if not active.get(name):
            continue
        if name == "words":
            order.append(F.col("matched_terms").desc())
        elif name == "typo":
            order.append(F.col("matched_exact").desc())
        elif name == "proximity":
            order.append(F.col("prox_cost").asc())
        elif name == "attribute":
            order.append(F.col("best_attr").asc())
        elif name == "sort":
            for fld, asc in sort_params or ():
                order.append(
                    F.col(fld).asc_nulls_last()
                    if asc
                    else F.col(fld).desc_nulls_last()
                )
        elif name == "exactness":
            order.append(F.col("exact_form").desc())
    return order


class RankingPlan(NamedTuple):
    """A resolved ranking order: rule ``tokens`` (parse_ranking_rules
    form), the ``active`` built-in criteria, the docs ``doc_fields``
    the order joins in (rules_doc_fields) and the query's
    ``sort_params``."""

    tokens: "list[tuple]"
    active: "dict[str, bool]"
    doc_fields: "list[str]"
    sort_params: "list[tuple[str, bool]] | None" = None

    @property
    def score_only(self) -> bool:
        """Nothing orders hits ahead of (score desc, doc_id asc)."""
        return not any(self.active.values()) and all(
            t[0] == "builtin" for t in self.tokens
        )

    def order(self, matched: bool = True) -> "list[Column]":
        """The composed sort key (compose_order). ``matched=False`` is
        the placeholder form: nothing matched, so every matching
        criterion is vacuously inactive and only the doc-field rules
        (custom rules, an active ``sort``) order the candidates."""
        active = (
            self.active if matched else {"sort": self.active.get("sort")}
        )
        return compose_order(self.tokens, active, self.sort_params)


def resolve_ranking(
    cfg,
    index=None,
    ranking_rules: "list[str] | tuple[str, ...] | None" = None,
    sort_params: "list[tuple[str, bool]] | None" = None,
    *,
    words: "bool | None" = None,
    typo: bool = False,
    proximity: bool = False,
    attribute: bool = False,
    exactness: bool = False,
    typo_data: bool = False,
    exact_data: bool = False,
) -> RankingPlan:
    """Resolve one query's ranking order (module docstring contract).

    The list is ``ranking_rules``, else ``cfg.ranking_rules``. Without
    one, the legacy flags (``words`` defaulting to
    ``cfg.words_ranking``) activate criteria over
    ``DEFAULT_RANKING_RULES`` — rank-identical to the flag chain, and
    with no ``sort_params`` no doc field is needed. With one, the list
    decides: a listed built-in is active when its data exists —
    ``typo_data`` / ``exact_data`` from the query, proximity and
    attribute from ``index``'s tables (``index=None``: none). Raises
    ``ValueError`` on an invalid list or, given ``index``, on rule /
    sort fields missing from its docs table."""
    rules = ranking_rules if ranking_rules is not None else cfg.ranking_rules
    tokens = parse_ranking_rules(
        DEFAULT_RANKING_RULES if rules is None else rules
    )
    if rules is None:
        active = {
            "words": cfg.words_ranking if words is None else words,
            "typo": typo,
            "proximity": proximity,
            "attribute": attribute,
            "exactness": exactness,
        }
    else:
        attrs = index is not None and index.attrs is not None
        data = {
            "words": True,
            "typo": typo_data,
            "proximity": index is not None
            and (
                index.positions is not None
                or (cfg.proximity_precision == "byAttribute" and attrs)
            ),
            "attribute": attrs,
            "exactness": exact_data,
        }
        listed = {t[1] for t in tokens if t[0] == "builtin"}
        active = {name: name in listed and ok for name, ok in data.items()}
    active["sort"] = bool(sort_params) and any(
        t == ("builtin", "sort") for t in tokens
    )
    fields = rules_doc_fields(tokens, sort_params)
    if fields and index is not None:
        missing = set(fields) - set(index.docs.columns)
        if missing:
            raise ValueError(
                f"ranking rule / sort fields not in docs: {sorted(missing)}"
            )
    return RankingPlan(tokens, active, fields, sort_params)
