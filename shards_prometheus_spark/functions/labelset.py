"""Shared label-set primitives over the MAP<STRING,STRING> model.

SURVEY §1.2 generalizes the reference's single Label/Value pair
(prometheus.cpp:105-110) to a full Prometheus label map. Everything
that touches labels — the PromQL evaluator, the MetricsRegistry
Tier A surface, and the named operators — goes through these three
primitives so the semantics are defined exactly once:

- ``label_col(key)``: read one label; a MISSING label is the EMPTY
  STRING (PromQL semantics — `{l!="v"}` matches series lacking `l`).
- ``label_str(labels)``: canonical sorted `k=v,...` rendering of a
  label set — deterministic across engines (map iteration order is
  not), used as a grouping/join key for arbitrary label sets.
- ``matcher_sql(matchers)``: PromQL matcher filters (`=`, `!=`,
  `=~`, `!~`; regexes fully anchored) over the map, as one SQL
  predicate (`apply_matchers` / `matcher_condition` wrap it).

All three are pure Catalyst expressions (element_at / transform /
rlike) — whole-stage codegen, no UDFs — so a matcher or grouping on
labels costs the same as one on a flat column after the scan.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def label_col(key: str) -> Column:
    """One label value from the `labels` map; missing ⇒ empty string."""
    return F.coalesce(F.element_at("labels", F.lit(key)), F.lit(""))


def label_cols(keys: Iterable[str]) -> list[Column]:
    """Grouping spine for a label-key subset: `label_<key>` columns
    (PromQL `by (keys)` — series collapse over the omitted labels)."""
    return [label_col(k).alias(f"label_{k}") for k in keys]


def _esc(s: Column) -> Column:
    """Escape the rendering's structural characters (`\\`, `,`, `=`)
    so the canonical string stays INJECTIVE: without this,
    {a="b,c=d"} and {a="b", c="d"} would render identically and
    distinct series would merge in every _series grouping."""
    out = F.replace(s, F.lit("\\"), F.lit("\\\\"))
    out = F.replace(out, F.lit(","), F.lit("\\,"))
    return F.replace(out, F.lit("="), F.lit("\\="))


#: Cached rendering Columns per source-column NAME: the higher-order
#: transform costs ~20 ms of py4j gateway setup per construction, and
#: nearly every call site renders the same `labels` column — Column
#: objects are immutable expression trees, safe to reuse across plans.
_LABEL_STR_CACHE: dict[str, Column] = {}


def label_str(labels: "Column | str") -> Column:
    """Canonical label-set rendering: sorted, escaped `k=v` pairs,
    comma-joined (separator chars inside keys/values are escaped).
    Accepts a column NAME for the cached fast path."""
    if isinstance(labels, str):
        cached = _LABEL_STR_CACHE.get(labels)
        if cached is None:
            cached = label_str(F.col(labels))
            _LABEL_STR_CACHE[labels] = cached
        return cached
    return F.array_join(
        F.transform(
            F.array_sort(F.map_entries(labels)),
            lambda e: F.concat(_esc(e.key), F.lit("="), _esc(e.value)),
        ),
        ",",
    )


def sql_str(s: str) -> str:
    """`s` as a Spark SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def matcher_sql(
    matchers: Iterable[tuple[str, str, str]], metric: "str | None" = None
) -> str:
    """PromQL label matchers over the `labels` map column as ONE SQL
    predicate (`metric` equality first when given) — parsed JVM-side
    in one call, where the same tree built with `F.*` costs a Py4J
    round trip per node.

    ``matchers`` is (label, op, value) triples with op in
    {=, !=, =~, !~}. Missing labels compare as "" and regexes are
    fully anchored — both Prometheus semantics. Anchoring uses
    Java's UNIX_LINES flag ``(?d)`` plus a hard ``\\z`` end anchor:
    without it, Java regex treats ``\\r`` / U+0085 / U+2028 / U+2029
    as line terminators (``.`` skips them, ``$`` matches before
    them) while RE2 — what real Prometheus uses — excludes only
    ``\\n`` from ``.``; a label value like ``"a\\r0"`` would then
    diverge from Prometheus on ``=~"a.*|[0-4]"``.
    """
    terms = [] if metric is None else [f"metric = {sql_str(metric)}"]
    for label, op, val in matchers:
        col = f"coalesce(element_at(labels, {sql_str(label)}), '')"
        anchored = sql_str(f"(?d)^(?:{val})\\z")
        if op == "=":
            terms.append(f"{col} = {sql_str(val)}")
        elif op == "!=":
            terms.append(f"{col} != {sql_str(val)}")
        elif op == "=~":
            terms.append(f"{col} RLIKE {anchored}")
        elif op == "!~":
            terms.append(f"NOT {col} RLIKE {anchored}")
        else:  # pragma: no cover - parser only emits the four ops
            raise ValueError(f"unknown matcher op: {op}")
    return " AND ".join(f"({t})" for t in terms) or "true"


def apply_matchers(
    df: DataFrame, matchers: Iterable[tuple[str, str, str]]
) -> DataFrame:
    """`df` filtered by PromQL label matchers (`matcher_sql`)."""
    matchers = list(matchers)
    return df.filter(F.expr(matcher_sql(matchers))) if matchers else df


def matcher_condition(
    metric: str, matchers: Iterable[tuple[str, str, str]]
) -> Column:
    """The metric equality ∧ every matcher (`matcher_sql`) as ONE
    boolean Column — for callers that need the NEGATION (tombstone
    masking: `df.filter(~cond)`), which a sequence of `.filter` calls
    cannot express."""
    return F.expr(matcher_sql(matchers, metric))
