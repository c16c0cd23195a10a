"""Recording and alerting rules — the Prometheus-server surface the
reference delegates to its paired server (the reference's shards only
*feed* a Prometheus instance, prometheus.cpp:27-93; rule evaluation is
what that server runs against the scraped store).

- `recording_rules`: a fixed rule group evaluated through the PromQL
  string evaluator; each rule's result vector is re-labeled with the
  rule's record name (`level:metric:operation` naming convention) and
  unioned — the derived-series relation a scheduler would append back
  to the store each interval.
- `alert_rules`: alert definitions (name, expr) whose expr is a PromQL
  comparison; surviving series are the FIRING set. The demo group has
  a scale-invariant threshold (above-average user click volume — a
  vector > scalar(avg(...)) comparison, so the rule is meaningful at
  every SF) and an `absent()` liveness alert (fires while the probed
  metric has no samples — the standard dead-exporter page).

One rule path: `eval_rule_file` is the only code that evaluates a rule
group — a user's rules.yml, the built-in groups (`BUILTIN_RULE_FILE`,
generated from the rule constants below) and the registered
`rules_chained` / `rules_from_file` queries all go through it, and the
ALERTS / ALERTS_FOR_STATE series derive from the same pass.

One alert-state derivation: `_alert_states` is the only code that
decides whether a `for:` / `keep_firing_for:` alert is firing or
pending. It builds each rule's expression once; the firing sets of
`eval_rule_file`, `eval_alert_for_group` and `eval_alert_keep_group`
and the ALERTS series are projections of its one relation. The one
other decision is `_eval_threshold_batch`, the fused scan the
registered `alert_rules_for` query runs for same-shape threshold
rules, whose count equals the run test on a step-multiple `for:`.

Scale shape: each rule is one evaluator plan (one scan per selector
leaf; the evaluation time is a literal column); the union is
plan-level, not a driver loop over collected results. Rule GROUPS
evaluate independently — on a cluster each group is its own job,
exactly how a Prometheus server schedules them.
"""

from __future__ import annotations

import functools
import re

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from shards_prometheus_spark.functions.promql_parser import (
    SAMPLES_MULTI_CTE,
    _H24_US,
    _H48_US,
    _H72_US,
    _H240_US,
    _H720_US,
    _T_CTE,
    Agg,
    BinOp,
    PromQLEvaluator,
    RangeFn,
    ScalarFn,
    Selector,
    Subquery,
    _agg_labels,
    _grid_cte,
    _grid_increase_cte,
    _increase_cte,
    data_time_us,
    parse,
)
from shards_prometheus_spark.functions.labelset import label_str
from shards_prometheus_spark.model import dround
from shards_prometheus_spark.operators.tierc_common import _memo_persist

#: (record_name, expr) — the Prometheus `record:` rule group.
RECORDING_RULES: list[tuple[str, str]] = [
    ("user:click:rate720h", "sum by (user) (rate(click[720h]))"),
    (
        "user:purchase:increase720h",
        "sum by (user) (increase(purchase[720h]))",
    ),
]

#: (alertname, expr) — `alert:` rules; expr is a PromQL comparison
#: whose surviving series are the firing set.
ALERT_RULES: list[tuple[str, str]] = [
    (
        "AboveAverageClickVolume",
        "sum by (user) (increase(click[720h])) > "
        "scalar(avg(sum by (user) (increase(click[720h]))))",
    ),
    ("MissingTemperatureMetric", "absent(temperature)"),
]


def eval_rule_group(
    ev: PromQLEvaluator,
    rules: list[tuple[str, str]],
    name_col: str,
) -> DataFrame:
    """Evaluate a rule group against ANY samples relation (batch
    parquet or a streamed sink table) — each rule's result vector
    labeled with its rule name, unioned plan-level."""
    return _union_all(
        [
            ev.eval(expr).select(
                F.lit(name).alias(name_col), "labels", "value"
            )
            for name, expr in rules
        ]
    )


def _union_all(parts: "list[DataFrame]") -> DataFrame:
    """The plan-level union of same-schema relations."""
    return functools.reduce(DataFrame.unionByName, parts)


#: (kind, name, expr) — a LAYERED rule group: later rules select
#: earlier rules' record names (the documented level:metric:operation
#: best practice). Layer 2 consumes layer 1's record; the alert
#: consumes layer 2's — both resolvable only through chaining.
CHAINED_RULE_GROUP: list[tuple[str, str, str]] = [
    ("record", "user:click:rate720h", RECORDING_RULES[0][1]),
    ("record", "user:click:rate720h:daily", "user:click:rate720h * 86400"),
    (
        "alert",
        "AboveAverageDailyClickRate",
        "user:click:rate720h:daily > "
        "scalar(avg(user:click:rate720h:daily))",
    ),
]


#: (alertname, expr, for_us, step_us) — alert rules with a `for:` hold
#: duration: the rule FIRES only if its comparison holds at EVERY
#: rule-evaluation instant in the trailing `for:` window (Prometheus
#: pending→firing semantics; an instant where the comparison fails
#: resets the pending clock, which in batch form is exactly
#: "present at every grid instant"). Thresholds are scalar(avg(...))
#: so both rules are meaningful at every SF.
ALERT_FOR_RULES: list[tuple[str, str, int, int]] = [
    (
        "SustainedAboveAverageClicks",
        "sum by (user) (increase(click[240h])) > "
        "scalar(avg(sum by (user) (increase(click[240h]))))",
        _H72_US,
        _H24_US,
    ),
    (
        "SustainedBelowAverageViews",
        "sum by (user) (increase(view[240h])) < "
        "scalar(avg(sum by (user) (increase(view[240h]))))",
        _H72_US,
        _H24_US,
    ),
    # absent() through eval_range — the dead-exporter page with a
    # hold window (needs the r8 grid absent path: a rule group is
    # evaluated via eval_range, so an absent() rule used to be
    # rejected outright)
    (
        "SustainedMissingTemperature",
        "absent(temperature)",
        _H72_US,
        _H24_US,
    ),
]


def _threshold_rule_shape(expr: str):
    """Parse-level pattern probe for the canonical vectorizable alert
    rule ``sum by (K) (rate|increase(metric[R])) CMP
    scalar(avg(<same LHS>))`` — no matchers, offset, @, or bool.
    Returns (metric, cmp_op, by-tuple, fold_fn, range_us) or None.
    Rules of this shape differing ONLY in metric and comparison
    direction evaluate over ONE shared windowed scan with metric as a
    grouping dimension (guide §2.4: the per-rule plans were N
    identical trees over N disjoint metric slices of the same scan)."""
    try:
        n = parse(expr)
    except Exception:
        return None
    if (
        not isinstance(n, BinOp)
        or n.op not in {">", "<", ">=", "<="}
        or n.bool_mode
        or n.match is not None
        or n.group is not None
    ):
        return None
    lhs, rhs = n.lhs, n.rhs
    if not (isinstance(rhs, ScalarFn) and isinstance(rhs.expr, Agg)):
        return None
    ra = rhs.expr
    if (
        ra.op != "avg"
        or ra.by
        or ra.mode != "by"
        or ra.k is not None
        or ra.param is not None
        or ra.expr != lhs
    ):
        return None
    if not (
        isinstance(lhs, Agg)
        and lhs.op == "sum"
        and lhs.mode == "by"
        and lhs.by
        and lhs.k is None
        and lhs.param is None
    ):
        return None
    rf = lhs.expr
    if not (
        isinstance(rf, RangeFn)
        and rf.fn in {"rate", "increase"}
        and rf.param is None
        and isinstance(rf.sel, Selector)
    ):
        return None
    sel = rf.sel
    if (
        sel.matchers
        or sel.offset_us
        or sel.at_us is not None
        or sel.range_us is None
        or sel.metric.endswith("_bucket")
    ):
        return None
    return sel.metric, n.op, tuple(lhs.by), rf.fn, sel.range_us


def _eval_threshold_batch(
    ev: PromQLEvaluator,
    batch: "list[tuple[str, str, str]]",
    by: "tuple[str, ...]",
    fn: str,
    range_us: int,
    span_us: int,
    step_us: int,
    name_col: str,
) -> DataFrame:
    """Vectorized evaluation of a batch of same-shape threshold alert
    rules (see `_threshold_rule_shape`) over ONE shared scan: metric
    rides as a grouping dimension through the same pipeline the
    evaluator runs per rule — identical window, fold, pins (6dp
    compare, 4dp output) and per-instant avg threshold, so each
    metric slice of the result equals the per-rule plan's rows
    exactly. `batch` is (alertname, metric, cmp_op) triples."""
    sub = Subquery(None, span_us, step_us)
    gp = ev.grid_points_py(sub)
    ng = len(gp)
    metrics = [m for (_n, m, _o) in batch]
    base = ev.samples.filter(F.col("metric").isin(metrics))
    if "stale" in base.columns:
        base = base.filter(~F.coalesce(F.col("stale"), F.lit(False)))
    if gp:
        # driver-known span pre-filter (scan pushdown; rows outside
        # join no instant — the _gwindow convention)
        base = base.filter(
            (F.col("ts_us") <= F.lit(max(gp)))
            & (F.col("ts_us") > F.lit(min(gp) - range_us))
        )
    base = ev._lagged(base)
    wlo = F.col("_ets") - F.lit(range_us)
    df = base.join(
        F.broadcast(ev._grid(sub)),
        (F.col("ts_us") <= F.col("_ets")) & (F.col("ts_us") > wlo),
    )
    # per-(metric, series, instant) rate/increase — metric joins the
    # keys only to survive the fold (it is functionally dependent on
    # series_id, so the groups are unchanged)
    pts = ev._range_fold(
        df, ["metric", "series_id", "_ets"], fn, range_us,
        lagged=True, wlo=wlo,
    )
    # sum by (K) per metric — the _gagg by-mode fold
    agg = pts.groupBy(
        "metric", "_ets", F.expr(_agg_labels("by", list(by))).alias("labels")
    ).agg(F.sum("value").alias("value"))
    # `v ⋄ scalar(avg(v))`: the threshold as a window over the same
    # rows, per (metric, instant) — the _binop windowable-agg path
    w = Window.partitionBy("metric", "_ets")
    vec = agg.withColumn("_sc_v", F.avg("value").over(w))
    v6 = F.round(F.col("value"), 6)
    cmp = {
        ">": v6 > F.col("_sc_v"),
        ">=": v6 >= F.col("_sc_v"),
        "<": v6 < F.col("_sc_v"),
        "<=": v6 <= F.col("_sc_v"),
    }
    cond = F.lit(False)
    for _name, m, op in batch:
        cond = cond | ((F.col("metric") == m) & cmp[op])
    g = vec.filter(cond).select(
        "metric",
        F.col("_ets").alias("ts_us"),
        label_str("labels").alias("labels"),
        F.round("value", 4).alias("value"),
    )
    name = F.when(F.lit(False), F.lit(""))
    for rname, m, _op in batch:
        name = name.when(F.col("metric") == m, F.lit(rname))
    return (
        g.groupBy("metric", "labels")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.max(F.struct("ts_us", "value")).alias("_last"),
        )
        .filter(F.col("_n") == F.lit(ng))
        .select(
            name.alias(name_col),
            "labels",
            F.col("_last.value").alias("value"),
        )
    )


def _alert_states(
    ev: PromQLEvaluator,
    name: str,
    expr: str,
    for_us: int,
    keep_us: int,
    step_us: int,
) -> DataFrame:
    """The one derivation of a `for:` / `keep_firing_for:` alert's
    state at the latest evaluation instant T: every ACTIVE alert as
    (alertname, labels MAP, alertstate firing|pending, active_at_us,
    value). Upstream's rules/alerting.go keeps the same per-alert
    state in memory; here it is recomputed COLD from the start of the
    rule's hold span — the restarted-server convention, so a run
    longer than the span clamps its ActiveAt to the span start.

    The comparison only emits instants where it HOLDS and grid
    instants are step-aligned, so a run of consecutive trues is a
    lag-gap island: a true instant opens a run iff its predecessor is
    not exactly one step earlier. Over the true instants t of one
    label set (one window pass: lag 1, lag K, lead 1):

    - firing_raw(t) ⇔ ``t - run_start(t) >= for`` (upstream's
      ``now - ActiveAt >= for``, for ANY for/step ratio). Run lengths
      are whole steps, so that is a run of K = ⌈for/step⌉ steps
      ending at t: the K-th earlier true instant is t - K·step.
    - a KILL follows t iff some FALSE instant ts in the gap after it
      satisfies ``ts - keep_since >= keep``, where keep_since —
      upstream's KeepFiringSince — is the first false instant,
      t + step. The largest false instant before the next true nt is
      nt - step, so the gap kills iff ``nt - t >= keep + 2·step``;
      after the last true the largest false instant is T itself, so
      the tail kills iff ``T - t >= keep + step``. With keep = 0 any
      false instant kills: a `for:` alert fires iff its run at T has
      lasted `for`.
    - FIRING ⇔ the latest firing_raw instant is later than the latest
      kill (a kill always falls strictly before the next true, so
      comparing the true instants the gaps start at is exact).
      ACTIVE ⇔ firing or true at T; PENDING otherwise. ActiveAt is the
      start of the run holding the last true instant, and the value
      the last true instant's — what a held alert keeps exporting.

    Span: ``K·step + step`` without keep (`for + step` for a
    step-multiple `for:`; the span always holds a run of K steps),
    ``for + keep + 4·step`` with it. One plan per rule; the window
    partitions and the groupBy are per label set, never
    corpus-sized."""
    k = -(-for_us // step_us)
    span_us = (
        for_us + keep_us + 4 * step_us if keep_us else (k + 1) * step_us
    )
    g = ev.eval_range_map(expr, span_us, step_us)
    # grid end as a literal — driver-side integer arithmetic off the
    # pinned t_max
    t_end = max(ev.grid_points_py(Subquery(None, span_us, step_us)))
    ts = F.col("ts_us")
    w = Window.partitionBy("_k").orderBy("ts_us")
    runs = g.withColumn("_k", label_str("labels")).select(
        "_k",
        "labels",
        "ts_us",
        "value",
        F.lag("ts_us").over(w).alias("_prev"),
        F.lag("ts_us", k).over(w).alias("_lagk"),
        F.lead("ts_us").over(w).alias("_next"),
    )
    prev, nxt = F.col("_prev"), F.col("_next")
    kill = F.when(
        nxt.isNotNull(), nxt - ts >= F.lit(keep_us + 2 * step_us)
    ).otherwise(F.lit(t_end) - ts >= F.lit(keep_us + step_us))
    agg = runs.groupBy("_k").agg(
        F.first("labels").alias("labels"),
        F.max(
            F.when(F.col("_lagk") == ts - F.lit(k * step_us), ts)
        ).alias("_fraw"),
        F.max(F.when(kill, ts)).alias("_kill"),
        F.max(
            F.when(prev.isNull() | (prev != ts - F.lit(step_us)), ts)
        ).alias("active_at_us"),
        F.max(F.struct("ts_us", "value")).alias("_last"),
    )
    firing = F.col("_fraw").isNotNull() & (
        F.col("_kill").isNull() | (F.col("_kill") < F.col("_fraw"))
    )
    active = firing | (F.col("_last.ts_us") == F.lit(t_end))
    return agg.filter(active).select(
        F.lit(name).alias("alertname"),
        "labels",
        F.when(firing, F.lit("firing"))
        .otherwise(F.lit("pending"))
        .alias("alertstate"),
        "active_at_us",
        F.col("_last.value").alias("value"),
    )


def _firing_rows(states: DataFrame, name_col: str) -> DataFrame:
    """The firing set of an alert-state relation: (name_col,
    label_str labels, value)."""
    return states.filter(F.col("alertstate") == "firing").select(
        F.col("alertname").alias(name_col),
        label_str("labels").alias("labels"),
        "value",
    )


def eval_alert_for_group(
    ev: PromQLEvaluator,
    rules: list[tuple[str, str, int, int]],
    name_col: str,
) -> DataFrame:
    """`for:` hold semantics over ANY samples relation: (name_col,
    labels, value) for every FIRING alert — Prometheus fires when
    `now - ActiveAt >= for`, ActiveAt being the first TRUE evaluation
    of the current run. Each rule's firing set is `_alert_states`'
    (one grid pass per rule, plan-level union).

    Rules of the canonical threshold shape sharing (by, fold, range,
    for, step) fuse into ONE shared-scan evaluation with metric as a
    dimension (`_eval_threshold_batch`, guide §2.4) — the r15 plans
    compiled N identical trees over N disjoint slices of the same
    scan. With a step-multiple `for:` a run lasts `for` iff it covers
    the span's `for/step + 1` instants, so the fused batch's "true at
    every grid instant" count is the same decision."""
    batches: dict[tuple, list] = {}
    singles: list[tuple[str, str, int, int]] = []
    for rule in rules:
        _name, expr, for_us, step_us = rule
        shape = _threshold_rule_shape(expr)
        if shape is None or for_us % step_us:
            singles.append(rule)
            continue
        metric, op, by, fn, range_us = shape
        batches.setdefault(
            (by, fn, range_us, for_us, step_us), []
        ).append((rule, metric, op))
    parts = []
    for (by, fn, range_us, for_us, step_us), batch in batches.items():
        metrics = [m for _r, m, _o in batch]
        if len(batch) < 2 or len(set(metrics)) < len(metrics):
            # a lone rule gains nothing from the fused path, and two
            # rules on one metric cannot be told apart by the metric
            # dimension the fused path keys on — keep the per-rule
            # evaluator plan
            singles.extend(r for r, _m, _o in batch)
            continue
        parts.append(
            _eval_threshold_batch(
                ev, [(r[0], m, o) for r, m, o in batch], by, fn,
                range_us, for_us + step_us, step_us, name_col,
            )
        )
    parts += [
        _firing_rows(_alert_states(ev, n, e, f, 0, s), name_col)
        for n, e, f, s in singles
    ]
    return _union_all(parts)


#: (alertname, expr, for_us, keep_firing_for_us, step_us) — alert rules
#: with BOTH a `for:` hold and a `keep_firing_for:` grace window (public
#: Prometheus surface since 2.42): once FIRING, the alert keeps firing
#: through false evaluations until `keep_firing_for` has elapsed since
#: the FIRST false evaluation after firing (upstream's KeepFiringSince
#: anchor); any true evaluation while held clears the anchor (and
#: needs no new `for:` run). Pending alerts get no grace — a false
#: evaluation still resets them.
ALERT_KEEP_RULES: list[tuple[str, str, int, int, int]] = [
    (
        "KeepFiringAboveAverageClicks",
        "sum by (user) (increase(click[240h])) > "
        "scalar(avg(sum by (user) (increase(click[240h]))))",
        _H24_US,
        _H48_US,
        _H24_US,
    ),
]


def eval_alert_keep_group(
    ev: PromQLEvaluator,
    rules: list[tuple[str, str, int, int, int]],
    name_col: str,
) -> DataFrame:
    """`for:` + `keep_firing_for:` firing set at the latest evaluation
    instant: (name_col, labels, value) for every alert `_alert_states`
    finds FIRING — held alerts included, each reporting its latest
    TRUE evaluation's value. Plan-level union across rules."""
    return _union_all(
        [
            _firing_rows(_alert_states(ev, n, e, f, k, s), name_col)
            for n, e, f, k, s in rules
        ]
    )


def recording_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evaluate the recording-rule group: (metric, labels, value) —
    each rule's vector labeled with its record name."""
    return eval_rule_group(
        PromQLEvaluator.from_dir(spark, sf_dir), RECORDING_RULES, "metric"
    )


def alert_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evaluate the alert group: (alertname, labels, value) for every
    FIRING series (the comparison already filtered non-firing ones)."""
    return eval_rule_group(
        PromQLEvaluator.from_dir(spark, sf_dir), ALERT_RULES, "alertname"
    )


def load_rule_groups(text: str) -> list[dict]:
    """Parse a Prometheus rule FILE (the public YAML shape a real
    deployment already has: `groups:` → name/interval/rules with
    `record:`/`alert:`, `expr`, `for`, `keep_firing_for`, `labels`,
    `annotations`, the group-level `limit:` series cap, and the
    group-level `query_offset:` — public ≥2.53: every rule in the
    group evaluates that far behind the wall clock, the knob fleets
    use to sit behind remote-write delay) into normalized group dicts
    — durations in µs, upstream's 1m default interval when unset,
    limit 0 (= none) and query_offset 0 when unset."""
    import yaml

    from shards_prometheus_spark.functions.promql_parser import _dur_us

    doc = yaml.safe_load(text) or {}
    groups = []
    for g in doc.get("groups", []):
        limit = int(g.get("limit") or 0)
        rules = []
        for r in g.get("rules", []):
            if "record" in r:
                rules.append(
                    {
                        "kind": "record",
                        "name": r["record"],
                        "expr": r["expr"],
                        "labels": dict(r.get("labels") or {}),
                    }
                )
            elif "alert" in r:
                rules.append(
                    {
                        "kind": "alert",
                        "name": r["alert"],
                        "expr": r["expr"],
                        "for_us": _dur_us(str(r["for"]))
                        if r.get("for")
                        else 0,
                        "keep_us": _dur_us(str(r["keep_firing_for"]))
                        if r.get("keep_firing_for")
                        else 0,
                        "labels": dict(r.get("labels") or {}),
                        "annotations": dict(r.get("annotations") or {}),
                    }
                )
            else:
                raise ValueError(f"rule needs record: or alert:: {r}")
        groups.append(
            {
                "name": g["name"],
                "interval_us": _dur_us(str(g["interval"]))
                if g.get("interval")
                else 60_000_000,
                "limit": limit,
                "query_offset_us": _dur_us(str(g["query_offset"]))
                if g.get("query_offset")
                else 0,
                "rules": rules,
            }
        )
    return groups


class RuleLimitError(Exception):
    """A rule produced more series/alerts than its group's `limit:` —
    upstream's per-group cap on rule output cardinality (0 = none).
    Upstream discards the rule's samples and marks it unhealthy with
    this message; the batch single-pass evaluation raises it."""


def _with_static_labels(labels, static: dict):
    """A rule's static labels merged OVER a series' label map (upstream:
    rule labels override series labels and are part of the output's
    identity); the map column unchanged when the rule has none."""
    if not static:
        return labels
    keys = list(static)
    return F.map_concat(
        F.map_filter(
            labels,
            lambda k, _v: ~k.isin(*keys) if len(keys) > 1 else k != keys[0],
        ),
        F.create_map(
            *[F.lit(x) for kv in sorted(static.items()) for x in kv]
        ),
    )


def eval_rule_file(
    samples: DataFrame,
    text: str,
    memo_key: str | None = None,
    eval_ts_us: int | None = None,
) -> DataFrame:
    """Evaluate a Prometheus rule FILE against a samples relation the
    way the paired server does: within each group, rules run
    SEQUENTIALLY at one shared tick — record outputs (with the rule's
    static labels merged in, overriding series labels per upstream)
    are written back so later rules select them — and alert rules get
    `for:`/`keep_firing_for:` hold semantics on the group's own
    evaluation interval. Groups are independent (each starts from the
    raw store; on a cluster each is its own job, exactly how a server
    schedules them). Static labels on ALERT rules are parsed and kept
    in the group dicts; the relational firing set below carries the
    SERIES labels only — the JSON serving layer
    (query_api._alert_json) merges the rule's static labels (rule
    overrides series, per upstream, where they are part of alert
    identity) and template-expands labels + annotations per firing
    series.

    Write-back: after each record rule, its vector becomes a samples
    relation (metric = record name, ts_us = the tick, one sample per
    series) unioned onto the group's store, and the next rule
    evaluates over the augmented relation through a fresh evaluator
    pinned at the same tick. The union is plan-level — layer N's plan
    embeds layer N-1's; a production scheduler materializes each layer
    back to its store exactly as Prometheus writes records to its
    TSDB, so the lazy cascade here is the single-tick closure.

    Returns (grp, kind, rule, labels, value): every record's vector
    and every firing alert, labeled with its group and rule name.

    `eval_ts_us`: the evaluation time ("now") every group's tick
    derives from; default the data's max timestamp (one collect per
    call). `memo_key` (immutable batch dirs only): each record's
    vector is persisted through the Tier C memo LRU — the batch analog
    of materializing records back to the store, without which layer
    N's lazy plan re-runs every earlier layer per reference (released
    by clear_caches, one copy per (app, key, group, rule))."""
    return _eval_groups(samples, load_rule_groups(text), memo_key, eval_ts_us)


def _eval_groups(
    samples: DataFrame,
    groups: "list[dict]",
    memo_key: str | None = None,
    eval_ts_us: int | None = None,
    states: "list | None" = None,
) -> "DataFrame | None":
    """`eval_rule_file` over parsed groups (None when there are none).
    Each alert rule's expression is built ONCE, as its state relation
    (`_alert_rule_states`); its firing rows are that relation's
    `alertstate = 'firing'` projection. `states`, when passed,
    collects (state relation, the rule's static labels, tick) per
    ALERT rule — every ACTIVE alert, not just the firing set (see
    rule_file_alert_state_samples)."""

    def _enforce_limit(df: DataFrame, limit: int, rname: str, gname: str):
        """Upstream's group `limit:`: cap the rule's output
        cardinality. A plan-level LIMIT n+1 count probe (executors
        stop once the probe fills — the same shape as the query API's
        max-samples guard), run ONLY when the group sets a limit, so
        unlimited groups stay one-pass lazy."""
        if limit:
            n = df.limit(limit + 1).count()
            if n > limit:
                raise RuleLimitError(
                    f"exceeded limit of {limit} with {n} series for "
                    f"rule {rname!r} in group {gname!r}"
                )

    if not groups:
        return None
    if eval_ts_us is None:
        eval_ts_us = data_time_us(samples)
    parts = []
    for g in groups:
        gsamples = samples
        # upstream ≥2.53 `query_offset:`: the whole group evaluates at
        # ts - query_offset — queries AND the recorded samples'
        # timestamps shift (rules/group.go evaluates the vector at
        # ts.Add(-queryOffset), and the result samples carry that
        # shifted eval time)
        tick_us = eval_ts_us - g["query_offset_us"]
        ev = PromQLEvaluator(gsamples, eval_ts_us=tick_us)
        step_us = g["interval_us"]
        gcol = F.lit(g["name"]).alias("grp")
        for r in g["rules"]:
            kcol = F.lit(r["kind"]).alias("kind")
            if r["kind"] == "record":
                vec = ev.eval_instant_map(r["expr"])
                if r["labels"]:
                    vec = vec.select(
                        _with_static_labels(
                            F.col("labels"), r["labels"]
                        ).alias("labels"),
                        "value",
                    )
                if memo_key is not None:
                    vec = _memo_persist(
                        samples.sparkSession,
                        memo_key,
                        f"rule_rec_{g['name']}_{r['name']}_{tick_us}",
                        lambda v=vec: v,
                    )
                _enforce_limit(vec, g["limit"], r["name"], g["name"])
                parts.append(
                    vec.select(
                        gcol,
                        kcol,
                        F.lit(r["name"]).alias("rule"),
                        label_str("labels").alias("labels"),
                        "value",
                    )
                )
                sid = F.xxhash64(
                    F.lit(r["name"]), label_str("labels")
                )
                rec = vec.select(
                    sid.alias("event_id"),
                    sid.alias("series_id"),
                    F.lit(r["name"]).alias("metric"),
                    F.col("labels"),
                    F.lit(tick_us).alias("ts_us"),
                    F.col("value").cast("double").alias("value"),
                )
                gsamples = gsamples.unionByName(rec)
                ev = PromQLEvaluator(gsamples, eval_ts_us=tick_us)
            else:
                st = _alert_rule_states(ev, r, step_us)
                df = _firing_rows(st, "rule")
                _enforce_limit(df, g["limit"], r["name"], g["name"])
                parts.append(df.select(gcol, kcol, "rule", "labels", "value"))
                if states is not None:
                    states.append((st, r["labels"], tick_us))
    return _union_all(parts) if parts else None


def _alert_rule_states(
    ev: PromQLEvaluator, r: dict, step_us: int
) -> DataFrame:
    """One alert rule's ACTIVE set with state at the evaluator's
    pinned time, the group tick: (alertname, labels MAP of the series,
    alertstate, active_at_us, value). A rule with a `for:` or
    `keep_firing_for:` hold is `_alert_states` over its hold span on
    the group interval. A rule with neither is its instant vector AT
    THE TICK — not at an epoch-grid instant, which the tick need not
    be — every member firing at once with ActiveAt = the tick."""
    if r["for_us"] or r["keep_us"]:
        return _alert_states(
            ev, r["name"], r["expr"], r["for_us"], r["keep_us"], step_us
        )
    return ev.eval_instant_map(r["expr"]).select(
        F.lit(r["name"]).alias("alertname"),
        "labels",
        F.lit("firing").alias("alertstate"),
        F.lit(ev.eval_time_us()).alias("active_at_us"),
        "value",
    )


def _alert_groups(text: str) -> "list[dict]":
    """The groups of a rule file that hold an alert rule. Groups are
    independent, so a group of record rules alone changes no alert."""
    return [
        g
        for g in load_rule_groups(text)
        if any(r["kind"] == "alert" for r in g["rules"])
    ]


def rule_file_firing(
    samples: DataFrame, text: str, eval_ts_us: int | None = None
) -> "DataFrame | None":
    """The firing alerts of a rule file, as eval_rule_file's
    (grp, kind, rule, labels, value) alert rows — only the groups
    holding an alert rule are evaluated, and the record legs of those
    are filtered out in the plan. None when the file has no alert
    rules."""
    out = _eval_groups(samples, _alert_groups(text), eval_ts_us=eval_ts_us)
    return None if out is None else out.filter(F.col("kind") == "alert")


#: the series `rule_file_alert_state_samples` derives
ALERT_STATE_METRICS = frozenset({"ALERTS", "ALERTS_FOR_STATE"})


def rule_file_alert_state_samples(
    samples: DataFrame, text: str, eval_ts_us: int | None = None
) -> "DataFrame | None":
    """The queryable alert-state series upstream's rule manager
    writes into its TSDB on every evaluation (rules/alerting.go):
    for every ACTIVE alert of every alert rule in the file,

    - ``ALERTS{alertname, alertstate="pending"|"firing", …} = 1``
    - ``ALERTS_FOR_STATE{alertname, …} = ActiveAt`` (epoch seconds;
      no alertstate label — the restart-persistence series)

    rendered in the engine's §1.2 samples-relation shape so the read
    API can serve ``ALERTS{alertstate="firing"}`` — the documented
    Grafana alert-history pattern. Rides the same pass as
    `/api/v1/alerts` (`rule_file_firing`: the groups holding an alert
    rule, record chaining and query_offset included) at the same group
    ticks, and reads the very state relations whose `firing`
    projection that endpoint serves: evaluated at the same
    `eval_ts_us` (default the data's max timestamp), the firing
    ALERTS series are exactly the alerts that endpoint serves —
    tests/test_rules.py pins that for every alert rule of
    DEMO_RULE_FILE, `for:`-less rules included. The rule's static
    labels merge over the series labels here. None when the file
    has no alert rules. Cold-evaluation convention: ActiveAt clamps
    to the rule's hold window start, like every hold evaluation here
    (a restarted upstream server does the same)."""
    from shards_prometheus_spark.model import series_id_expr

    rows: list = []
    _eval_groups(
        samples, _alert_groups(text), eval_ts_us=eval_ts_us, states=rows
    )
    if not rows:
        return None
    st = _union_all(
        [
            s.select(
                "alertname",
                _with_static_labels(F.col("labels"), static).alias(
                    "labels"
                ),
                "alertstate",
                "active_at_us",
                F.lit(tick_us).alias("ts_us"),
            )
            for s, static, tick_us in rows
        ]
    )
    # series labels may not collide with the synthetic pair
    # (map_concat raises under the default dedup policy)
    base_labels = F.map_filter(
        F.col("labels"),
        lambda k, _v: (k != "alertname") & (k != "alertstate"),
    )
    alerts = st.select(
        F.lit("ALERTS").alias("metric"),
        F.map_concat(
            base_labels,
            F.create_map(
                F.lit("alertname"),
                F.col("alertname"),
                F.lit("alertstate"),
                F.col("alertstate"),
            ),
        ).alias("labels"),
        "ts_us",
        F.lit(1.0).alias("value"),
    )
    for_state = st.select(
        F.lit("ALERTS_FOR_STATE").alias("metric"),
        F.map_concat(
            base_labels,
            F.create_map(F.lit("alertname"), F.col("alertname")),
        ).alias("labels"),
        "ts_us",
        (F.col("active_at_us") / F.lit(1e6)).alias("value"),
    )
    out = alerts.unionByName(for_state)
    sid = series_id_expr(F.col("metric"), F.col("labels"))
    return out.select(
        sid.alias("event_id"),
        sid.alias("series_id"),
        "metric",
        "labels",
        "ts_us",
        F.col("value").cast("double").alias("value"),
    )


def _rule_file_text(*groups: dict) -> str:
    """Rule-file YAML for group dicts in the public file shape."""
    import yaml

    return yaml.safe_dump(
        {"groups": list(groups)}, sort_keys=False, width=1 << 16
    )


def _seconds(us: int) -> str:
    """µs → a rule-file duration token."""
    return f"{us // 1_000_000}s"


def _group_step(rules: list[tuple]) -> str:
    """The one evaluation interval a group's rules share (the step,
    each rule's last field) as a duration token."""
    (step_us,) = {r[-1] for r in rules}
    return _seconds(step_us)


_CHAINED_GROUP = {
    "name": "recording_chained",
    "rules": [
        {kind: name, "expr": expr} for kind, name, expr in CHAINED_RULE_GROUP
    ],
}

#: the layered group as a rule FILE — what `rules_chained` evaluates
CHAINED_RULE_FILE = _rule_file_text(_CHAINED_GROUP)

#: the built-in groups as ONE rule file, generated from the rule
#: constants above (no expression is written twice) — what
#: `/api/v1/rules` and `/api/v1/alerts` serve when the exposer has no
#: `rule_file`. The hold groups evaluate on their rules' step.
BUILTIN_RULE_FILE = _rule_file_text(
    {
        "name": "recording",
        "rules": [{"record": n, "expr": e} for n, e in RECORDING_RULES],
    },
    _CHAINED_GROUP,
    {
        "name": "alerts",
        "rules": [{"alert": n, "expr": e} for n, e in ALERT_RULES],
    },
    {
        "name": "alerts_for",
        "interval": _group_step(ALERT_FOR_RULES),
        "rules": [
            {"alert": n, "expr": e, "for": _seconds(f)}
            for n, e, f, _s in ALERT_FOR_RULES
        ],
    },
    {
        "name": "alerts_keep_firing",
        "interval": _group_step(ALERT_KEEP_RULES),
        "rules": [
            {
                "alert": n,
                "expr": e,
                "for": _seconds(f),
                "keep_firing_for": _seconds(k),
            }
            for n, e, f, k, _s in ALERT_KEEP_RULES
        ],
    },
)


#: demo rule FILE — the literal YAML a reference+server user already
#: maintains: a layered group (chaining + a static record label) and a
#: `for:`-hold group on a 1d evaluation interval.
DEMO_RULE_FILE = """
groups:
  - name: layered
    interval: 1d
    rules:
      - record: user:click:rate720h
        expr: sum by (user) (rate(click[720h]))
      - record: user:click:rate720h:daily
        expr: user:click:rate720h * 86400
        labels:
          tier: daily
      - alert: AboveAverageDailyClickRate
        expr: >-
          user:click:rate720h:daily >
          scalar(avg(user:click:rate720h:daily))
  - name: holds
    interval: 1d
    rules:
      - alert: SustainedAboveAverageClicks
        expr: >-
          sum by (user) (increase(click[240h])) >
          scalar(avg(sum by (user) (increase(click[240h]))))
        for: 3d
"""


def rules_from_file(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evaluate DEMO_RULE_FILE — the YAML rule file a switching user
    brings — over the batch relations."""
    from shards_prometheus_spark.model import samples_multi

    # from_dir memoizes t_max per (app, sf_dir): no max(ts_us) job
    return eval_rule_file(
        samples_multi(spark, sf_dir),
        DEMO_RULE_FILE,
        eval_ts_us=PromQLEvaluator.from_dir(spark, sf_dir).eval_time_us(),
    )


def humanize(v: float) -> str:
    """Upstream's `humanize` template function: %.4g with SI scaling
    by thousands (k/M/G/… above 1, m/u/n/… below), special values
    rendered bare — virtually every real rules.yml annotation calls
    it, so the served alert text must match byte-for-byte."""
    import math as _m

    if _m.isinf(v) or _m.isnan(v):
        # Go's %.4g spellings, not Python's lowercase ones
        return "NaN" if _m.isnan(v) else ("+Inf" if v > 0 else "-Inf")
    if v == 0:
        return "%.4g" % v
    if abs(v) >= 1:
        prefix = ""
        for p in ("k", "M", "G", "T", "P", "E", "Z", "Y"):
            if abs(v) < 1000:
                break
            prefix = p
            v /= 1000
        return "%.4g%s" % (v, prefix)
    prefix = ""
    for p in ("m", "u", "n", "p", "f", "a", "z", "y"):
        if abs(v) >= 1:
            break
        prefix = p
        v *= 1000
    return "%.4g%s" % (v, prefix)


def humanize_percentage(v: float) -> str:
    """Upstream's `humanizePercentage`: ratio → `%.4g%%`."""
    return "%.4g%%" % (v * 100)


#: `{{ ... }}` actions the renderer understands — the subset of the
#: upstream alert-template language that covers real rule files:
#: `$value`, `$labels.<name>`, and the humanize pipeline calls in
#: both call (`{{ humanize $value }}`) and pipe
#: (`{{ $value | humanize }}`) form.
_TEMPLATE_RE = re.compile(r"\{\{-?\s*(.*?)\s*-?\}\}")


def render_template(text: str, labels: dict, value: float) -> str:
    """Expand alert annotation/label templates the way the paired
    server does before handing alerts to Alertmanager: `$labels.x` →
    the firing series' label value (empty for a missing label, per Go
    template field access on the map), `$value` → the sample value,
    `humanize`/`humanizePercentage` applied in call or pipe form.
    UNKNOWN actions pass through verbatim — a renderer that silently
    ate `{{ $externalLabels.cluster }}` would corrupt a migrated rule
    file worse than leaving it visible."""

    def _value_str(v: float) -> str:
        s = repr(float(v))
        return s[:-2] if s.endswith(".0") else s

    def sub(m) -> str:
        action = m.group(1)
        if action == "$value":
            return _value_str(value)
        if action.startswith("$labels."):
            return str(labels.get(action[len("$labels.") :], ""))
        for fn, impl in (
            ("humanize ", humanize),
            ("humanizePercentage ", humanize_percentage),
        ):
            if action.startswith(fn) and action[len(fn):] == "$value":
                return impl(value)
        for pipe, impl in (
            ("$value | humanize", humanize),
            ("$value | humanizePercentage", humanize_percentage),
        ):
            if action == pipe:
                return impl(value)
        return m.group(0)  # unknown: passthrough

    return _TEMPLATE_RE.sub(sub, text)


def rules_chained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evaluate the layered rule group: (rule, labels, value) — the
    two-layer record chain plus an alert over the layer-2 recorded
    series, all at one shared evaluation tick."""
    from shards_prometheus_spark.model import samples_multi

    # from_dir memoizes t_max per (app, sf_dir): no max(ts_us) job
    return eval_rule_file(
        samples_multi(spark, sf_dir),
        CHAINED_RULE_FILE,
        memo_key=sf_dir,
        eval_ts_us=PromQLEvaluator.from_dir(spark, sf_dir).eval_time_us(),
    ).select("rule", "labels", "value")


def alert_rules_for(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evaluate the `for:`-duration alert group: (alertname, labels,
    value) for every alert whose comparison held at EVERY evaluation
    instant in its trailing hold window."""
    return eval_alert_for_group(
        PromQLEvaluator.from_dir(spark, sf_dir), ALERT_FOR_RULES, "alertname"
    )


def alert_rules_keep_firing(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Evaluate the `keep_firing_for:` alert group: (alertname,
    labels, value) for every alert FIRING at the latest evaluation
    instant — including alerts whose comparison has since gone false
    but whose grace window has not elapsed."""
    return eval_alert_keep_group(
        PromQLEvaluator.from_dir(spark, sf_dir),
        ALERT_KEEP_RULES,
        "alertname",
    )


def rules_alerts_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered parity row for the ALERTS / ALERTS_FOR_STATE
    synthetic series (upstream rules/alerting.go records both into
    its TSDB on every evaluation; Grafana's alert-history panels
    query `ALERTS{alertstate="firing"}`): the SustainedAboveAverage-
    Clicks `for: 3d` rule on its 24h evaluation interval — every
    ACTIVE user at the latest instant, pending vs firing by whether
    the current truth-run covers the hold, plus the ActiveAt-seconds
    restart series. Exercises `_alert_states`' run starts and state
    split end to end against a batch-SQL oracle; the API-visible
    write-back (rule_file_alert_state_samples → /api/v1/query) is
    pinned by tests/test_rules.py over a controlled pushed store."""
    name, expr, for_us, step_us = ALERT_FOR_RULES[0]
    st = _alert_states(
        PromQLEvaluator.from_dir(spark, sf_dir),
        name, expr, for_us, 0, step_us,
    )
    alerts = st.select(
        F.lit("ALERTS").alias("metric"),
        "alertname",
        "alertstate",
        F.element_at("labels", F.lit("user")).alias("label_user"),
        F.lit(1.0).alias("value"),
    )
    for_state = st.select(
        F.lit("ALERTS_FOR_STATE").alias("metric"),
        "alertname",
        F.lit("").alias("alertstate"),
        F.element_at("labels", F.lit("user")).alias("label_user"),
        F.expr("active_at_us div 1000000").cast("double").alias("value"),
    )
    return alerts.unionByName(for_state).orderBy(
        "metric", "label_user"
    )


QUERIES = {
    "recording_rules": recording_rules,
    "rules_chained": rules_chained,
    "rules_from_file": rules_from_file,
    "alert_rules": alert_rules,
    "alert_rules_for": alert_rules_for,
    "alert_rules_keep_firing": alert_rules_keep_firing,
    "rules_alerts_series": rules_alerts_series,
}

_REC_SQL = (
    f"{SAMPLES_MULTI_CTE}, {_T_CTE}, "
    + _increase_cte("click", _H720_US, "ci")
    + ", "
    + _increase_cte("purchase", _H720_US, "pi")
    + " SELECT 'user:click:rate720h' AS metric, "
    "'user=' || l_user AS labels, "
    + dround(f"SUM(inc / {_H720_US / 1e6})", 4)
    + " AS value FROM ci GROUP BY l_user "
    "UNION ALL "
    "SELECT 'user:purchase:increase720h' AS metric, "
    "'user=' || l_user AS labels, "
    + dround("SUM(inc)", 4)
    + " AS value FROM pi GROUP BY l_user"
)

_ALERT_SQL = (
    f"{SAMPLES_MULTI_CTE}, {_T_CTE}, "
    + _increase_cte("click", _H720_US, "ci")
    + ", per_user AS (SELECT l_user, SUM(inc) AS v FROM ci "
    "GROUP BY l_user), "
    "thr AS (SELECT AVG(v) AS a FROM per_user) "
    "SELECT 'AboveAverageClickVolume' AS alertname, "
    "'user=' || l_user AS labels, "
    + dround("v", 4)
    + " AS value FROM per_user, thr WHERE "
    + dround("v", 6)
    + " > a "
    "UNION ALL "
    "SELECT 'MissingTemperatureMetric' AS alertname, '' AS labels, "
    "1.0 AS value WHERE NOT EXISTS "
    "(SELECT 1 FROM samples_multi WHERE metric = 'temperature')"
)

_ALERT_FOR_SQL = (
    f"{SAMPLES_MULTI_CTE}, {_T_CTE}, "
    # span = for + step: firing needs for/step + 1 consecutive true
    # evaluations (Prometheus: now - ActiveAt >= for)
    + _grid_cte(_H24_US, _H72_US + _H24_US)
    + ", "
    + _grid_increase_cte("click", _H240_US, "ci")
    + ", "
    + _grid_increase_cte("view", _H240_US, "vi")
    + ", cthr AS (SELECT ets, AVG(v) AS a FROM ci GROUP BY ets), "
    "vthr AS (SELECT ets, AVG(v) AS a FROM vi GROUP BY ets), "
    "cfire AS (SELECT ci.ets, ci.l_user, ci.v FROM ci "
    "JOIN cthr ON cthr.ets = ci.ets WHERE "
    + dround("ci.v", 6)
    + " > cthr.a), "
    "vfire AS (SELECT vi.ets, vi.l_user, vi.v FROM vi "
    "JOIN vthr ON vthr.ets = vi.ets WHERE "
    + dround("vi.v", 6)
    + " < vthr.a), "
    "gc AS (SELECT COUNT(*) AS n, MAX(ets) AS mx FROM g), "
    # per-instant absence probe (5m staleness lookback, the grid
    # absent() semantics): the rule fires iff absent at EVERY instant
    "tabs AS (SELECT g.ets FROM g WHERE NOT EXISTS "
    "(SELECT 1 FROM samples_multi s WHERE s.metric = 'temperature' "
    "AND s.ts_us <= g.ets AND s.ts_us > g.ets - 300000000)) "
    "SELECT 'SustainedAboveAverageClicks' AS alertname, "
    "'user=' || f.l_user AS labels, "
    + dround("f.v", 4)
    + " AS value FROM cfire f, gc WHERE f.ets = gc.mx "
    "AND f.l_user IN (SELECT l_user FROM cfire GROUP BY l_user "
    "HAVING COUNT(*) = (SELECT n FROM gc)) "
    "UNION ALL "
    "SELECT 'SustainedBelowAverageViews' AS alertname, "
    "'user=' || f.l_user AS labels, "
    + dround("f.v", 4)
    + " AS value FROM vfire f, gc WHERE f.ets = gc.mx "
    "AND f.l_user IN (SELECT l_user FROM vfire GROUP BY l_user "
    "HAVING COUNT(*) = (SELECT n FROM gc)) "
    "UNION ALL "
    # the absent() rule fires iff the probe window was empty at every
    # grid instant (no equality matchers → empty label string)
    "SELECT 'SustainedMissingTemperature' AS alertname, "
    "'' AS labels, 1.0 AS value FROM gc "
    "WHERE (SELECT COUNT(*) FROM tabs) = gc.n"
)

#: keep_firing_for oracle — mirrors _alert_states' closed form: per
#: label, latest firing_raw instant (for a step-multiple `for:`, a run
#: has lasted `for` at ets iff lag(ets, for/step) = ets - for) vs
#: latest kill-gap start (first-false-anchored upstream countdown:
#: next true ≥ keep+2·step away, or last true with T - t ≥ keep+step);
#: value = the latest TRUE instant's.
_KEEP_FOR_N = _H24_US // _H24_US + 1  # for/step + 1 consecutive trues
_KEEP_SPAN = _H24_US + _H48_US + 4 * _H24_US
_ALERT_KEEP_SQL = (
    f"{SAMPLES_MULTI_CTE}, {_T_CTE}, "
    + _grid_cte(_H24_US, _KEEP_SPAN)
    + ", "
    + _grid_increase_cte("click", _H240_US, "ci")
    + ", cthr AS (SELECT ets, AVG(v) AS a FROM ci GROUP BY ets), "
    "tr AS (SELECT ci.ets, ci.l_user, ci.v FROM ci "
    "JOIN cthr ON cthr.ets = ci.ets WHERE "
    + dround("ci.v", 6)
    + " > cthr.a), "
    "gc AS (SELECT MAX(ets) AS mx FROM g), "
    "sq AS (SELECT l_user, ets, v, "
    "LEAD(ets) OVER (PARTITION BY l_user ORDER BY ets) AS nxt, "
    f"LAG(ets, {_KEEP_FOR_N - 1}) OVER "
    "(PARTITION BY l_user ORDER BY ets) AS lagk FROM tr), "
    "ag AS (SELECT l_user, "
    f"MAX(CASE WHEN lagk = ets - {(_KEEP_FOR_N - 1) * _H24_US} "
    "THEN ets END) AS last_fraw, "
    "MAX(CASE WHEN (nxt IS NOT NULL AND nxt - ets >= "
    f"{_H48_US + 2 * _H24_US}) OR (nxt IS NULL AND "
    f"(SELECT mx FROM gc) - ets >= {_H48_US + _H24_US}) THEN ets END) "
    "AS last_kill, "
    "ARG_MAX(v, ets) AS last_v FROM sq GROUP BY l_user) "
    "SELECT 'KeepFiringAboveAverageClicks' AS alertname, "
    "'user=' || l_user AS labels, "
    + dround("last_v", 4)
    + " AS value FROM ag WHERE last_fraw IS NOT NULL "
    "AND (last_kill IS NULL OR last_kill < last_fraw)"
)

#: chained-group oracle — replays the layer cascade: l1 = the rate720h
#: record (4dp, as stored), l2 = l1 × 86400 re-rounded on write-back,
#: alert = l2 vs scalar(avg(l2)) on the 6dp-pinned compare (identity
#: here since stored values carry 4dp).
_CHAINED_SQL = (
    f"{SAMPLES_MULTI_CTE}, {_T_CTE}, "
    + _increase_cte("click", _H720_US, "ci")
    + ", l1 AS (SELECT l_user, "
    + dround(f"SUM(inc / {_H720_US / 1e6})", 4)
    + " AS v FROM ci GROUP BY l_user), "
    "l2 AS (SELECT l_user, "
    + dround("v * 86400", 4)
    + " AS v2 FROM l1), "
    "thr AS (SELECT AVG(v2) AS a FROM l2) "
    "SELECT 'user:click:rate720h' AS rule, "
    "'user=' || l_user AS labels, v AS value FROM l1 "
    "UNION ALL "
    "SELECT 'user:click:rate720h:daily' AS rule, "
    "'user=' || l_user AS labels, v2 AS value FROM l2 "
    "UNION ALL "
    "SELECT 'AboveAverageDailyClickRate' AS rule, "
    "'user=' || l_user AS labels, v2 AS value FROM l2, thr "
    "WHERE " + dround("v2", 6) + " > a"
)

#: rule-FILE oracle — the layered group's cascade (incl. the static
#: `tier=daily` record label riding into layer 2 and the alert) plus
#: the holds group's 3d-for rule on a 1d interval (span = for + step
#: = 96h → fires iff above average at all 4 grid instants).
_RULE_FILE_SQL = (
    f"{SAMPLES_MULTI_CTE}, {_T_CTE}, "
    + _increase_cte("click", _H720_US, "fci")
    + ", fl1 AS (SELECT l_user, "
    + dround(f"SUM(inc / {_H720_US / 1e6})", 4)
    + " AS v FROM fci GROUP BY l_user), "
    "fl2 AS (SELECT l_user, "
    + dround("v * 86400", 4)
    + " AS v2 FROM fl1), "
    "fthr AS (SELECT AVG(v2) AS a FROM fl2), "
    + _grid_cte(_H24_US, _H72_US + _H24_US)
    + ", "
    + _grid_increase_cte("click", _H240_US, "fgi")
    + ", gthr AS (SELECT ets, AVG(v) AS a FROM fgi GROUP BY ets), "
    "gfire AS (SELECT fgi.ets, fgi.l_user, fgi.v FROM fgi "
    "JOIN gthr ON gthr.ets = fgi.ets WHERE "
    + dround("fgi.v", 6)
    + " > gthr.a), "
    "gc AS (SELECT COUNT(*) AS n, MAX(ets) AS mx FROM g) "
    "SELECT 'layered' AS grp, 'record' AS kind, "
    "'user:click:rate720h' AS rule, 'user=' || l_user AS labels, "
    "v AS value FROM fl1 "
    "UNION ALL "
    "SELECT 'layered', 'record', 'user:click:rate720h:daily', "
    "'tier=daily,user=' || l_user, v2 FROM fl2 "
    "UNION ALL "
    "SELECT 'layered', 'alert', 'AboveAverageDailyClickRate', "
    "'tier=daily,user=' || l_user, v2 FROM fl2, fthr WHERE "
    + dround("v2", 6)
    + " > a "
    "UNION ALL "
    "SELECT 'holds', 'alert', 'SustainedAboveAverageClicks', "
    "'user=' || f.l_user, "
    + dround("f.v", 4)
    + " FROM gfire f, gc WHERE f.ets = gc.mx "
    "AND f.l_user IN (SELECT l_user FROM gfire GROUP BY l_user "
    "HAVING COUNT(*) = (SELECT n FROM gc))"
)

#: ALERTS/ALERTS_FOR_STATE oracle — mirrors _alert_states' lag-gap
#: islands: a true instant OPENS a run iff its predecessor is not one
#: step earlier; active_at = the last run's start; active at T ⇔
#: last true == grid end; firing ⇔ T - active_at >= for.
_ALERTS_SERIES_SQL = (
    f"{SAMPLES_MULTI_CTE}, {_T_CTE}, "
    + _grid_cte(_H24_US, _H72_US + _H24_US)
    + ", "
    + _grid_increase_cte("click", _H240_US, "ci")
    + ", cthr AS (SELECT ets, AVG(v) AS a FROM ci GROUP BY ets), "
    "cfire AS (SELECT ci.ets, ci.l_user FROM ci "
    "JOIN cthr ON cthr.ets = ci.ets WHERE "
    + dround("ci.v", 6)
    + " > cthr.a), "
    "gc AS (SELECT MAX(ets) AS mx FROM g), "
    "runs AS (SELECT l_user, ets, CASE WHEN "
    "LAG(ets) OVER (PARTITION BY l_user ORDER BY ets) = "
    f"ets - {_H24_US} THEN NULL ELSE ets END AS start_ts "
    "FROM cfire), "
    "summ AS (SELECT l_user, MAX(ets) AS last_ts, "
    "MAX(start_ts) AS active_at FROM runs GROUP BY l_user), "
    "act AS (SELECT s.l_user, s.active_at, "
    f"CASE WHEN gc.mx - s.active_at >= {_H72_US} "
    "THEN 'firing' ELSE 'pending' END AS alertstate "
    "FROM summ s, gc WHERE s.last_ts = gc.mx) "
    "SELECT 'ALERTS' AS metric, "
    "'SustainedAboveAverageClicks' AS alertname, alertstate, "
    "l_user AS label_user, 1.0 AS value FROM act "
    "UNION ALL "
    "SELECT 'ALERTS_FOR_STATE' AS metric, "
    "'SustainedAboveAverageClicks' AS alertname, '' AS alertstate, "
    "l_user AS label_user, "
    "CAST(active_at // 1000000 AS DOUBLE) AS value FROM act "
    "ORDER BY metric, label_user"
)

ORACLES = {
    "recording_rules": _REC_SQL,
    "rules_chained": _CHAINED_SQL,
    "rules_from_file": _RULE_FILE_SQL,
    "alert_rules": _ALERT_SQL,
    "alert_rules_for": _ALERT_FOR_SQL,
    "alert_rules_keep_firing": _ALERT_KEEP_SQL,
    "rules_alerts_series": _ALERTS_SERIES_SQL,
}
