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

Scale shape: each rule is one evaluator plan (one scan per selector
leaf joined to broadcast t_max); the union is plan-level, not a
driver loop over collected results. Rule GROUPS evaluate independently
— on a cluster each group is its own job, exactly how a Prometheus
server schedules them.
"""

from __future__ import annotations

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
    _grid_cte,
    _grid_increase_cte,
    _increase_cte,
    parse,
)
from shards_prometheus_spark.functions.labelset import label_str
from shards_prometheus_spark.model import dround

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
    parts = [
        ev.eval(expr).select(
            F.lit(name).alias(name_col), "labels", "value"
        )
        for name, expr in rules
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


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


def eval_rule_group_chained(
    samples: DataFrame,
    rules: list[tuple[str, str, str]],
    memo_key: str | None = None,
    eval_ts_us: int | None = None,
) -> DataFrame:
    """Sequential (layered) rule-group evaluation — the upstream
    semantics `eval_rule_group` lacked (VERDICT r8 missing #2): rules
    in a group evaluate in order at ONE shared tick, and each
    `record:` rule's output vector is written back into the store
    before the next rule runs, so later rules can select earlier
    record names.

    Batch restatement: after each record rule, its vector becomes a
    samples relation (metric = record name, ts_us = the tick, one
    sample per series) unioned onto the store, and the next rule
    evaluates over the augmented relation via a fresh evaluator pinned
    at the same tick. The union is plan-level — layer N's plan embeds
    layer N-1's (Spark reuses the identical exchange subtrees within
    the one job); a production scheduler materializes each layer back
    to the parquet store exactly as Prometheus writes records to its
    TSDB, so the lazy cascade here is the single-tick closure, not
    the steady-state plan.

    Returns (rule, labels, value): every record's vector plus every
    alert's firing set, each labeled with its rule name.

    `memo_key` (immutable batch dirs only): each record's vector-sized
    relation is persisted through the Tier C memo LRU — the batch
    analog of materializing records back to the store, without which
    layer N's lazy plan re-runs every earlier layer per reference
    (released by clear_caches, one copy per (app, key, rule))."""
    from shards_prometheus_spark.functions.labelset import label_str

    ev = PromQLEvaluator(samples, eval_ts_us=eval_ts_us)
    tick_us = ev.eval_time_us()
    parts = []
    for kind, name, expr in rules:
        vec = ev.eval_instant_map(expr)
        if kind == "record" and memo_key is not None:
            from shards_prometheus_spark.operators.tierc_common import (
                _memo_persist,
            )

            vec = _memo_persist(
                samples.sparkSession,
                memo_key,
                f"chain_rec_{name}",
                lambda v=vec: v,
            )
        parts.append(
            vec.select(
                F.lit(name).alias("rule"),
                label_str("labels").alias("labels"),
                "value",
            )
        )
        if kind == "record":
            sid = F.xxhash64(F.lit(name), label_str("labels"))
            rec = vec.select(
                sid.alias("event_id"),
                sid.alias("series_id"),
                F.lit(name).alias("metric"),
                F.col("labels"),
                F.lit(tick_us).alias("ts_us"),
                F.col("value").cast("double").alias("value"),
            )
            samples = samples.unionByName(rec)
            ev = PromQLEvaluator(samples, eval_ts_us=tick_us)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


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
    win_end = F.col("_ets")
    df = base.join(
        F.broadcast(ev._grid(sub)),
        (F.col("ts_us") <= win_end)
        & (F.col("ts_us") > win_end - F.lit(range_us)),
    ).withColumn("_wlo", win_end - F.lit(range_us))
    # per-(metric, series, instant) rate/increase — metric joins the
    # keys only to survive the fold (it is functionally dependent on
    # series_id, so the groups are unchanged)
    pts = ev._range_fold(
        df, ["metric", "series_id", "_ets"], fn, range_us
    )
    # sum by (K) per metric — the _gagg by-mode fold
    new_labels = F.map_from_arrays(
        F.array(*[F.lit(b) for b in by]),
        F.array(*[F.element_at("labels", F.lit(b)) for b in by]),
    )
    agg = (
        pts.withColumn("labels", new_labels)
        .groupBy("metric", "_ets", label_str("labels").alias("_k"))
        .agg(F.first("labels").alias("labels"), F.sum("value").alias("value"))
        .drop("_k")
    )
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


def eval_alert_for_group(
    ev: PromQLEvaluator,
    rules: list[tuple[str, str, int, int]],
    name_col: str,
) -> DataFrame:
    """`for:` hold semantics over ANY samples relation: one
    `eval_range` over the hold window per rule (the comparison only
    emits series where it holds, so an alert is FIRING iff its label
    set appears at every grid instant); the reported value is the
    most recent instant's. Plan-level union across rules, one grid
    pass per rule — no driver loop over collected results.

    Rules of the canonical threshold shape sharing (by, fold, range,
    for, step) fuse into ONE shared-scan evaluation with metric as a
    dimension (`_eval_threshold_batch`, guide §2.4) — the r15 plans
    compiled N identical trees over N disjoint slices of the same
    scan. Everything else keeps the per-rule eval_range path.

    Prometheus fires when `now - ActiveAt >= for`, where ActiveAt is
    the first TRUE evaluation — that needs `for/step + 1` consecutive
    true evaluations (the activation tick plus for/step more). The
    grid span is therefore `for + step`, which yields exactly
    `for/step + 1` instants in (t - for - step, t]."""
    batches: dict[tuple, list] = {}
    singles: list[tuple[str, str, int, int]] = []
    for rule in rules:
        _name, expr, for_us, step_us = rule
        shape = _threshold_rule_shape(expr)
        if shape is None:
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
    for name, expr, for_us, step_us in singles:
        span_us = for_us + step_us
        g = ev.eval_range(expr, span_us, step_us)
        # true grid size (NOT a count of surviving instants — an
        # all-failing instant must disqualify); the epoch-aligned grid
        # is driver-side integer arithmetic off the pinned t_max, so
        # the old per-rule count aggregate + broadcast join is a
        # literal (guide §2.4)
        ng = len(ev.grid_points_py(Subquery(None, span_us, step_us)))
        parts.append(
            g.groupBy("labels")
            .agg(
                F.count(F.lit(1)).alias("_n"),
                F.max(F.struct("ts_us", "value")).alias("_last"),
            )
            .filter(F.col("_n") == F.lit(ng))
            .select(
                F.lit(name).alias(name_col),
                "labels",
                F.col("_last.value").alias("value"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _alert_run_stats(
    ev: PromQLEvaluator, expr: str, step_us: int, span_us: int
) -> DataFrame:
    """Per-label-set truth-run statistics of one alert expression
    over the trailing evaluation grid — the state the ALERTS /
    ALERTS_FOR_STATE synthetic series derive from (upstream's
    rules/alerting.go keeps the same per-alert ActiveAt in memory;
    here it is recomputed COLD from the window start, the
    restarted-server convention every hold evaluation in this module
    shares, so a longer-than-window activation clamps to the window).

    The comparison only emits instants where it HOLDS and grid
    instants are step-aligned, so a run of consecutive trues is a
    lag-gap island: a row opens a run iff its predecessor is not
    exactly one step earlier. Returns one row per label set with any
    true instant: (labels MAP, _k label_str key, last_true_us,
    active_at_us = start of the island containing last_true,
    value = the latest true instant's, _T = the grid end). All
    window partitions are per-label-set — never corpus-sized."""
    from shards_prometheus_spark.functions.labelset import label_str

    g = ev.eval_range_map(expr, span_us, step_us)
    # grid end as a literal — driver-side integer arithmetic off the
    # pinned t_max (was a per-rule max aggregate + broadcast join)
    t_end = max(ev.grid_points_py(Subquery(None, span_us, step_us)))
    w = Window.partitionBy("_k").orderBy("ts_us")
    return (
        g.withColumn("_k", label_str("labels"))
        .withColumn("_prev", F.lag("ts_us").over(w))
        .withColumn(
            "_start",
            F.when(
                F.col("_prev").isNull()
                | (F.col("_prev") != F.col("ts_us") - F.lit(step_us)),
                F.col("ts_us"),
            ),
        )
        .groupBy("_k")
        .agg(
            F.first("labels").alias("labels"),
            F.max("ts_us").alias("last_true_us"),
            F.max("_start").alias("active_at_us"),
            F.max(F.struct("ts_us", "value")).alias("_last"),
        )
        .select(
            "_k",
            "labels",
            "last_true_us",
            "active_at_us",
            F.col("_last.value").alias("value"),
            F.lit(t_end).alias("_T"),
        )
    )


def alert_state_series(
    ev: PromQLEvaluator,
    rules: "list[tuple[str, str, int, int]]",
    name_col: str = "alertname",
) -> DataFrame:
    """The queryable alert-state series upstream records into its
    TSDB on every rule evaluation (rules/alerting.go QueryForState /
    sample()): for each ACTIVE alert (expression true at the latest
    evaluation instant T),

    - ``ALERTS{alertname, alertstate="pending"|"firing", …labels}=1``
      — firing iff ``T - ActiveAt >= for`` (a zero `for:` fires
      immediately), pending otherwise;
    - ``ALERTS_FOR_STATE{alertname, …labels} = ActiveAt`` seconds —
      the restart-persistence series (no alertstate label upstream).

    `rules`: (alertname, expr, for_us, step_us). Returns (alertname,
    labels MAP, alertstate, active_at_us, value) — one row per active
    alert; callers shape it into the samples relation or the parity
    row. One grid pass per rule, plan-level union."""
    parts = []
    for name, expr, for_us, step_us in rules:
        st = _alert_run_stats(
            ev, expr, step_us, for_us + step_us
        ).filter(F.col("last_true_us") == F.col("_T"))
        state = F.when(
            F.col("_T") - F.col("active_at_us") >= F.lit(for_us),
            F.lit("firing"),
        ).otherwise(F.lit("pending"))
        parts.append(
            st.select(
                F.lit(name).alias(name_col),
                "labels",
                state.alias("alertstate"),
                "active_at_us",
                "value",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


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
    """`for:` + `keep_firing_for:` state at the latest evaluation
    instant T, computed from the TRUE evaluation instants alone (the
    comparison emits only instants where it holds, and grid instants
    are step-aligned, so consecutive trues are exactly `step` apart):

    - firing_raw(t): a run of for/step + 1 consecutive trues ends at t
      — detected as lag(ts, for/step) == t - for (one window pass).
    - a KILL occurs after true instant t iff some FALSE grid instant
      ts in the gap satisfies `ts - keep_since >= keep`, where
      keep_since — upstream's KeepFiringSince — is the FIRST false
      instant after t, i.e. t + step on a step-aligned grid. The
      largest false instant before the next true nt is nt - step, so
      the gap kills iff `nt - t >= keep + 2·step`; for the tail (t is
      the last true) the largest false instant is T itself, so the
      kill is `T - t >= keep + step`. Exact for ANY keep/step ratio
      (the r8 form anchored at the last TRUE evaluation and resolved
      up to one step early on non-multiple configs — ADVICE r8; the
      two coincide when keep is a step multiple, as in the configured
      48h/24h rule).
    - FIRING at T ⇔ the latest firing_raw instant exists and is later
      than the latest kill-gap start (a kill instant always falls
      strictly before the next true, so comparing gap STARTS is
      exact).

    The state machine is evaluated cold from the window start
    (span = for + keep + 4·step) — the same convention as a restarted
    Prometheus. Reported value: the latest TRUE evaluation's, which is
    what a held alert keeps exporting. One grid pass per rule, all
    window partitions are per-label (never corpus-sized), plan-level
    union."""
    parts = []
    for name, expr, for_us, keep_us, step_us in rules:
        span_us = for_us + keep_us + 4 * step_us
        need = for_us // step_us + 1
        g = ev.eval_range(expr, span_us, step_us)
        # grid end as a literal (driver-side arithmetic off t_max —
        # was a per-rule max aggregate + broadcast join)
        t_end = max(ev.grid_points_py(Subquery(None, span_us, step_us)))
        w = Window.partitionBy("labels").orderBy("ts_us")
        st = (
            g.withColumn("_lagk", F.lag("ts_us", need - 1).over(w))
            .withColumn("_next", F.lead("ts_us").over(w))
            .withColumn("_T", F.lit(t_end))
        )
        fraw = F.col("_lagk") == F.col("ts_us") - F.lit(
            (need - 1) * step_us
        )
        kill = F.when(
            F.col("_next").isNotNull(),
            F.col("_next") - F.col("ts_us")
            >= F.lit(keep_us + 2 * step_us),
        ).otherwise(
            F.col("_T") - F.col("ts_us") >= F.lit(keep_us + step_us)
        )
        agg = st.groupBy("labels").agg(
            F.max(F.when(fraw, F.col("ts_us"))).alias("_last_fraw"),
            F.max(F.when(kill, F.col("ts_us"))).alias("_last_kill"),
            F.max(F.struct("ts_us", "value")).alias("_last_true"),
        )
        parts.append(
            agg.filter(
                F.col("_last_fraw").isNotNull()
                & (
                    F.col("_last_kill").isNull()
                    | (F.col("_last_kill") < F.col("_last_fraw"))
                )
            ).select(
                F.lit(name).alias(name_col),
                "labels",
                F.col("_last_true.value").alias("value"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


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


def eval_rule_file(
    samples: DataFrame,
    text: str,
    _state_rows: "list | None" = None,
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

    Returns (grp, kind, rule, labels, value): every record's vector
    and every firing alert, labeled with its group and rule name.

    `_state_rows` (internal, see rule_file_alert_state_samples): a
    list that, when passed, collects one DataFrame per ALERT rule of
    (alertname, labels MAP incl. the rule's static labels,
    alertstate pending|firing, active_at_us, ts_us) — every ACTIVE
    alert, not just the firing set."""
    from shards_prometheus_spark.functions.labelset import label_str

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

    parts = []
    for g in load_rule_groups(text):
        gsamples = samples
        ev = PromQLEvaluator(gsamples)
        tick_us = ev.eval_time_us()
        if g.get("query_offset_us"):
            # upstream ≥2.53: the whole group evaluates at
            # ts - query_offset — queries AND the recorded samples'
            # timestamps shift (rules/group.go evaluates the vector
            # at ts.Add(-queryOffset), and the result samples carry
            # that shifted eval time)
            tick_us -= g["query_offset_us"]
            ev = PromQLEvaluator(gsamples, eval_ts_us=tick_us)
        step_us = g["interval_us"]
        for r in g["rules"]:
            gcol = F.lit(g["name"]).alias("grp")
            kcol = F.lit(r["kind"]).alias("kind")
            if r["kind"] == "record":
                vec = ev.eval_instant_map(r["expr"])
                if r["labels"]:
                    static = F.create_map(
                        *[
                            F.lit(x)
                            for kv in sorted(r["labels"].items())
                            for x in kv
                        ]
                    )
                    keys = list(r["labels"])
                    vec = vec.select(
                        F.map_concat(
                            F.map_filter(
                                F.col("labels"),
                                lambda k, _v: ~k.isin(*keys)
                                if len(keys) > 1
                                else k != keys[0],
                            ),
                            static,
                        ).alias("labels"),
                        "value",
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
                if r["keep_us"]:
                    df = eval_alert_keep_group(
                        ev,
                        [(r["name"], r["expr"], r["for_us"], r["keep_us"],
                          step_us)],
                        "rule",
                    )
                elif r["for_us"]:
                    df = eval_alert_for_group(
                        ev,
                        [(r["name"], r["expr"], r["for_us"], step_us)],
                        "rule",
                    )
                else:
                    df = eval_rule_group(
                        ev, [(r["name"], r["expr"])], "rule"
                    )
                _enforce_limit(df, g["limit"], r["name"], g["name"])
                parts.append(df.select(gcol, kcol, "rule", "labels", "value"))
                if _state_rows is not None:
                    _state_rows.append(
                        _alert_rule_states(ev, r, step_us, tick_us)
                    )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _alert_rule_states(
    ev: PromQLEvaluator, r: dict, step_us: int, tick_us: int
) -> DataFrame:
    """One alert rule's ACTIVE set with state, for the ALERTS /
    ALERTS_FOR_STATE write-back: run statistics over the rule's own
    hold span; `keep_firing_for:` rules mark the grace-held set
    firing (eval_alert_keep_group is the single source of keep
    truth), a plain `for:`/instant rule fires iff its current run
    covers the hold. The rule's static labels merge OVER series
    labels (upstream: rule labels are part of alert identity)."""
    for_us, keep_us = r["for_us"], r["keep_us"]
    if keep_us:
        span = for_us + keep_us + 4 * step_us
    else:
        span = for_us + step_us
    stats = _alert_run_stats(ev, r["expr"], step_us, span)
    if keep_us:
        keep = eval_alert_keep_group(
            ev,
            [(r["name"], r["expr"], for_us, keep_us, step_us)],
            "rule",
        ).select(F.col("labels").alias("_kk"))
        st = stats.join(
            keep, stats["_k"] == keep["_kk"], "left"
        )
        active = st.filter(
            F.col("_kk").isNotNull()
            | (F.col("last_true_us") == F.col("_T"))
        )
        state = F.when(
            F.col("_kk").isNotNull(), F.lit("firing")
        ).otherwise(F.lit("pending"))
    else:
        active = stats.filter(
            F.col("last_true_us") == F.col("_T")
        )
        state = F.when(
            F.col("_T") - F.col("active_at_us") >= F.lit(for_us),
            F.lit("firing"),
        ).otherwise(F.lit("pending"))
    labels_col = F.col("labels")
    if r["labels"]:
        static = F.create_map(
            *[
                F.lit(x)
                for kv in sorted(r["labels"].items())
                for x in kv
            ]
        )
        keys = list(r["labels"])
        labels_col = F.map_concat(
            F.map_filter(
                F.col("labels"),
                lambda k, _v: ~k.isin(*keys)
                if len(keys) > 1
                else k != keys[0],
            ),
            static,
        )
    return active.select(
        F.lit(r["name"]).alias("alertname"),
        labels_col.alias("labels"),
        state.alias("alertstate"),
        "active_at_us",
        F.lit(tick_us).alias("ts_us"),
    )


def rule_file_alert_state_samples(
    samples: DataFrame, text: str
) -> "DataFrame | None":
    """The queryable alert-state series upstream's rule manager
    writes into its TSDB on every evaluation (rules/alerting.go):
    for every ACTIVE alert of every alert rule in the file,

    - ``ALERTS{alertname, alertstate="pending"|"firing", …} = 1``
    - ``ALERTS_FOR_STATE{alertname, …} = ActiveAt`` (epoch seconds;
      no alertstate label — the restart-persistence series)

    rendered in the engine's §1.2 samples-relation shape so the read
    API can serve ``ALERTS{alertstate="firing"}`` — the documented
    Grafana alert-history pattern. Rides the SAME eval_rule_file
    spine as `/api/v1/alerts` (record chaining, query_offset, static
    labels included), so the two views cannot drift. None when the
    file has no alert rules. Cold-evaluation convention: ActiveAt
    clamps to the rule's hold window start, like every hold
    evaluation here (a restarted upstream server does the same)."""
    from shards_prometheus_spark.model import series_id_expr

    rows: list = []
    eval_rule_file(samples, text, _state_rows=rows)
    if not rows:
        return None
    st = rows[0]
    for p in rows[1:]:
        st = st.unionByName(p)
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

    return eval_rule_file(samples_multi(spark, sf_dir), DEMO_RULE_FILE)


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

    # from_dir memoizes t_max per (app, sf_dir); constructing the first
    # chain evaluator from it avoids a full-scan max(ts_us) job per call
    ev = PromQLEvaluator.from_dir(spark, sf_dir)
    return eval_rule_group_chained(
        samples_multi(spark, sf_dir),
        CHAINED_RULE_GROUP,
        memo_key=sf_dir,
        eval_ts_us=ev.eval_time_us(),
    )


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
    restart series. Exercises `_alert_run_stats`' lag-gap islands +
    `alert_state_series`' state split end to end against a batch-SQL
    oracle; the API-visible write-back twin
    (rule_file_alert_state_samples → /api/v1/query) is pinned by
    tests/test_rules.py over a controlled pushed store."""
    ev = PromQLEvaluator.from_dir(spark, sf_dir)
    st = alert_state_series(
        ev,
        [
            (
                "SustainedAboveAverageClicks",
                "sum by (user) (increase(click[240h])) > "
                "scalar(avg(sum by (user) (increase(click[240h]))))",
                _H72_US,
                _H24_US,
            )
        ],
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

#: keep_firing_for oracle — mirrors eval_alert_keep_group's closed
#: form: per label, latest firing_raw instant (lag(ets, need-1) check)
#: vs latest kill-gap start (first-false-anchored upstream countdown:
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

#: ALERTS/ALERTS_FOR_STATE oracle — mirrors _alert_run_stats' lag-gap
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
