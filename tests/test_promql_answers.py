"""PromQL answers on SF_SMOKE, pinned to recorded values.

`promql_answers_sf0.001.json` (next to this file) holds the rendered
answers of INSTANT, RANGE and FINE_RANGE — every `*_over_time` fold, the counter family, the
instant-selector pick, every aggregation with `by` and `without`,
topk / limitk, histogram_quantile, absent, subqueries and binary
operators — as instant queries at the data's newest sample and as
range queries over a request grid. The PUSHED_* queries run over the store
unioned with a pushed-style relation (`_pushed_union`) whose label maps
list their keys in the opposite order to the base store's.

Labels compare as sets of pairs (a rebuilt map lists its keys in
sorted order, a scanned one in stored order) and values to within one
unit of the response's 4dp pin.

Re-record (only when an answer is meant to change):
``python tests/test_promql_answers.py``.
"""

from __future__ import annotations

import json
import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.conftest import SF_SMOKE  # noqa: E402

FIXTURE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "promql_answers_sf0.001.json"
)

_FOLDS = [
    "avg_over_time", "min_over_time", "max_over_time", "sum_over_time",
    "count_over_time", "last_over_time", "stddev_over_time",
    "stdvar_over_time", "mad_over_time", "present_over_time",
    "ts_of_max_over_time", "ts_of_min_over_time", "ts_of_last_over_time",
]
_COUNTERS = [
    "rate", "increase", "irate", "idelta", "delta", "resets", "changes",
]
_AGGS = ["sum", "avg", "min", "max", "count", "group", "stddev", "stdvar"]

#: instant queries at the data's newest sample
INSTANT = (
    [f"{fn}(click[10d])" for fn in _FOLDS]
    + [
        "quantile_over_time(0.75, view[10d])",
        'sum_over_time(view{shard=~"[0-4]", user!="3"}[30d])',
        "count_over_time(purchase[30d] offset 2d)",
    ]
    + [f"{fn}(purchase[10d])" for fn in _COUNTERS]
    + [
        "deriv(view[10d])",
        "predict_linear(view[10d], 3600)",
        "holt_winters(view[10d], 0.5, 0.5)",
        # the instant-selector pick (the newest sample is a purchase;
        # FINE_RANGE covers the pick across many instants)
        "purchase",
        'sum by (shard) (purchase{user!="3"})',
        "timestamp(purchase)",
        "sum(count_over_time(click[30d]))",
        "sum(count_over_time(nonexistent_metric[30d]))",
        "sum by (shard) (nonexistent_metric)",
    ]
    + [f"{op} by (shard) (sum_over_time(click[30d]))" for op in _AGGS]
    + [f"{op} without (shard) (rate(click[30d]))" for op in _AGGS]
    + [
        "sum by (user, shard) (count_over_time(view[30d]))",
        "min by (shard) (min_over_time(click[30d]))",
        "max without (user) (max_over_time(view[10d]))",
        "sum without () (count_over_time(view[30d]))",
        "quantile by (shard) (0.9, sum_over_time(view[30d]))",
        "quantile without (user) (0.5, increase(click[30d]))",
        'count_values("n", count_over_time(click[30d]))',
        'count_values by (shard) ("n", count_over_time(click[30d]))',
        'count_values without (user) ("n", count_over_time(click[30d]))',
        "sum by (shard) (view)",
        "topk(3, sum by (user) (increase(purchase[30d])))",
        "bottomk(2, sum by (user) (rate(click[30d])))",
        "topk by (shard) (1, count_over_time(view[30d]))",
        "limitk(4, sum_over_time(view[30d]))",
        "histogram_quantile(0.9, sum by (le) (rate(view_bucket[30d])))",
        "histogram_quantile(0.5, sum by (le, shard) "
        "(increase(view_bucket[30d])))",
        "histogram_quantile(0.75, view_bucket)",
        'sum by (le) (view_bucket{le="+Inf"})',
        "absent(nonexistent_metric)",
        "absent(click)",
        'absent(nonexistent_metric{job="x"})',
        "absent_over_time(nonexistent_metric[1d])",
        "absent(sum(nonexistent_metric))",
        "max_over_time(rate(click[10d])[5d:1d])",
        "avg_over_time(sum by (shard) (count_over_time(view[1d]))[5d:1d])",
        "sum by (user) (increase(click[30d])) / "
        "sum by (user) (increase(view[30d]))",
        "sum by (user) (count_over_time(click[30d])) > 10",
        "sum by (user) (rate(click[30d])) "
        "> bool scalar(avg(sum by (user) (rate(click[30d]))))",
    ]
)

#: range queries over the request grid (start, end, step) in seconds
#: back from the data's newest sample
RANGE = [
    "sum by (shard) (rate(click[1d]))",
    "sum(count_over_time(click[1d]))",
    "max_over_time(view[1d])",
    "irate(purchase[2d])",
    "view",
    "topk(2, sum by (user) (rate(click[1d])))",
    "histogram_quantile(0.9, sum by (le) (rate(view_bucket[1d])))",
    "quantile by (shard) (0.5, sum_over_time(view[1d]))",
    'count_values("n", count_over_time(click[1d]))',
    "avg without (user) (increase(click[2d]))",
    "absent(nonexistent_metric)",
    "sum(count_over_time(nonexistent_metric[1d]))",
]
#: range queries over a one-minute grid: every sample lies in the
#: lookback of five instants, so the instant-selector pick answers
FINE_RANGE = [
    "view",
    'sum by (shard) (view{shard!="2"})',
    "timestamp(view)",
    "max_over_time(count_over_time(view[1h])[2h:10m])",
]
RANGE_WINDOW_S = {"range": (3 * 86_400, 12 * 3600), "fine": (2 * 86_400, 60)}

#: queries over the store unioned with `_pushed_union`
PUSHED_INSTANT = [
    "sum by (user) (count_over_time(click[30d]))",
    "count_over_time(click[30d])",
    "sum_over_time(click[30d])",
    "rate(click[30d])",
    "click",
    "sum without (shard) (sum_over_time(click[30d]))",
    "sum(count_over_time(pushed_only[30d]))",
    "sum by (shard) (max_over_time(pushed_only[30d]))",
]
PUSHED_RANGE = [
    "sum by (shard) (count_over_time(click[2d]))",
    "count_over_time(click[2d])",
]
PUSHED_FINE_RANGE = ["click", "sum by (user) (click)"]


def _pushed_union(spark):
    """SF_SMOKE's samples plus rows shaped like the remote-write store:
    negative event_ids, the shared series_id hash and label maps that
    list `shard` before `user`. A third of the `click` rows come back
    one second later at twice the value (pushes into base series), and
    the `view` rows of shards 0-4 as a new metric `pushed_only`."""
    from pyspark.sql import functions as F

    from shards_prometheus_spark.model import samples_multi, series_id_expr

    base = samples_multi(spark, SF_SMOKE)
    swapped = F.create_map(
        F.lit("shard"), F.element_at("labels", F.lit("shard")),
        F.lit("user"), F.element_at("labels", F.lit("user")),
    )
    metric = F.when(F.col("metric") == "view", F.lit("pushed_only")).otherwise(
        F.col("metric")
    )
    pushed = base.filter(
        ((F.col("metric") == "click") & (F.pmod("event_id", F.lit(3)) == 0))
        | (
            (F.col("metric") == "view")
            & (F.element_at("labels", F.lit("shard")) < "5")
        )
    ).select(
        (-F.col("event_id") - 1).alias("event_id"),
        series_id_expr(metric, swapped).alias("series_id"),
        metric.alias("metric"),
        swapped.alias("labels"),
        (F.col("ts_us") + 1_000_000).alias("ts_us"),
        (F.col("value") * 2).alias("value"),
    )
    return base.unionByName(pushed)


def _rows(df, ts: bool) -> list:
    out = []
    for r in df.collect():
        labels = sorted((r["labels"] or {}).items())
        out.append([r["ts_us"] if ts else None, labels, r["value"]])
    return sorted(out, key=lambda x: (x[0] or 0, x[1], repr(x[2])))


def answers(spark) -> dict:
    """query → rendered rows, for every query of this module."""
    from shards_prometheus_spark.functions.promql_parser import (
        PromQLEvaluator,
        data_time_us,
    )
    from shards_prometheus_spark.model import samples_multi

    out: dict = {}
    for tag, samples, inst, rng, fine in (
        ("", samples_multi(spark, SF_SMOKE), INSTANT, RANGE, FINE_RANGE),
        (
            "pushed:", _pushed_union(spark), PUSHED_INSTANT, PUSHED_RANGE,
            PUSHED_FINE_RANGE,
        ),
    ):
        t = data_time_us(samples)
        ev = PromQLEvaluator(samples, eval_ts_us=t)
        for q in inst:
            out[f"{tag}instant:{q}"] = _rows(ev.eval_instant_map(q), False)
        t_s = t // 1_000_000
        for kind, queries in (("range", rng), ("fine", fine)):
            span_s, step_s = RANGE_WINDOW_S[kind]
            start, end = (t_s - span_s) * 1_000_000, t_s * 1_000_000
            ev = PromQLEvaluator(samples, eval_ts_us=end)
            for q in queries:
                out[f"{tag}{kind}:{q}"] = _rows(
                    ev.eval_range_map_at(q, start, end, step_s * 1_000_000),
                    True,
                )
    return out


def _same_value(a, b) -> bool:
    if a is None or b is None:
        return a is b
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    return a == b or abs(a - b) <= 1e-4 + 1e-12 * abs(a)


@pytest.fixture(scope="module")
def got(spark):
    return answers(spark)


@pytest.fixture(scope="module")
def want():
    with open(FIXTURE) as f:
        return json.load(f)


@pytest.mark.parametrize(
    "key",
    [f"instant:{q}" for q in INSTANT]
    + [f"range:{q}" for q in RANGE]
    + [f"fine:{q}" for q in FINE_RANGE]
    + [f"pushed:instant:{q}" for q in PUSHED_INSTANT]
    + [f"pushed:range:{q}" for q in PUSHED_RANGE]
    + [f"pushed:fine:{q}" for q in PUSHED_FINE_RANGE],
)
def test_answer_equals_recorded(got, want, key):
    g, w = got[key], want[key]
    assert len(g) == len(w), (key, len(g), len(w))
    for (gt, gl, gv), (wt, wl, wv) in zip(g, w):
        assert gt == wt and [list(p) for p in gl] == wl, (key, g, w)
        assert _same_value(gv, wv), (key, gl, gv, wv)


if __name__ == "__main__":
    from shards_prometheus_spark.session import get_spark

    spark = get_spark("record-answers", master="local[4]", shuffle_partitions=4)
    got = answers(spark)
    with open(FIXTURE, "w") as f:  # one query per line
        f.write("{\n" + ",\n".join(
            json.dumps(k) + ": " + json.dumps(got[k], separators=(",", ":"))
            for k in sorted(got)
        ) + "\n}\n")
    spark.stop()
