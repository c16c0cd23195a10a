"""PromQL evaluator tests: grammar errors, and compiled plans checked
against hand-built DataFrame twins (the registered demo expressions are
oracle-checked in the parity sweep)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from shards_prometheus_spark.functions.promql_parser import (
    PromQLSyntaxError,
    parse,
    promql_eval,
)
from shards_prometheus_spark.model import samples_multi
from tests.conftest import SF_SMOKE


@pytest.mark.parametrize(
    "bad",
    [
        "sum by (user (rate(click[1h]))",   # unbalanced
        "rate(click)",                       # range fn without [d]
        "click{user=unquoted}",              # unquoted matcher
        "topk(5, click) extra",              # trailing tokens
        "1 > 2",                             # scalar cmp needs bool
        "bogus_over_time(click[1h:5m])",     # unknown fn over subquery
        "click[1h][1h:5m]",                  # subquery of a range vector
    ],
)
def test_syntax_errors(spark, bad):
    with pytest.raises(PromQLSyntaxError):
        promql_eval(spark, SF_SMOKE, bad)


def test_parse_shapes():
    ast = parse('sum by (user) (rate(click{shard!="9"}[30m] offset 1h))')
    assert ast.op == "sum" and ast.by == ["user"]
    sel = ast.expr.sel
    assert sel.range_us == 1_800_000_000 and sel.offset_us == 3_600_000_000
    assert sel.matchers == [("shard", "!=", "9")]


def test_count_over_time_matches_hand_twin(spark):
    got = {
        (r["labels"], r["value"])
        for r in promql_eval(
            spark, SF_SMOKE, "count_over_time(click[720h])"
        ).collect()
    }
    s = samples_multi(spark, SF_SMOKE)
    tmax = s.agg(F.max("ts_us").alias("t")).first()["t"]
    want = {
        (
            f"shard={r['shard']},user={r['user']}",
            float(r["n"]),
        )
        for r in s.filter(
            (F.col("metric") == "click")
            & (F.col("ts_us") > tmax - 720 * 3_600_000_000)
            & (F.col("ts_us") <= tmax)
        )
        .select(
            F.element_at("labels", F.lit("user")).alias("user"),
            F.element_at("labels", F.lit("shard")).alias("shard"),
        )
        .groupBy("user", "shard")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want and len(got) > 0


def test_vector_scalar_arithmetic(spark):
    base = {
        r["labels"]: r["value"]
        for r in promql_eval(
            spark, SF_SMOKE, "sum by (user) (increase(click[720h]))"
        ).collect()
    }
    doubled = {
        r["labels"]: r["value"]
        for r in promql_eval(
            spark, SF_SMOKE, "sum by (user) (increase(click[720h])) * 2"
        ).collect()
    }
    assert set(base) == set(doubled) and len(base) > 0
    for k, v in base.items():
        assert doubled[k] == pytest.approx(2 * v, abs=2e-4)


def test_scalar_expressions(spark):
    """Top-level pure-scalar queries (VERDICT r8 missing #3): one
    empty-labeled row — the relational resultType: scalar."""
    import math

    rows = promql_eval(spark, SF_SMOKE, "1 + 2 * 3").collect()
    assert [(r["labels"], r["value"]) for r in rows] == [("", 7.0)]
    t_max = (
        samples_multi(spark, SF_SMOKE).agg(F.max("ts_us")).collect()[0][0]
    )
    got = promql_eval(spark, SF_SMOKE, "time() - 3600").collect()[0]
    assert got["value"] == pytest.approx(round(t_max / 1e6 - 3600, 4))
    assert (
        promql_eval(spark, SF_SMOKE, "scalar(vector(42)) * 2")
        .collect()[0]["value"]
        == 84.0
    )
    # scalar(v) of a multi-series vector is NaN, and NaN propagates
    nan_v = promql_eval(spark, SF_SMOKE, "scalar(click) + 1").collect()
    assert len(nan_v) == 1 and math.isnan(nan_v[0]["value"])


def test_scalar_bool_comparisons(spark):
    def one(expr):
        return promql_eval(spark, SF_SMOKE, expr).collect()[0]["value"]

    assert one("1 >= bool 2") == 0.0
    assert one("time() > bool 3600") == 1.0
    # NaN operand: IEEE — every comparison false except `!=`
    assert one("scalar(click) == bool 1") == 0.0
    assert one("scalar(click) != bool 1") == 1.0


def test_vector_of_scalar_expression(spark):
    """vector(<scalar expr>) — the general public form: one
    empty-labeled sample carrying the computed scalar (literal and
    time() keep their fast-path nodes)."""
    rows = promql_eval(
        spark, SF_SMOKE, "vector(1 + 2 * scalar(vector(10)))"
    ).collect()
    assert [(r["labels"], r["value"]) for r in rows] == [("", 21.0)]
    # a vector inside vector() is rejected, as upstream
    with pytest.raises(PromQLSyntaxError):
        promql_eval(spark, SF_SMOKE, "vector(click)")


def test_vector_times_compound_scalar(spark):
    """`v * (1+2)` — a compound scalar side routes through
    _scalar_rel and must equal the literal `v * 3` plan exactly
    (both round the same raw product)."""
    direct = {
        (r["labels"], r["value"])
        for r in promql_eval(
            spark, SF_SMOKE, "sum by (user) (increase(click[720h])) * 3"
        ).collect()
    }
    compound = {
        (r["labels"], r["value"])
        for r in promql_eval(
            spark,
            SF_SMOKE,
            "sum by (user) (increase(click[720h])) * (1 + 2)",
        ).collect()
    }
    assert direct == compound and len(direct) > 0


def test_range_scalar_broadcasts_over_grid(spark):
    from shards_prometheus_spark.functions.promql_parser import (
        PromQLEvaluator,
    )

    h = 3_600_000_000
    rows = PromQLEvaluator(samples_multi(spark, SF_SMOKE)).eval_range(
        "time() - 3600", 24 * h, 6 * h
    ).collect()
    # exactly range/step instants survive the strict > window edge
    assert len(rows) == 4
    assert all(r["labels"] == "" for r in rows)
    for r in rows:
        assert r["value"] == pytest.approx(
            round(r["ts_us"] / 1e6 - 3600, 4)
        )


def test_offset_shifts_the_window(spark):
    plain = promql_eval(spark, SF_SMOKE, "sum_over_time(view[240h])")
    offs = promql_eval(
        spark, SF_SMOKE, "sum_over_time(view[240h] offset 240h)"
    )
    a = {(r["labels"], r["value"]) for r in plain.collect()}
    b = {(r["labels"], r["value"]) for r in offs.collect()}
    assert a and b and a != b


def test_group_left_share_sums_to_one(spark):
    """on(user) group_left: shares within each user must sum to ~1."""
    rows = promql_eval(
        spark,
        SF_SMOKE,
        "sum by (user, shard) (increase(click[720h])) / on (user) "
        "group_left sum by (user) (increase(click[720h]))",
    ).collect()
    assert rows
    per_user: dict[str, float] = {}
    for r in rows:
        user = dict(
            kv.split("=", 1) for kv in r["labels"].split(",")
        )["user"]
        per_user[user] = per_user.get(user, 0.0) + r["value"]
    for total in per_user.values():
        assert total == pytest.approx(1.0, abs=1e-2)


def test_ignoring_matches_complement_labels(spark):
    """ignoring(shard) must equal on(user) here (labels = {user, shard});
    many-to-one, so group_left is REQUIRED (since r3 the evaluator
    enforces Prometheus's duplicate-series error without it)."""
    a = {
        (r["labels"], r["value"])
        for r in promql_eval(
            spark,
            SF_SMOKE,
            "sum_over_time(click[720h]) + ignoring (shard) group_left "
            "sum by (user) (sum_over_time(click[720h]))",
        ).collect()
    }
    b = {
        (r["labels"], r["value"])
        for r in promql_eval(
            spark,
            SF_SMOKE,
            "sum_over_time(click[720h]) + on (user) group_left "
            "sum by (user) (sum_over_time(click[720h]))",
        ).collect()
    }
    assert a == b and len(a) > 0


def test_without_equals_complement_by(spark):
    """without (shard) ≡ by (user) when labels = {user, shard}."""
    a = {
        (r["labels"], r["value"])
        for r in promql_eval(
            spark, SF_SMOKE, "sum without (shard) (sum_over_time(click[720h]))"
        ).collect()
    }
    b = {
        (r["labels"], r["value"])
        for r in promql_eval(
            spark, SF_SMOKE, "sum by (user) (sum_over_time(click[720h]))"
        ).collect()
    }
    assert a == b and len(a) > 0


def test_absent_semantics(spark):
    """absent() of a missing metric yields one row valued 1 carrying
    the equality matchers; of a present metric, no rows."""
    missing = promql_eval(
        spark, SF_SMOKE, 'absent(nonexistent_metric{user="7"})'
    ).collect()
    assert [(r["labels"], r["value"]) for r in missing] == [("user=7", 1.0)]
    # the metric owning the max-ts sample is inside the lookback at T
    # by construction (sparse smoke data may have no 'click' there)
    s = samples_multi(spark, SF_SMOKE)
    present = (
        s.orderBy(F.desc("ts_us")).select("metric").first()["metric"]
    )
    assert promql_eval(spark, SF_SMOKE, f"absent({present})").count() == 0


# ----------------------------------------------------------------------
# round-3 surface: subquery, bool, group_right, vector-vector compare,
# histogram_quantile, quantile agg, duplicate detection, missing labels
# ----------------------------------------------------------------------


def test_subquery_outer_folds_relate(spark):
    """max_over_time ≥ avg_over_time pointwise over the same subquery
    grid, with identical label sets."""
    mx = {
        r["labels"]: r["value"]
        for r in promql_eval(
            spark,
            SF_SMOKE,
            "max_over_time(count_over_time(click[24h])[240h:24h])",
        ).collect()
    }
    av = {
        r["labels"]: r["value"]
        for r in promql_eval(
            spark,
            SF_SMOKE,
            "avg_over_time(count_over_time(click[24h])[240h:24h])",
        ).collect()
    }
    assert set(mx) == set(av) and len(mx) > 0
    for k in mx:
        assert mx[k] >= av[k] - 1e-9


def test_subquery_over_instant_selector(spark):
    """count_over_time over an instant-selector subquery counts the
    grid points whose 5m staleness lookback holds a sample. With one
    sample exactly at each 24h-aligned instant, every point hits."""
    from shards_prometheus_spark.functions.promql_parser import (
        PromQLEvaluator,
    )

    h24 = 24 * 3_600_000_000
    rows = [
        (i, 1, "m", {"user": "a"}, i * h24, float(i))
        for i in range(1, 11)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, series_id long, metric string, "
        "labels map<string,string>, ts_us long, value double",
    )
    got = PromQLEvaluator(df).eval(
        "count_over_time(m[240h:24h])"
    ).collect()
    # t_max = 10d; grid = the ten 24h-aligned instants in (0, 10d],
    # each with exactly one sample in its lookback
    assert [(r["labels"], r["value"]) for r in got] == [("user=a", 10.0)]


def test_bool_modifier_keeps_all_series(spark):
    base = promql_eval(
        spark, SF_SMOKE, "sum by (user) (increase(click[720h]))"
    ).collect()
    filt = promql_eval(
        spark, SF_SMOKE, "sum by (user) (increase(click[720h])) > 50"
    ).collect()
    boolv = promql_eval(
        spark, SF_SMOKE, "sum by (user) (increase(click[720h])) > bool 50"
    ).collect()
    assert len(boolv) == len(base) > 0
    assert all(r["value"] in (0.0, 1.0) for r in boolv)
    assert sum(r["value"] for r in boolv) == len(filt)


def test_vector_vector_compare_filters_left(spark):
    a = {
        r["labels"]: r["value"]
        for r in promql_eval(
            spark, SF_SMOKE, "sum by (user) (increase(click[720h]))"
        ).collect()
    }
    b = {
        r["labels"]: r["value"]
        for r in promql_eval(
            spark, SF_SMOKE, "sum by (user) (increase(view[720h]))"
        ).collect()
    }
    got = {
        r["labels"]: r["value"]
        for r in promql_eval(
            spark,
            SF_SMOKE,
            "sum by (user) (increase(click[720h])) > "
            "sum by (user) (increase(view[720h]))",
        ).collect()
    }
    want = {
        k: a[k]
        for k in a
        if k in b and round(a[k], 6) > round(b[k], 6)
    }
    assert set(got) == set(want) and len(got) > 0
    for k in got:
        assert got[k] == pytest.approx(want[k], abs=2e-4)


def test_group_right_is_share_reciprocal(spark):
    """share (group_left, per/tot) × its group_right mirror (tot/per)
    must be ≈ 1 on every (user, shard) series."""
    share = {
        r["labels"]: r["value"]
        for r in promql_eval(
            spark,
            SF_SMOKE,
            "sum by (user, shard) (increase(click[720h])) / on (user) "
            "group_left sum by (user) (increase(click[720h]))",
        ).collect()
    }
    inv = {
        r["labels"]: r["value"]
        for r in promql_eval(
            spark,
            SF_SMOKE,
            "sum by (user) (increase(click[720h])) / on (user) "
            "group_right sum by (user, shard) (increase(click[720h]))",
        ).collect()
    }
    assert set(share) == set(inv) and len(share) > 0
    for k, v in share.items():
        if v and inv[k]:
            assert v * inv[k] == pytest.approx(1.0, abs=1e-2)


def test_histogram_quantile_monotone_in_phi(spark):
    lo = {
        r["labels"]: r["value"]
        for r in promql_eval(
            spark,
            SF_SMOKE,
            "histogram_quantile(0.5, rate(view_bucket[720h]))",
        ).collect()
    }
    hi = {
        r["labels"]: r["value"]
        for r in promql_eval(
            spark,
            SF_SMOKE,
            "histogram_quantile(0.9, rate(view_bucket[720h]))",
        ).collect()
    }
    assert set(lo) == set(hi) and len(lo) > 0
    for k in lo:
        assert 0.0 <= lo[k] <= hi[k] <= 500.0


def test_histogram_quantile_aggregated_buckets(spark):
    """The dashboard idiom: one global quantile from le-summed buckets,
    inside the observed value range."""
    rows = promql_eval(
        spark,
        SF_SMOKE,
        "histogram_quantile(0.9, sum by (le) "
        "(increase(view_bucket[720h])))",
    ).collect()
    assert len(rows) == 1
    assert rows[0]["labels"] == ""
    assert 0.0 < rows[0]["value"] <= 500.0


def test_quantile_agg_between_min_max(spark):
    q = {
        r["labels"]: r["value"]
        for r in promql_eval(
            spark,
            SF_SMOKE,
            "quantile by (shard) (0.9, sum by (user, shard) "
            "(increase(click[720h])))",
        ).collect()
    }
    mn = {
        r["labels"]: r["value"]
        for r in promql_eval(
            spark,
            SF_SMOKE,
            "min by (shard) (sum by (user, shard) "
            "(increase(click[720h])))",
        ).collect()
    }
    mx = {
        r["labels"]: r["value"]
        for r in promql_eval(
            spark,
            SF_SMOKE,
            "max by (shard) (sum by (user, shard) "
            "(increase(click[720h])))",
        ).collect()
    }
    assert set(q) == set(mn) == set(mx) and len(q) > 0
    for k in q:
        assert mn[k] - 1e-6 <= q[k] <= mx[k] + 1e-6


def test_duplicate_match_group_raises(spark):
    """Many-to-many without a group modifier must raise Prometheus's
    duplicate-series error at execution time."""
    df = promql_eval(
        spark,
        SF_SMOKE,
        "sum_over_time(click[720h]) + on (shard) sum_over_time(view[720h])",
    )
    with pytest.raises(Exception, match="found duplicate series"):
        df.collect()


def test_missing_label_is_empty_string(spark):
    """{l!=\"v\"} and {l!~\"re\"} match series LACKING l (Prometheus
    missing-label-as-empty semantics), via a relation with an optional
    third label."""
    from shards_prometheus_spark.functions.promql_parser import (
        PromQLEvaluator,
    )

    rows = [
        (1, 11, "m", {"user": "a", "env": "prod"}, 1_000_000, 1.0),
        (2, 22, "m", {"user": "b"}, 1_000_000, 2.0),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, series_id long, metric string, "
        "labels map<string,string>, ts_us long, value double",
    )
    ev = PromQLEvaluator(df)
    got = {
        r["labels"]
        for r in ev.eval('m{env!="prod"}').collect()
    }
    assert got == {"user=b"}
    got_re = {
        r["labels"]
        for r in ev.eval('m{env!~"pr.*"}').collect()
    }
    assert got_re == {"user=b"}
    got_eq = {
        r["labels"]
        for r in ev.eval('m{env=""}').collect()
    }
    assert got_eq == {"user=b"}


def test_escaped_quote_in_matcher_value():
    ast = parse('up{job="a\\"b",path="c\\\\d"}')
    assert ast.matchers == [("job", "=", 'a"b'), ("path", "=", "c\\d")]


def test_at_modifier_pins_eval_time(spark):
    """`sel @ ts` must equal evaluating with t_max artificially moved
    to ts: compare against the same window stated as an offset from a
    known fixture timestamp."""
    from shards_prometheus_spark.functions.promql_parser import (
        PromQLEvaluator,
    )

    h = 3_600_000_000
    rows = [
        (i, 1, "m", {"user": "a"}, i * h, float(i)) for i in range(1, 25)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, series_id long, metric string, "
        "labels map<string,string>, ts_us long, value double",
    )
    ev = PromQLEvaluator(df)
    # @12h: in-window samples are (6h,12h] = v7..v12 → increase 5
    got = ev.eval(f"increase(m[6h] @ {12 * 3600})").collect()
    assert [(r["labels"], r["value"]) for r in got] == [("user=a", 5.0)]
    # @ + offset compose: T = 12h - 2h = 10h → v5..v10 → increase 5
    got2 = ev.eval(f"increase(m[6h] @ {12 * 3600} offset 2h)").collect()
    assert [(r["labels"], r["value"]) for r in got2] == [("user=a", 5.0)]


def test_count_values_groups_by_rendered_value(spark):
    from shards_prometheus_spark.functions.promql_parser import (
        PromQLEvaluator,
    )

    rows = [
        (1, 1, "m", {"user": "a"}, 1_000_000, 5.0),
        (2, 2, "m", {"user": "b"}, 1_000_000, 5.0),
        (3, 3, "m", {"user": "c"}, 1_000_000, 7.0),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, series_id long, metric string, "
        "labels map<string,string>, ts_us long, value double",
    )
    got = {
        (r["labels"], r["value"])
        for r in PromQLEvaluator(df).eval('count_values("v", m)').collect()
    }
    assert got == {("v=5.0", 2.0), ("v=7.0", 1.0)}


def test_group_agg_emits_ones(spark):
    got = promql_eval(
        spark, SF_SMOKE, "group by (shard) (increase(click[720h]))"
    ).collect()
    assert len(got) > 0
    assert all(r["value"] == 1.0 for r in got)


def test_sort_desc_orders_by_value(spark):
    got = promql_eval(
        spark, SF_SMOKE, "sort_desc(sum by (user) (increase(click[720h])))"
    ).collect()
    vals = [r["value"] for r in got]
    assert len(vals) > 1 and vals == sorted(vals, reverse=True)


def test_group_left_label_copy(spark):
    """group_left(band): the copied label appears on every output
    series and matches the one-side's rendered value per user."""
    from shards_prometheus_spark.functions.promql_parser import (
        PROMQL_GROUP_LEFT_COPY,
    )

    got = promql_eval(spark, SF_SMOKE, PROMQL_GROUP_LEFT_COPY).collect()
    assert len(got) > 0
    assert all(r["labels"].startswith("band=") for r in got)
    # the lhs values must be unchanged by the *1 info-join
    lhs = {
        r["labels"]: r["value"]
        for r in promql_eval(
            spark,
            SF_SMOKE,
            "sum by (user, shard) (increase(click[720h]))",
        ).collect()
    }
    def strip_band(lab):
        return ",".join(p for p in lab.split(",") if not p.startswith("band="))
    stripped = {strip_band(r["labels"]): r["value"] for r in got}
    assert stripped == lhs


def _tiny_eval(spark, rows):
    from shards_prometheus_spark.functions.promql_parser import (
        PromQLEvaluator,
    )

    df = spark.createDataFrame(
        rows,
        "event_id long, series_id long, metric string, "
        "labels map<string,string>, ts_us long, value double",
    )
    return PromQLEvaluator(df)


def test_stddev_stdvar_over_time(spark):
    """Population spread of raw samples in the window: values 1,3,5
    -> stdvar 8/3, stddev sqrt(8/3); the subquery path folds the same
    three last_over_time grid points to the identical answer."""
    ev = _tiny_eval(
        spark,
        [
            (1, 11, "m", {"user": "a"}, 10_000_000, 1.0),
            (2, 11, "m", {"user": "a"}, 20_000_000, 3.0),
            (3, 11, "m", {"user": "a"}, 30_000_000, 5.0),
        ],
    )
    got = {
        r["labels"]: r["value"]
        for r in ev.eval("stddev_over_time(m[30s])").collect()
    }
    assert got == {"user=a": round((8 / 3) ** 0.5, 4)}
    var = {
        r["labels"]: r["value"]
        for r in ev.eval("stdvar_over_time(m[30s])").collect()
    }
    assert var == {"user=a": round(8 / 3, 4)}
    sub = {
        r["labels"]: r["value"]
        for r in ev.eval(
            "stddev_over_time(last_over_time(m[10s])[30s:10s])"
        ).collect()
    }
    assert sub == {"user=a": round((8 / 3) ** 0.5, 4)}


def test_math_functions(spark):
    ev = _tiny_eval(
        spark,
        [
            (1, 11, "m", {"user": "a"}, 1_000_000, 2.25),
            (2, 22, "m", {"user": "b"}, 1_000_000, -4.0),
        ],
    )

    def vals(expr):
        return {
            r["labels"]: r["value"] for r in ev.eval(expr).collect()
        }

    assert vals("abs(m)") == {"user=a": 2.25, "user=b": 4.0}
    assert vals("ceil(m)") == {"user=a": 3.0, "user=b": -4.0}
    assert vals("floor(m)") == {"user=a": 2.0, "user=b": -4.0}
    assert vals("sgn(m)") == {"user=a": 1.0, "user=b": -1.0}
    assert vals("clamp(m, 0, 2)") == {"user=a": 2.0, "user=b": 0.0}
    assert vals("clamp_min(m, 3)") == {"user=a": 3.0, "user=b": 3.0}
    assert vals("clamp_max(m, 0)") == {"user=a": 0.0, "user=b": -4.0}
    # nearest multiple of 0.5, tie rounds UP (2.25 -> 2.5)
    assert vals("round(m, 0.5)") == {"user=a": 2.5, "user=b": -4.0}
    assert vals("sqrt(abs(m))")["user=b"] == 2.0


def test_changes_counts_value_flips(spark):
    ev = _tiny_eval(
        spark,
        [
            (1, 11, "m", {"user": "a"}, 1_000_000, 1.0),
            (2, 11, "m", {"user": "a"}, 2_000_000, 1.0),  # no change
            (3, 11, "m", {"user": "a"}, 3_000_000, 2.0),  # change
            (4, 11, "m", {"user": "a"}, 4_000_000, 1.0),  # change (down)
        ],
    )
    got = ev.eval("changes(m[1h])").collect()
    assert {(r["labels"], r["value"]) for r in got} == {("user=a", 2.0)}


def test_deriv_and_predict_linear_exact_line(spark):
    """Points on y = 9 + 2x (x = seconds relative to t_max): slope is
    exactly 2/s, predicted value 10s ahead is exactly 29."""
    ev = _tiny_eval(
        spark,
        [
            (1, 11, "m", {"user": "a"}, 0, 5.0),
            (2, 11, "m", {"user": "a"}, 1_000_000, 7.0),
            (3, 11, "m", {"user": "a"}, 2_000_000, 9.0),
        ],
    )
    d = ev.eval("deriv(m[1h])").collect()
    assert {(r["labels"], r["value"]) for r in d} == {("user=a", 2.0)}
    p = ev.eval("predict_linear(m[1h], 10)").collect()
    assert {(r["labels"], r["value"]) for r in p} == {("user=a", 29.0)}


def test_deriv_drops_single_point_series(spark):
    ev = _tiny_eval(
        spark,
        [
            (1, 11, "m", {"user": "a"}, 1_000_000, 5.0),
            (2, 22, "m", {"user": "b"}, 1_000_000, 1.0),
            (3, 22, "m", {"user": "b"}, 2_000_000, 2.0),
        ],
    )
    got = {r["labels"] for r in ev.eval("deriv(m[1h])").collect()}
    assert got == {"user=b"}


def test_label_replace_semantics(spark):
    ev = _tiny_eval(
        spark,
        [
            (1, 11, "m", {"user": "abc"}, 1_000_000, 1.0),
            (2, 22, "m", {"user": "zz"}, 1_000_000, 2.0),
        ],
    )
    # capture group lands in dst; non-matching series untouched
    got = {
        r["labels"]
        for r in ev.eval(
            'label_replace(m, "head", "h$1", "user", "a(b)c")'
        ).collect()
    }
    assert got == {"head=hb,user=abc", "user=zz"}
    # empty replacement drops the dst label (here: overwrites nothing)
    got2 = {
        r["labels"]
        for r in ev.eval(
            'label_replace(m, "user", "", "user", "zz")'
        ).collect()
    }
    assert got2 == {"user=abc", ""}


def test_label_join_semantics(spark):
    ev = _tiny_eval(
        spark,
        [
            (1, 11, "m", {"user": "a", "shard": "3"}, 1_000_000, 1.0),
        ],
    )
    got = {
        r["labels"]
        for r in ev.eval(
            'label_join(m, "uid", "-", "user", "shard")'
        ).collect()
    }
    assert got == {"shard=3,uid=a-3,user=a"}


def test_set_operators(spark):
    ev = _tiny_eval(
        spark,
        [
            (1, 11, "a", {"user": "x"}, 1_000_000, 1.0),
            (2, 22, "a", {"user": "y"}, 1_000_000, 2.0),
            (3, 33, "b", {"user": "y"}, 1_000_000, 9.0),
            (4, 44, "b", {"user": "z"}, 1_000_000, 8.0),
        ],
    )

    def pairs(expr):
        return {
            (r["labels"], r["value"]) for r in ev.eval(expr).collect()
        }

    assert pairs("a and b") == {("user=y", 2.0)}
    assert pairs("a unless b") == {("user=x", 1.0)}
    # left wins on the overlap; unmatched right appended with its value
    assert pairs("a or b") == {
        ("user=x", 1.0),
        ("user=y", 2.0),
        ("user=z", 8.0),
    }
    # precedence: `and` binds tighter than `or`
    assert pairs("a or a and b") == pairs("a or (a and b)")


def test_set_operator_on_matching(spark):
    ev = _tiny_eval(
        spark,
        [
            (1, 11, "a", {"user": "x", "shard": "1"}, 1_000_000, 1.0),
            (2, 22, "a", {"user": "y", "shard": "2"}, 1_000_000, 2.0),
            (3, 33, "b", {"user": "y", "env": "p"}, 1_000_000, 9.0),
        ],
    )
    got = {
        (r["labels"], r["value"])
        for r in ev.eval("a and on (user) b").collect()
    }
    assert got == {("shard=2,user=y", 2.0)}
    with pytest.raises(PromQLSyntaxError):
        ev.eval("a and on (user) group_left b")


def test_stddev_stdvar_population_moments(spark):
    ev = _tiny_eval(
        spark,
        [
            (1, 11, "m", {"user": "a", "g": "1"}, 1_000_000, 1.0),
            (2, 22, "m", {"user": "b", "g": "1"}, 1_000_000, 2.0),
            (3, 33, "m", {"user": "c", "g": "1"}, 1_000_000, 3.0),
        ],
    )
    sv = ev.eval("stdvar by (g) (m)").collect()
    assert [(r["labels"], r["value"]) for r in sv] == [("g=1", 0.6667)]
    sd = ev.eval("stddev by (g) (m)").collect()
    assert [(r["labels"], r["value"]) for r in sd] == [("g=1", 0.8165)]


def test_quantile_present_absent_over_time(spark):
    ev = _tiny_eval(
        spark,
        [
            (1, 11, "m", {"user": "a"}, 1_000_000, 1.0),
            (2, 11, "m", {"user": "a"}, 2_000_000, 2.0),
            (3, 11, "m", {"user": "a"}, 3_000_000, 3.0),
        ],
    )
    q = ev.eval("quantile_over_time(0.5, m[1h])").collect()
    assert [(r["labels"], r["value"]) for r in q] == [("user=a", 2.0)]
    p = ev.eval("present_over_time(m[1h])").collect()
    assert [(r["labels"], r["value"]) for r in p] == [("user=a", 1.0)]
    # present metric -> absent_over_time yields nothing
    assert ev.eval("absent_over_time(m[1h])").count() == 0
    # missing metric -> one row labeled with the equality matchers
    a = ev.eval('absent_over_time(gone{job="x"}[1h])').collect()
    assert [(r["labels"], r["value"]) for r in a] == [("job=x", 1.0)]
    with pytest.raises(PromQLSyntaxError):
        ev.eval("quantile_over_time(0.5, m)")


def test_time_timestamp_vector_date_fns(spark):
    # 1705276800 = 2024-01-15T00:00:00Z, a Monday
    ev = _tiny_eval(
        spark,
        [
            (1, 11, "m", {"user": "a"}, 1_705_276_800_000_000, 5.0),
            (2, 11, "m", {"user": "a"}, 1_705_280_400_000_000, 6.0),
        ],
    )

    def one(expr):
        rows = ev.eval(expr).collect()
        assert len(rows) == 1
        return rows[0]["labels"], rows[0]["value"]

    # timestamp() picks the LAST sample's ts (t_max here)
    assert one("timestamp(m)") == ("user=a", 1_705_280_400.0)
    assert one("time() - timestamp(m)") == ("user=a", 0.0)
    assert one("timestamp(m) - 3600") == ("user=a", 1_705_276_800.0)
    assert one("vector(42)") == ("", 42.0)
    assert one("month(vector(1705276800))") == ("", 1.0)
    assert one("day_of_week(vector(1705276800))") == ("", 1.0)  # Monday
    assert one("days_in_month(vector(1705276800))") == ("", 31.0)
    assert one("year(vector(1705276800))") == ("", 2024.0)
    assert one("hour(timestamp(m))") == ("user=a", 1.0)
    # top-level time() is a scalar query since r9 (VERDICT r8 #3):
    # one empty-labeled row carrying t_max in seconds
    assert one("time()") == ("", 1_705_280_400.0)


def test_holt_winters_recursion(spark):
    """x=[5.3, 35.29, 6.86, 7.91], sf=tf=0.5 — hand-computed
    Prometheus recursion: s=35.29,b=29.99 -> s=36.07,b=15.385 ->
    s=29.6825."""
    ev = _tiny_eval(
        spark,
        [
            (1, 11, "m", {"user": "a"}, 1_000_000, 5.3),
            (2, 11, "m", {"user": "a"}, 2_000_000, 35.29),
            (3, 11, "m", {"user": "a"}, 3_000_000, 6.86),
            (4, 11, "m", {"user": "a"}, 4_000_000, 7.91),
            (5, 22, "m", {"user": "solo"}, 1_000_000, 1.0),  # <2 pts
        ],
    )
    got = ev.eval("holt_winters(m[1h], 0.5, 0.5)").collect()
    assert {(r["labels"], r["value"]) for r in got} == {
        ("user=a", 29.6825)
    }
    # Prometheus rejects smoothing factors outside (0, 1)
    for bad in ["0", "1", "1.5", "-0.2"]:
        with pytest.raises(PromQLSyntaxError):
            ev.eval(f"holt_winters(m[1h], {bad}, 0.5)")
        with pytest.raises(PromQLSyntaxError):
            ev.eval(f"holt_winters(m[1h], 0.5, {bad})")


def test_predict_linear_offset_unshifted_xref(spark):
    """predict_linear under `offset`: the regression x-axis is the
    UNSHIFTED evaluation timestamp (Prometheus), so the intercept
    extrapolates across the offset gap. Series a: 10@1s, 20@2s
    (slope 10/s); t_max=4s (pinned by series b). offset 2s windows
    (0s,2s]; predict_linear(..., 0) = value at t=4s = 40."""
    ev = _tiny_eval(
        spark,
        [
            (1, 11, "m", {"user": "a"}, 1_000_000, 10.0),
            (2, 11, "m", {"user": "a"}, 2_000_000, 20.0),
            (3, 22, "m", {"user": "b"}, 3_000_000, 1.0),
            (4, 22, "m", {"user": "b"}, 4_000_000, 1.0),
        ],
    )
    got = ev.eval('predict_linear(m{user="a"}[1h] offset 2s, 0)').collect()
    assert [(r["labels"], r["value"]) for r in got] == [("user=a", 40.0)]
    # slope-only deriv is offset-invariant
    d = ev.eval('deriv(m{user="a"}[1h] offset 2s)').collect()
    assert [(r["labels"], r["value"]) for r in d] == [("user=a", 10.0)]


def test_idelta_scalar_trig(spark):
    ev = _tiny_eval(
        spark,
        [
            (1, 11, "m", {"user": "a"}, 1_000_000, 10.0),
            (2, 11, "m", {"user": "a"}, 2_000_000, 4.0),
            (3, 22, "m", {"user": "b"}, 2_000_000, 6.0),
        ],
    )
    # idelta: raw (negative allowed) last-pair diff; 1-pt series drops
    got = {
        (r["labels"], r["value"])
        for r in ev.eval("idelta(m[1h])").collect()
    }
    assert got == {("user=a", -6.0)}
    # scalar over a 1-series vector
    s = {
        (r["labels"], r["value"])
        for r in ev.eval("m / scalar(sum(m))").collect()
    }
    assert s == {("user=a", 0.4), ("user=b", 0.6)}
    # scalar over a >1-series vector -> NaN -> comparisons drop all
    assert ev.eval("m > scalar(m)").count() == 0
    # the < / <= direction too: Spark orders NaN above all doubles,
    # so an unguarded `v < NaN` would wrongly keep every series
    assert ev.eval("m < scalar(m)").count() == 0
    assert ev.eval("m <= scalar(m)").count() == 0
    assert ev.eval("m == scalar(m)").count() == 0
    # bool mode: NaN comparison is false -> 0.0 for every series
    b = {r["value"] for r in ev.eval("m < bool scalar(m)").collect()}
    assert b == {0.0}
    # trig family
    one = ev.eval("cos(vector(0))").collect()
    assert [(r["labels"], r["value"]) for r in one] == [("", 1.0)]
    assert ev.eval("deg(rad(vector(90)))").collect()[0]["value"] == 90.0


def test_eval_range_grid(spark):
    """Grid evaluation: two series, samples placed so each grid point
    sees a known window; rate over [10s] on a 10s grid over 30s."""
    from shards_prometheus_spark.functions.promql_parser import (
        PromQLEvaluator,
    )

    rows = [
        # series a: monotone counter, one sample per 5s
        (i, 11, "m", {"user": "a"}, i * 5_000_000, float(i))
        for i in range(1, 9)
    ]
    ev = PromQLEvaluator(
        spark.createDataFrame(
            rows,
            "event_id long, series_id long, metric string, "
            "labels map<string,string>, ts_us long, value double",
        )
    )
    got = {
        (r["ts_us"], r["labels"]): r["value"]
        for r in ev.eval_range(
            "sum by (user) (increase(m[10s]))", 30_000_000, 10_000_000
        ).collect()
    }
    # t_max = 40s; grid points 40, 30, 20 (exclusive lower bound)
    # window (30,40]: samples at 35,40 -> increase 1; same for others
    assert got == {
        (40_000_000, "user=a"): 1.0,
        (30_000_000, "user=a"): 1.0,
        (20_000_000, "user=a"): 1.0,
    }
    # instant selector on the grid: last sample within 5m staleness
    inst = {
        (r["ts_us"], r["labels"]): r["value"]
        for r in ev.eval_range("m", 30_000_000, 10_000_000).collect()
    }
    assert inst == {
        (40_000_000, "user=a"): 8.0,
        (30_000_000, "user=a"): 6.0,
        (20_000_000, "user=a"): 4.0,
    }
    # topk ranks per grid instant (sole series -> passes through)
    tk = {
        (r["ts_us"], r["labels"]): r["value"]
        for r in ev.eval_range(
            "topk(1, m)", 30_000_000, 10_000_000
        ).collect()
    }
    assert tk == inst
    # limitk on the grid (r7): first-k per instant — sole series
    # passes through
    lk = {
        (r["ts_us"], r["labels"]): r["value"]
        for r in ev.eval_range(
            "limitk(2, m)", 30_000_000, 10_000_000
        ).collect()
    }
    assert lk == inst


def test_eval_range_dashboard_core(spark):
    """The grid evaluator composes: histogram_quantile over a bucket
    increase, binary ops, comparisons, and @ end() — all per grid
    instant. Observations 3,7,20,40 at t=5,10,15,20s; span 20s step
    10s → grid instants 10s and 20s."""
    rows = [
        (1, 11, "m", {"user": "a"}, 5_000_000, 3.0),
        (2, 11, "m", {"user": "a"}, 10_000_000, 7.0),
        (3, 11, "m", {"user": "a"}, 15_000_000, 20.0),
        (4, 11, "m", {"user": "a"}, 20_000_000, 40.0),
    ]
    ev = _tiny_eval(spark, rows)
    span, step = 20_000_000, 10_000_000

    # histogram_quantile(0.5, increase(m_bucket[10s])): window (0,10]
    # holds {3,7} -> φ·tot=1 hits le=5, interp from lb=1 -> 5.0;
    # window (10,20] holds {20,40} -> hits le=25, lb=10 -> 25.0
    hq = {
        (r["ts_us"], r["labels"]): r["value"]
        for r in ev.eval_range(
            "histogram_quantile(0.5, increase(m_bucket[10s]))", span, step
        ).collect()
    }
    assert hq == {
        (10_000_000, "user=a"): 5.0,
        (20_000_000, "user=a"): 25.0,
    }

    # vector/vector binop per instant: increase(m[10s])/increase(m[20s])
    # (in-window lag deltas) ets=10: 4/4 = 1.0; ets=20: 20/37
    ratio = {
        (r["ts_us"], r["labels"]): r["value"]
        for r in ev.eval_range(
            "sum by (user) (increase(m[10s])) / "
            "sum by (user) (increase(m[20s]))",
            span, step,
        ).collect()
    }
    assert ratio == {
        (10_000_000, "user=a"): 1.0,
        (20_000_000, "user=a"): round(20 / 37, 4),
    }

    # comparison filters per instant: instant m -> 7 @10s, 40 @20s
    cmp_got = {
        (r["ts_us"], r["labels"]): r["value"]
        for r in ev.eval_range("m > 10", span, step).collect()
    }
    assert cmp_got == {(20_000_000, "user=a"): 40.0}

    # @ end(): pinned to t_max, broadcast across the grid instants
    pinned = {
        (r["ts_us"], r["labels"]): r["value"]
        for r in ev.eval_range(
            "sum by (user) (increase(m[10s] @ end()))", span, step
        ).collect()
    }
    assert pinned == {
        (10_000_000, "user=a"): 20.0,
        (20_000_000, "user=a"): 20.0,
    }

    # without() grouping and math functions compose on the grid
    m_sqrt = {
        (r["ts_us"], r["labels"]): r["value"]
        for r in ev.eval_range(
            "sqrt(sum without (user) (increase(m[10s])))", span, step
        ).collect()
    }
    assert m_sqrt == {
        (10_000_000, ""): 2.0,
        (20_000_000, ""): round(20.0 ** 0.5, 4),
    }


def test_absent_over_expression(spark):
    ev = _tiny_eval(
        spark,
        [
            (1, 11, "m", {"user": "a"}, 1_000_000, 5.0),
        ],
    )
    # non-empty inner vector -> absent() empty
    assert ev.eval("absent(sum(m))").count() == 0
    # filtered-to-empty vector -> one empty-labeled 1
    got = ev.eval("absent(sum(m) > 100)").collect()
    assert [(r["labels"], r["value"]) for r in got] == [("", 1.0)]
    # selector form still carries its equality labels
    sel = ev.eval('absent(gone{job="x"})').collect()
    assert [(r["labels"], r["value"]) for r in sel] == [("job=x", 1.0)]


def test_limitk_and_limit_ratio(spark):
    ev = _tiny_eval(
        spark,
        [
            (i, i, "m", {"user": f"u{i}"}, 1_000_000, float(i))
            for i in range(1, 9)
        ],
    )
    # first k by label string
    lk = ev.eval("limitk(3, m)").collect()
    assert [r["labels"] for r in lk] == ["user=u1", "user=u2", "user=u3"]
    # complementary ratios partition the vector
    a = {r["labels"] for r in ev.eval("limit_ratio(0.4, m)").collect()}
    b = {r["labels"] for r in ev.eval("limit_ratio(0.6, m)").collect()}
    allv = {r["labels"] for r in ev.eval("m").collect()}
    assert a <= allv
    # r>=1 keeps all; r<=0 keeps none
    assert {
        r["labels"] for r in ev.eval("limit_ratio(1, m)").collect()
    } == allv
    assert ev.eval("limit_ratio(0, m)").count() == 0
    # monotone: the 0.4 subset is contained in the 0.6 subset
    assert a <= b
    # NEGATIVE ratio = the complementary subset (PromQL):
    # limit_ratio(r) ∪ limit_ratio(-(1-r)) partitions the vector
    neg = {r["labels"] for r in ev.eval("limit_ratio(-0.6, m)").collect()}
    assert a | neg == allv
    assert a & neg == set()
    # r <= -1 keeps everything (complement of nothing)
    assert {
        r["labels"] for r in ev.eval("limit_ratio(-1, m)").collect()
    } == allv


def test_sort_by_label_and_hw_alias(spark):
    ev = _tiny_eval(
        spark,
        [
            (1, 11, "m", {"user": "b", "shard": "2"}, 1_000_000, 1.0),
            (2, 22, "m", {"user": "a", "shard": "1"}, 1_000_000, 2.0),
            (3, 33, "m", {"user": "c"}, 1_000_000, 3.0),
        ],
    )
    got = [
        r["labels"]
        for r in ev.eval('sort_by_label(m, "shard")').collect()
    ]
    # missing shard sorts as "" (first); then shard 1, 2
    assert got == ["user=c", "shard=1,user=a", "shard=2,user=b"]
    got_d = [
        r["labels"]
        for r in ev.eval('sort_by_label_desc(m, "user")').collect()
    ]
    assert got_d == ["user=c", "shard=2,user=b", "shard=1,user=a"]
    # 3.x alias runs the same recursion as holt_winters
    ev2 = _tiny_eval(
        spark,
        [
            (1, 11, "m", {"user": "a"}, 0, 5.3),
            (2, 11, "m", {"user": "a"}, 1_000_000, 35.29),
            (3, 11, "m", {"user": "a"}, 2_000_000, 6.86),
            (4, 11, "m", {"user": "a"}, 3_000_000, 7.91),
        ],
    )
    hw = ev2.eval(
        "double_exponential_smoothing(m[1h], 0.5, 0.5)"
    ).collect()
    assert [(r["labels"], r["value"]) for r in hw] == [
        ("user=a", 29.6825)
    ]


def test_topk_grouping_modes(spark):
    """topk by()/without(): rank inside each group; `without ()`
    (empty list) keeps the full label set — per-series pass-through,
    never the global group."""
    ev = _tiny_eval(
        spark,
        [
            (1, 11, "m", {"user": "a", "shard": "1"}, 1_000_000, 5.0),
            (2, 22, "m", {"user": "b", "shard": "1"}, 1_000_000, 9.0),
            (3, 33, "m", {"user": "c", "shard": "2"}, 1_000_000, 2.0),
            (4, 44, "m", {"user": "d", "shard": "2"}, 1_000_000, 7.0),
        ],
    )
    per_shard = {
        (r["labels"], r["value"])
        for r in ev.eval("topk by (shard) (1, m)").collect()
    }
    assert per_shard == {
        ("shard=1,user=b", 9.0),
        ("shard=2,user=d", 7.0),
    }
    # without (user): groups keyed on the remaining labels (shard)
    wo = {
        (r["labels"], r["value"])
        for r in ev.eval("bottomk without (user) (1, m)").collect()
    }
    assert wo == {("shard=1,user=a", 5.0), ("shard=2,user=c", 2.0)}
    # without (): full label set is the key -> every series survives
    assert ev.eval("topk without () (1, m)").count() == 4
    # global topk unchanged
    assert ev.eval("topk(1, m)").count() == 1


def test_atan2_pi_day_of_year(spark):
    ev = _tiny_eval(
        spark,
        [
            (1, 11, "y", {"user": "a"}, 1_000_000, 1.0),
            (2, 22, "x", {"user": "a"}, 1_000_000, 1.0),
        ],
    )
    got = ev.eval("y atan2 x").collect()
    assert [(r["labels"], r["value"]) for r in got] == [
        ("user=a", 0.7854)  # atan2(1, 1) = pi/4
    ]
    # pi() in scalar position; vector(pi()) as the operand form
    assert ev.eval("vector(1) * pi()").collect()[0]["value"] == 3.1416
    assert ev.eval("deg(vector(pi()))").collect()[0]["value"] == 180.0
    # 1705276800 = 2024-01-15T00:00Z -> day 15 of the year
    assert (
        ev.eval("day_of_year(vector(1705276800))").collect()[0]["value"]
        == 15.0
    )


def test_pi_as_metric_name(spark):
    """`pi` without a following `(` is a valid METRIC name — the pi()
    branch must be lookahead-gated, not consume the token outright."""
    ev = _tiny_eval(
        spark,
        [
            (1, 11, "pi", {"user": "a"}, 1_000_000, 7.0),
            (2, 22, "pi", {"user": "b"}, 1_000_000, 9.0),
        ],
    )
    assert sorted(
        r["value"] for r in ev.eval('pi{user="a"}').collect()
    ) == [7.0]
    assert sorted(r["value"] for r in ev.eval("pi").collect()) == [
        7.0,
        9.0,
    ]
    # the function form still parses alongside the metric
    assert ev.eval("vector(1) * pi()").collect()[0]["value"] == 3.1416


def test_histogram_fraction_interpolation(spark):
    """Counts 4 in (0,10], 6 in (10,100], 2 in +Inf (total 12):
    fraction(5, 55) = (4*0.5 + 6*0.5) / 12 = 5/12; the +Inf bucket
    contributes only at hi = +Inf (not expressible as a literal, so
    pinned by fraction(0, 100) = 10/12)."""
    ev = _tiny_eval(
        spark,
        [
            (1, 11, "hb", {"le": "10"}, 1_000_000, 4.0),
            (2, 22, "hb", {"le": "100"}, 1_000_000, 10.0),
            (3, 33, "hb", {"le": "+Inf"}, 1_000_000, 12.0),
        ],
    )
    mid = ev.eval("histogram_fraction(5, 55, hb)").collect()
    assert [(r["labels"], r["value"]) for r in mid] == [
        ("", round(5 / 12, 4))
    ]
    fin = ev.eval("histogram_fraction(0, 100, hb)").collect()
    assert fin[0]["value"] == round(10 / 12, 4)


def test_grid_subquery_composition(spark):
    """Subquery on the grid: sum_over_time(m[20s:10s]) over a 20s span
    / 10s step grid. Samples at t=5,15,25,35s with values 1,2,4,8;
    inner last_over_time at aligned instants 10,20,30,40 sees 1,2,4,8;
    each outer instant folds its two trailing inner instants."""
    from shards_prometheus_spark.functions.promql_parser import (
        PromQLEvaluator,
    )

    rows = [
        (1, 11, "m", {"user": "a"}, 5_000_000, 1.0),
        (2, 11, "m", {"user": "a"}, 15_000_000, 2.0),
        (3, 11, "m", {"user": "a"}, 25_000_000, 4.0),
        (4, 11, "m", {"user": "a"}, 35_000_000, 8.0),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, series_id long, metric string, "
        "labels map<string,string>, ts_us long, value double",
    )
    ev = PromQLEvaluator(df)
    got = {
        (r["ts_us"], r["labels"], r["value"])
        for r in ev.eval_range(
            "sum_over_time(m[20s:10s])", 20_000_000, 10_000_000
        ).collect()
    }
    # t_max = 35s -> outer grid {30s, 20s}; inner instants per outer:
    # 30 -> {30, 20} (4 + 2), 20 -> {20, 10} (2 + 1)
    assert got == {
        (30_000_000, "user=a", 6.0),
        (20_000_000, "user=a", 3.0),
    }
    # composed inner (aggregation) through the same path, on the grid
    comp = {
        (r["ts_us"], r["value"])
        for r in ev.eval_range(
            "max_over_time(sum by (user) (m)[20s:10s])",
            20_000_000,
            10_000_000,
        ).collect()
    }
    assert comp == {(30_000_000, 4.0), (20_000_000, 2.0)}
    # composed inner on the INSTANT path (1-outer-point case):
    # instants {10,20,30}s see last samples 1,2,4 -> min 1.0
    inst = ev.eval(
        "min_over_time(sum by (user) (m)[30s:10s])"
    ).collect()
    assert [(r["labels"], r["value"]) for r in inst] == [("user=a", 1.0)]


def test_counter_fns_over_subquery(spark):
    """rate/increase/delta/resets/changes/irate over a subquery: the
    per-instant points are the range samples the lag fold consumes
    (hand-computed on a series with one counter reset)."""
    ev = _tiny_eval(
        spark,
        [
            (i, 1, "m", {"user": "a"}, i * 3_600_000_000, float(v))
            for i, v in enumerate([0, 10, 20, 30, 5, 15, 25])
        ],
    )
    # window (2h, 6h]: instants 3h..6h -> values 30, 5, 15, 25
    got = {
        q: ev.eval(q).collect()[0]["value"]
        for q in (
            "increase(m[4h:1h])",  # 5 (reset) + 10 + 10
            "rate(m[4h:1h])",      # 25 / 14400s
            "delta(m[4h:1h])",     # 25 - 30
            "resets(m[4h:1h])",
            "changes(m[4h:1h])",
            "irate(m[4h:1h])",     # last pair 15 -> 25
            "idelta(m[4h:1h])",
            "last_over_time(m[4h:1h])",
        )
    }
    assert got == {
        "increase(m[4h:1h])": 25.0,
        "rate(m[4h:1h])": 0.0017,
        "delta(m[4h:1h])": -5.0,
        "resets(m[4h:1h])": 1.0,
        "changes(m[4h:1h])": 3.0,
        "irate(m[4h:1h])": 10.0,
        "idelta(m[4h:1h])": 10.0,
        "last_over_time(m[4h:1h])": 25.0,
    }
    # grid twin: increase per outer instant over its own trailing grid
    H = 3_600_000_000
    g = {
        (r["ts_us"] // H, r["value"])
        for r in ev.eval_range("increase(m[3h:1h])", 2 * H, H).collect()
    }
    assert g == {(5, 15.0), (6, 20.0)}


def test_at_on_grid_subquery(spark):
    """`@` pins a grid subquery's anchor for every outer instant —
    end(), start(), and a literal all render constant lines."""
    H = 3_600_000_000
    ev = _tiny_eval(
        spark,
        [
            (i, 1, "m", {"user": "a"}, i * H, float(v))
            for i, v in enumerate([0, 10, 20, 30, 5, 15, 25])
        ],
    )

    def grid(q):
        return sorted(
            (r["ts_us"] // H, r["value"])
            for r in ev.eval_range(q, 2 * H, H).collect()
        )

    # @ end(): anchor 6h -> instants 4h,5h,6h -> 5,15,25 -> inc 20
    assert grid("increase(m[3h:1h] @ end())") == [(5, 20.0), (6, 20.0)]
    # @ start(): anchor 4h -> instants 2h,3h,4h -> 20,30,5 -> max 30
    assert grid("max_over_time(m[3h:1h] @ start())") == [
        (5, 30.0),
        (6, 30.0),
    ]
    # literal @ 21600 (= 6h): instants 5h,6h -> avg(15, 25)
    assert grid("avg_over_time(m[2h:1h] @ 21600)") == [
        (5, 20.0),
        (6, 20.0),
    ]
    # unpinned baseline varies across the grid
    assert grid("increase(m[3h:1h])") == [(5, 15.0), (6, 20.0)]


def test_compound_durations():
    """Compound durations (public grammar): units strictly descending
    and unique, ms/s/m/h/d/w/y; usable in ranges, offsets, and
    subquery brackets."""
    from shards_prometheus_spark.functions.promql_parser import (
        PromQLSyntaxError,
        _dur_us,
        parse,
    )

    assert _dur_us("1h30m") == 5_400 * 1_000_000
    assert _dur_us("1d12h30m") == (36 * 3_600 + 1_800) * 1_000_000
    assert _dur_us("500ms") == 500_000
    assert _dur_us("2w") == 14 * 86_400_000_000
    for bad in ("30m1h", "1h2h", "1h30x", "h30m"):
        with pytest.raises(PromQLSyntaxError):
            _dur_us(bad)
    assert parse("rate(click[1h30m])").sel.range_us == 5_400_000_000
    assert (
        parse("sum_over_time(view[1d] offset 1h30m)").sel.offset_us
        == 5_400_000_000
    )
    sub = parse("max_over_time(rate(click[1h])[1d12h:6h])").sel
    assert sub.range_us == 36 * 3_600_000_000
    assert sub.step_us == 6 * 3_600_000_000


def test_le_matchers_on_bucket_selector(spark):
    """`le` matchers on synthetic _bucket selectors apply AFTER bucket
    synthesis: =/!=/=~ partition the synthesized series exactly, and
    the grid path honours them too."""
    q = "increase(view_bucket{X}[720h])"
    allb = {
        (r["labels"], r["value"])
        for r in promql_eval(
            spark, SF_SMOKE, q.replace("{X}", "")
        ).collect()
    }
    inf = {
        (r["labels"], r["value"])
        for r in promql_eval(
            spark, SF_SMOKE, q.replace("{X}", '{le="+Inf"}')
        ).collect()
    }
    rest = {
        (r["labels"], r["value"])
        for r in promql_eval(
            spark, SF_SMOKE, q.replace("{X}", '{le!="+Inf"}')
        ).collect()
    }
    assert inf and rest and not (inf & rest)
    assert inf | rest == allb
    for lbl, _v in inf:
        assert "le=+Inf" in lbl
    # grid path: regex matcher keeps exactly the named bounds
    from shards_prometheus_spark.functions.promql_parser import (
        PromQLEvaluator,
    )

    g = (
        PromQLEvaluator.from_dir(spark, SF_SMOKE)
        .eval_range(
            'sum by (le) (increase(view_bucket{le=~"5|50"}[240h]))',
            72 * 3_600_000_000,
            24 * 3_600_000_000,
        )
        .collect()
    )
    assert g
    les = {
        dict(kv.split("=", 1) for kv in r["labels"].split(","))["le"]
        for r in g
    }
    assert les == {"5", "50"}


def test_bucket_inner_subquery(spark):
    """A synthetic _bucket inner inside a subquery routes through the
    composed (grid-dispatch) path — the specialized single-fold plan
    would scan the raw metric name and silently match nothing (the
    r7 regression this test pins as non-empty)."""
    mx = {
        r["labels"]: r["value"]
        for r in promql_eval(
            spark,
            SF_SMOKE,
            "max_over_time(increase(view_bucket[24h])[240h:24h])",
        ).collect()
    }
    av = {
        r["labels"]: r["value"]
        for r in promql_eval(
            spark,
            SF_SMOKE,
            "avg_over_time(increase(view_bucket[24h])[240h:24h])",
        ).collect()
    }
    assert mx and set(mx) == set(av)
    assert all("le=" in k for k in mx)
    for k in mx:
        assert mx[k] >= av[k] - 1e-9


def test_grid_agg_extensions(spark):
    """quantile/stddev/stdvar/group by() on the grid: quantile sits
    within [min, max] per (instant, group), stdvar = stddev², and
    group is constant 1."""
    from shards_prometheus_spark.functions.promql_parser import (
        PromQLEvaluator,
    )

    ev = PromQLEvaluator.from_dir(spark, SF_SMOKE)
    span, step = 240 * 3_600_000_000, 24 * 3_600_000_000

    def grid(expr):
        return {
            (r["ts_us"], r["labels"]): r["value"]
            for r in ev.eval_range(expr, span, step).collect()
        }

    base = "increase(click[240h])"
    q = grid(f"quantile by (shard) (0.9, {base})")
    lo = grid(f"min by (shard) ({base})")
    hi = grid(f"max by (shard) ({base})")
    assert q and set(q) == set(lo) == set(hi)
    for k in q:
        assert lo[k] - 1e-6 <= q[k] <= hi[k] + 1e-6
    sd = grid(f"stddev by (shard) ({base})")
    sv = grid(f"stdvar by (shard) ({base})")
    assert sd and set(sd) == set(sv)
    for k in sd:
        # both are independently 4dp-rounded outputs, so compare at
        # the precision the square of a rounded stddev can carry
        assert sv[k] == pytest.approx(sd[k] ** 2, rel=1e-4, abs=1e-2)
    g = grid(f"group by (shard) ({base})")
    assert g and set(g.values()) == {1.0}


def test_grid_limitk_limit_ratio_count_values(spark):
    """limitk / limit_ratio / count_values on the grid: limitk keeps
    the first k label strings per instant; limit_ratio(r) and its
    complement partition each instant's vector; count_values buckets
    per (instant, rendered value)."""
    from shards_prometheus_spark.functions.promql_parser import (
        PromQLEvaluator,
    )

    ev = PromQLEvaluator.from_dir(spark, SF_SMOKE)
    span, step = 240 * 3_600_000_000, 24 * 3_600_000_000
    base = "sum by (user) (increase(click[240h]))"

    def rows(expr):
        return [
            (r["ts_us"], r["labels"], r["value"])
            for r in ev.eval_range(expr, span, step).collect()
        ]

    full = rows(base)
    per_instant = {}
    for ts, lbl, _v in full:
        per_instant.setdefault(ts, set()).add(lbl)

    lk = rows(f"limitk(3, {base})")
    assert lk
    for ts, lbls in per_instant.items():
        got = sorted(l for t, l, _ in lk if t == ts)
        assert got == sorted(lbls)[: min(3, len(lbls))]

    a = rows(f"limit_ratio(0.4, {base})")
    b = rows(f"limit_ratio(-0.6, {base})")
    assert sorted(a + b) == sorted(full)
    assert not (set(a) & set(b))

    cv = rows(f'count_values by (user) ("v", {base})')
    assert cv
    # every row's count is >= 1 and the value label is present
    assert all("v=" in lbl and v >= 1.0 for _t, lbl, v in cv)
    # total count per instant equals the instant's vector size
    for ts, lbls in per_instant.items():
        assert sum(v for t, _l, v in cv if t == ts) == len(lbls)


def test_eval_range_absent_timestamp_sort(spark):
    """r8 grid paths: absent()/absent_over_time()/timestamp() on
    query_range, and sort()/sort_desc() as Prometheus-conformant
    no-ops there (real Prometheus ignores sort in range queries)."""
    from shards_prometheus_spark.functions.promql_parser import (
        PromQLEvaluator,
    )

    rows = [
        (i, 11, "m", {"user": "a"}, i * 5_000_000, float(i))
        for i in range(1, 9)
    ]
    ev = PromQLEvaluator(
        spark.createDataFrame(
            rows,
            "event_id long, series_id long, metric string, "
            "labels map<string,string>, ts_us long, value double",
        )
    )

    def grid(expr):
        return sorted(
            (r["ts_us"], r["labels"], r["value"])
            for r in ev.eval_range(expr, 30_000_000, 10_000_000).collect()
        )

    # absent of a missing metric: 1 at EVERY grid instant, labels
    # carry the equality matchers
    assert grid('absent(nope{job="x"})') == [
        (t, "job=x", 1.0) for t in (20_000_000, 30_000_000, 40_000_000)
    ]
    # absent of a present metric: empty (m is live within the 5m
    # staleness window at every instant)
    assert grid("absent(m)") == []
    # absent_over_time probes the [d] window, not the lookback:
    # samples stop at 40s, so a 10s window is empty... never here
    # (t_max = last sample); missing metric -> all instants
    assert grid("absent_over_time(nope[10s])") == [
        (t, "", 1.0) for t in (20_000_000, 30_000_000, 40_000_000)
    ]
    assert grid("absent_over_time(m[10s])") == []
    # absent(<computed vector>) per grid instant
    assert grid("absent(sum(m))") == []
    assert grid("absent(sum(m) > 1e9)") == [
        (t, "", 1.0) for t in (20_000_000, 30_000_000, 40_000_000)
    ]
    # timestamp(): the selected sample's ts in seconds per instant
    assert grid("timestamp(m)") == [
        (20_000_000, "user=a", 20.0),
        (30_000_000, "user=a", 30.0),
        (40_000_000, "user=a", 40.0),
    ]
    # sort()/sort_desc() are no-ops on the grid (conformance: real
    # Prometheus ignores sort in query_range), NOT errors
    assert grid("sort(m)") == grid("m")
    assert grid("sort_desc(sum by (user) (m))") == grid(
        "sum by (user) (m)"
    )


def test_quantile_over_time_subquery(spark):
    """r8: quantile_over_time(phi, expr[r:s]) — the phi-fold over
    subquery points, instant path, against a hand-computed value."""
    from shards_prometheus_spark.functions.promql_parser import (
        PromQLEvaluator,
    )

    rows = [
        (i, 11, "m", {"user": "a"}, i * 5_000_000, float(i))
        for i in range(1, 9)
    ]
    ev = PromQLEvaluator(
        spark.createDataFrame(
            rows,
            "event_id long, series_id long, metric string, "
            "labels map<string,string>, ts_us long, value double",
        )
    )
    # m[20s:5s] at t_max=40s: instants 25,30,35,40 -> values 5,6,7,8
    got = ev.eval("quantile_over_time(0.5, m[20s:5s])").collect()
    assert len(got) == 1 and got[0]["value"] == 6.5
    got = ev.eval("quantile_over_time(0.0, m[20s:5s])").collect()
    assert got[0]["value"] == 5.0
    got = ev.eval("quantile_over_time(1.0, m[20s:5s])").collect()
    assert got[0]["value"] == 8.0
    # composed inner (the smoothed-latency idiom)
    got = ev.eval(
        "quantile_over_time(0.5, sum by (user) (m)[20s:5s])"
    ).collect()
    assert len(got) == 1 and got[0]["value"] == 6.5
    # and on the grid: per instant, median over that instant's
    # trailing composed instants
    g = {
        r["ts_us"]: r["value"]
        for r in ev.eval_range(
            "quantile_over_time(0.5, m[10s:5s])", 30_000_000, 10_000_000
        ).collect()
    }
    # grid 40: inner instants 35,40 -> 7,8 -> 7.5; grid 30: 25,30 ->
    # 5,6 -> 5.5; grid 20: 15,20 -> 3,4 -> 3.5
    assert g == {40_000_000: 7.5, 30_000_000: 5.5, 20_000_000: 3.5}


def test_fold_fns_over_subquery_match_range_selector(spark):
    """r8: deriv/predict_linear/holt_winters over a subquery. With one
    sample per 5s and a [20s:5s] subquery (instants 25..40 = the last
    samples themselves), each fold over the subquery points must equal
    the same fold over the plain range selector m[20s]."""
    from shards_prometheus_spark.functions.promql_parser import (
        PromQLEvaluator,
    )

    rows = [
        (i, 11, "m", {"user": "a"}, i * 5_000_000, float(i))
        for i in range(1, 9)
    ]
    ev = PromQLEvaluator(
        spark.createDataFrame(
            rows,
            "event_id long, series_id long, metric string, "
            "labels map<string,string>, ts_us long, value double",
        )
    )

    def one(expr):
        got = ev.eval(expr).collect()
        assert len(got) == 1, expr
        return got[0]["value"]

    for fn_expr in (
        "deriv({})",
        "predict_linear({}, 30)",
        "holt_winters({}, 0.5, 0.3)",
    ):
        sub = one(fn_expr.format("m[20s:5s]"))
        rng = one(fn_expr.format("m[20s]"))
        assert sub == rng, (fn_expr, sub, rng)
    # hand check: values 5,6,7,8 at 25..40s -> slope 0.2/s;
    # predict_linear 30s after t_max=40: 8 + 0.2*30 = 14
    assert one("deriv(m[20s:5s])") == 0.2
    assert one("predict_linear(m[20s:5s], 30)") == 14.0
    # composed inner goes through the same fold
    assert one("deriv(sum by (user) (m)[20s:5s])") == 0.2
    # and on the grid: per grid instant the trailing-window slope is
    # the constant 0.2 (m is linear)
    g = ev.eval_range(
        "deriv(m[15s:5s])", 20_000_000, 10_000_000
    ).collect()
    assert g and all(r["value"] == 0.2 for r in g)


def test_negative_offset_and_timestamp_expr(spark):
    """r8 conformance tail: `offset -d` (window shifted FORWARD — the
    default-on Prometheus feature) and timestamp(<computed vector>)
    (computed samples sit at the evaluation time, so the value is T
    seconds — only a plain selector preserves raw sample times)."""
    from shards_prometheus_spark.functions.promql_parser import (
        PromQLEvaluator,
    )

    rows = [
        (i, 11, "m", {"user": "a"}, i * 5_000_000, float(i))
        for i in range(1, 9)
    ]
    ev = PromQLEvaluator(
        spark.createDataFrame(
            rows,
            "event_id long, series_id long, metric string, "
            "labels map<string,string>, ts_us long, value double",
        )
    )
    # grid instants 20,30,40; offset -10s reads the window 10s AHEAD:
    # instant 20 sees the sample at 30 (value 6), 30 sees 40 (8)
    g = {
        r["ts_us"]: r["value"]
        for r in ev.eval_range(
            "m offset -10s", 30_000_000, 10_000_000
        ).collect()
    }
    assert g == {20_000_000: 6.0, 30_000_000: 8.0, 40_000_000: 8.0}
    plain = {
        r["ts_us"]: r["value"]
        for r in ev.eval_range("m", 30_000_000, 10_000_000).collect()
    }
    for t in (20_000_000, 30_000_000):
        assert g[t] == plain[t + 10_000_000]
    # timestamp over a computed vector: the evaluation time itself
    got = ev.eval("timestamp(sum by (user) (m))").collect()
    assert len(got) == 1 and got[0]["value"] == 40.0
    gg = {
        r["ts_us"]: r["value"]
        for r in ev.eval_range(
            "timestamp(sum(m))", 30_000_000, 10_000_000
        ).collect()
    }
    assert gg == {
        20_000_000: 20.0, 30_000_000: 30.0, 40_000_000: 40.0,
    }
    # plain-selector timestamp still reports RAW sample times
    raw = ev.eval("timestamp(m)").collect()
    assert raw[0]["value"] == 40.0  # last sample at 40s here


def test_power_operator_and_unary(spark):
    """r8: the ^ operator (right-associative, binds tightest; right
    operand admits a unary sign) and unary vector negation."""
    from shards_prometheus_spark.functions.promql_parser import (
        PromQLEvaluator,
    )

    rows = [
        (i, 11, "m", {"user": "a"}, i * 5_000_000, float(i))
        for i in range(1, 9)
    ]
    ev = PromQLEvaluator(
        spark.createDataFrame(
            rows,
            "event_id long, series_id long, metric string, "
            "labels map<string,string>, ts_us long, value double",
        )
    )

    def one(expr):
        got = ev.eval(expr).collect()
        assert len(got) == 1, expr
        return got[0]["value"], got[0]["labels"]

    # m = 8 at t_max
    assert one("m ^ 2") == (64.0, "user=a")
    assert one("2 ^ m") == (256.0, "user=a")
    # right-associative: 2 ^ (m - 5) ^ 2 with m-5 = 3 -> 2^9 = 512
    assert one("2 ^ (m - 5) ^ 2")[0] == 512.0
    # ^ binds tighter than unary: -m ^ 2 = -(m^2)
    assert one("-m ^ 2")[0] == -64.0
    assert one("m ^ -1")[0] == 0.125
    # unary negation keeps labels
    assert one("-m") == (-8.0, "user=a")
    assert one("-sum by (user) (m)")[0] == -8.0
    # ^ on the grid too
    g = {
        r["ts_us"]: r["value"]
        for r in ev.eval_range("m ^ 2", 30_000_000, 10_000_000).collect()
    }
    assert g == {20_000_000: 16.0, 30_000_000: 36.0, 40_000_000: 64.0}


def test_vector_time_calendar_defaults_and_default_step(spark):
    """r8: vector(time()), zero-arg calendar functions (year() ≡
    year(vector(time()))), and the [r:] default subquery step."""
    from shards_prometheus_spark.functions.promql_parser import (
        DEFAULT_EVAL_INTERVAL_US,
        PromQLEvaluator,
        parse,
    )

    rows = [
        (i, 11, "m", {"user": "a"}, i * 5_000_000, float(i))
        for i in range(1, 9)
    ]
    ev = PromQLEvaluator(
        spark.createDataFrame(
            rows,
            "event_id long, series_id long, metric string, "
            "labels map<string,string>, ts_us long, value double",
        )
    )

    def one(expr):
        got = ev.eval(expr).collect()
        assert len(got) == 1, expr
        return got[0]["value"]

    assert one("vector(time())") == 40.0  # t_max = 40s epoch
    assert one("year()") == 1970.0
    assert one("month()") == 1.0
    assert one("day_of_week()") == 4.0  # 1970-01-01 was a Thursday
    # grid: per-instant values
    g = {
        r["ts_us"]: r["value"]
        for r in ev.eval_range(
            "vector(time())", 30_000_000, 10_000_000
        ).collect()
    }
    assert g == {20_000_000: 20.0, 30_000_000: 30.0, 40_000_000: 40.0}
    assert all(
        r["value"] == 1970.0
        for r in ev.eval_range(
            "year()", 30_000_000, 10_000_000
        ).collect()
    )
    # [r:] parses with the public 1m default step and evaluates
    sq = parse("m[10m:]")
    assert sq.step_us == DEFAULT_EVAL_INTERVAL_US
    assert ev.eval("count_over_time(m[10m:])").count() <= 1


def test_mad_over_time_all_three_paths(spark):
    """mad_over_time (upstream experimental): the instant fold equals
    a Python recomputation (rank-interpolated median of absolute
    deviations from the rank-interpolated median), and the grid and
    subquery paths both produce non-degenerate relations through the
    same aggregate."""
    from shards_prometheus_spark.functions.promql_parser import (
        PromQLEvaluator,
    )
    from tests.conftest import SF_SMOKE

    ev = PromQLEvaluator.from_dir(spark, SF_SMOKE)
    got = {
        r["labels"]: r["value"]
        for r in ev.eval("mad_over_time(click[720h])").collect()
    }
    assert got

    # Python ground truth over the same windowed samples
    import collections

    t_max = ev.eval_time_us()
    lo = t_max - 720 * 3_600_000_000
    series = collections.defaultdict(list)
    for r in ev.samples.filter("metric = 'click'").collect():
        if lo < r["ts_us"] <= t_max:
            key = ",".join(
                f"{k}={v}" for k, v in sorted((r["labels"] or {}).items())
            )
            series[key].append(r["value"])

    def q50(vs):
        vs = sorted(vs)
        rank = 0.5 * (len(vs) - 1)
        fl = int(rank)
        frac = rank - fl
        hi = min(fl + 1, len(vs) - 1)
        return vs[fl] * (1 - frac) + vs[hi] * frac

    for key, vals in series.items():
        m = q50(vals)
        want = round(q50([abs(v - m) for v in vals]), 4)
        assert abs(got[key] - want) < 1e-9, key
    assert set(got) == set(series)

    # grid + subquery paths execute through the same aggregate
    g = ev.eval_range(
        "mad_over_time(click[240h])",
        span_us=240 * 3_600_000_000,
        step_us=48 * 3_600_000_000,
    ).collect()
    assert len(g) > 0
    s = ev.eval("mad_over_time(rate(click[240h])[720h:240h])").collect()
    assert len(s) > 0


def test_ts_of_over_time_family(spark):
    """ts_of_{max,min,last}_over_time (upstream experimental): the
    returned value is the unix-seconds timestamp of the window's
    extremum/last sample, latest-wins on value ties, across all three
    variants; grid and subquery paths execute through the same
    fold."""
    import collections

    from shards_prometheus_spark.functions.promql_parser import (
        PromQLEvaluator,
    )
    from tests.conftest import SF_SMOKE

    ev = PromQLEvaluator.from_dir(spark, SF_SMOKE)
    t_max = ev.eval_time_us()
    lo = t_max - 720 * 3_600_000_000
    series = collections.defaultdict(list)
    for r in ev.samples.filter("metric = 'click'").collect():
        if lo < r["ts_us"] <= t_max:
            key = ",".join(
                f"{k}={v}" for k, v in sorted((r["labels"] or {}).items())
            )
            series[key].append((r["value"], r["ts_us"]))

    def got(expr):
        return {
            r["labels"]: r["value"] for r in ev.eval(expr).collect()
        }

    g_max = got("ts_of_max_over_time(click[720h])")
    g_min = got("ts_of_min_over_time(click[720h])")
    g_last = got("ts_of_last_over_time(click[720h])")
    assert set(g_max) == set(series)
    for key, pts in series.items():
        mx = max(v for v, _ in pts)
        mn = min(v for v, _ in pts)
        # the ground truth compares pre-pin: the engine's 4dp edge
        # rounding is HALF_UP (matching the oracle's dround) while
        # Python round() is banker's — compare within half an ulp of
        # the pin instead of re-rounding
        assert (
            abs(g_max[key] - max(t for v, t in pts if v == mx) / 1e6)
            <= 5.1e-5
        ), key
        assert (
            abs(g_min[key] - max(t for v, t in pts if v == mn) / 1e6)
            <= 5.1e-5
        ), key
        assert (
            abs(g_last[key] - max(t for _, t in pts) / 1e6) <= 5.1e-5
        ), key

    h_us = 3_600_000_000
    g = ev.eval_range(
        "ts_of_max_over_time(click[240h])",
        span_us=240 * h_us,
        step_us=48 * h_us,
    ).collect()
    assert len(g) > 0
    sq = ev.eval(
        "ts_of_max_over_time(rate(click[240h])[720h:240h])"
    ).collect()
    assert len(sq) > 0
    # subquery points are stamped at the subquery instants
    assert all(r["value"] * 1e6 <= t_max for r in sq)


def test_ts_of_max_min_nan_never_beats_finite(spark):
    """Upstream replaces a NaN running extremum with the next REAL
    value: a NaN sample only wins ts_of_max/min_over_time when the
    whole window is NaN (Spark struct ordering alone would rank NaN
    above every double and hand it the max)."""
    from shards_prometheus_spark.functions.promql_parser import (
        PromQLEvaluator,
    )

    h = 3_600_000_000
    nan = float("nan")
    rows = [
        # series a: finite max 5.0@1h, finite min 1.0@3h, NaN last
        (1, 1, "m", {"user": "a"}, 1 * h, 5.0),
        (2, 1, "m", {"user": "a"}, 2 * h, 1.0),
        (3, 1, "m", {"user": "a"}, 3 * h, nan),
        # series b: all-NaN window — NaN is allowed to win (latest)
        (4, 2, "m", {"user": "b"}, 1 * h, nan),
        (5, 2, "m", {"user": "b"}, 2 * h, nan),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, series_id long, metric string, "
        "labels map<string,string>, ts_us long, value double",
    )
    ev = PromQLEvaluator(df)
    g_max = {
        r["labels"]: r["value"]
        for r in ev.eval("ts_of_max_over_time(m[720h])").collect()
    }
    g_min = {
        r["labels"]: r["value"]
        for r in ev.eval("ts_of_min_over_time(m[720h])").collect()
    }
    assert g_max["user=a"] == 3600.0
    assert g_min["user=a"] == 2 * 3600.0
    assert g_max["user=b"] == 2 * 3600.0
    assert g_min["user=b"] == 2 * 3600.0


def test_subquery_fine_step_grid_no_overflow(spark):
    """A sub-35-minute subquery step over a multi-hour range keeps the
    grid arithmetic in 64-bit: index·step crosses 2³¹ µs, which the
    int-typed sequence would overflow under ANSI mode."""
    from shards_prometheus_spark.functions.promql_parser import (
        PromQLEvaluator,
    )

    h = 3_600_000_000
    rows = [(i, 1, "m", {"user": "a"}, i * h, float(i)) for i in range(1, 5)]
    df = spark.createDataFrame(
        rows,
        "event_id long, series_id long, metric string, "
        "labels map<string,string>, ts_us long, value double",
    )
    got = (
        PromQLEvaluator(df)
        .eval("count_over_time(m[2h:1m])")
        .collect()
    )
    # t_max = 4h; 120 one-minute instants in (2h, 4h], each instant's
    # 5m lookback holds a sample only within 5m after the hourly
    # samples at 3h and 4h → 5 + 5 hits
    assert [(r["labels"], r["value"]) for r in got] == [("user=a", 10.0)]


def test_utf8_quoted_name_selector_parses_and_formats():
    """3.x UTF-8 syntax: `{"metric.name"}` selects by quoted metric
    name, quoted label names are accepted, both compose with classic
    matchers, and the formatter round-trips through the quoted form
    (no SparkSession needed)."""
    import pytest

    from shards_prometheus_spark.functions.promql_format import (
        format_expr,
    )
    from shards_prometheus_spark.functions.promql_parser import (
        PromQLSyntaxError,
        Selector,
        parse,
    )

    sel = parse('{"web.click", user=~"[0-4].*"}')
    assert sel == Selector(
        "web.click", [("user", "=~", "[0-4].*")]
    )
    # quoted LABEL name
    sel = parse('{"http.server.duration", "peer.service"="db"}')
    assert sel.metric == "http.server.duration"
    assert sel.matchers == [("peer.service", "=", "db")]
    # composes under functions and with range/offset modifiers
    rf = parse('increase({"web.click"}[720h] offset 1h)')
    assert rf.sel.metric == "web.click"
    assert rf.sel.range_us == 720 * 3_600_000_000
    assert rf.sel.offset_us == 3_600_000_000
    # classic selector + a quoted-name entry = the name twice
    with pytest.raises(PromQLSyntaxError):
        parse('click{"web.click"}')
    with pytest.raises(PromQLSyntaxError):
        parse('{"a", "b"}')
    # a brace selector with matchers only has no metric name
    with pytest.raises(PromQLSyntaxError):
        parse('{user="1"}')
    # formatter round-trip through the quoted form
    for e in (
        '{"web.click", user=~"[0-4].*"}',
        'sum by (user) (increase({"web.click"}[720h]))',
        '{"http.server.duration", "peer.service"="db"}',
    ):
        ast = parse(e)
        assert parse(format_expr(ast)) == ast, e
    # classic names keep printing unquoted
    assert format_expr(parse("click[1h]")) == "click[1h]"


def test_utf8_quoted_name_evaluates(spark):
    """The quoted-name selector evaluates over a store carrying a
    dotted metric name, equal to the classic-name twin's result."""
    from shards_prometheus_spark.functions.promql_parser import (
        PromQLEvaluator,
        promql_utf8_name,
    )
    from shards_prometheus_spark.model import samples_multi

    got = {
        (r["labels"], r["value"])
        for r in promql_utf8_name(spark, SF_SMOKE).collect()
    }
    want = {
        (r["labels"], r["value"])
        for r in PromQLEvaluator(samples_multi(spark, SF_SMOKE))
        .eval('sum by (user) (increase(click{user=~"[0-4].*"}[720h]))')
        .collect()
    }
    assert got == want != set()


def test_format_subquery_over_binop_and_nonfinite_numbers():
    """format_expr parenthesizes a binary subquery inner (unguarded,
    `(a+b)[1h:5m]` would re-parse as a + b[1h:5m]) and spells
    non-finite numbers in PromQL's own tokens instead of crashing."""
    from shards_prometheus_spark.functions.promql_format import (
        format_expr,
        format_query,
    )
    from shards_prometheus_spark.functions.promql_parser import parse

    for e in (
        "max_over_time((sum by (user) (rate(click[1h])) "
        "+ vector(1))[24h:1h])",
        'histogram_fraction(0, Inf, increase(view_bucket[720h]))',
    ):
        ast = parse(e)
        assert parse(format_expr(ast)) == ast, e
    assert "Inf" in format_query(
        "histogram_fraction(0, Inf, view_bucket)"
    )


# --- info() (r15: the 3.x experimental info function) -----------------------


def _info_fixture(spark):
    from shards_prometheus_spark.functions.promql_parser import (
        PromQLEvaluator,
    )

    h = 3_600_000_000
    rows = [
        # vector side: three identities + one carrying its OWN
        # cluster label (the no-overwrite case)
        (1, 1, "m", {"instance": "i1", "job": "web"}, 10 * h, 5.0),
        (2, 2, "m", {"instance": "i2", "job": "web"}, 10 * h, 7.0),
        (3, 3, "m", {"instance": "i3", "job": "api"}, 10 * h, 9.0),
        (4, 4, "m",
         {"instance": "i4", "job": "web", "cluster": "keep"},
         10 * h, 1.0),
        # target_info side: i3 has NO info series; i2 has TWO
        # (identity conflict -> deterministic lexically-greatest pick)
        (5, 11, "target_info",
         {"instance": "i1", "job": "web", "cluster": "us", "dc": "d1"},
         10 * h, 1.0),
        (6, 12, "target_info",
         {"instance": "i2", "job": "web", "cluster": "eu", "dc": "d2"},
         10 * h, 1.0),
        (7, 13, "target_info",
         {"instance": "i4", "job": "web", "cluster": "other",
          "dc": "d4"},
         10 * h, 1.0),
        (8, 14, "target_info",
         {"instance": "i2", "job": "web", "cluster": "zz", "dc": "d9"},
         10 * h, 1.0),
        # a second info metric for the __name__ matcher form
        (9, 15, "build_info",
         {"instance": "i1", "job": "web", "version": "2.1"},
         10 * h, 1.0),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, series_id long, metric string, "
        "labels map<string,string>, ts_us long, value double",
    )
    return PromQLEvaluator(df)


def test_info_joins_data_labels(spark):
    """info(m): data labels join by (instance, job); a series with no
    matching info series passes through unchanged; an existing label
    of v is never overwritten; an identity conflict resolves to the
    lexically-greatest data-label set (documented divergence from
    upstream's many-to-many error)."""
    ev = _info_fixture(spark)
    got = {
        (r["labels"], r["value"]) for r in ev.eval("info(m)").collect()
    }
    assert got == {
        ("cluster=us,dc=d1,instance=i1,job=web", 5.0),
        ("cluster=zz,dc=d9,instance=i2,job=web", 7.0),
        ("instance=i3,job=api", 9.0),
        ("cluster=keep,dc=d4,instance=i4,job=web", 1.0),
    }


def test_info_data_label_selector(spark):
    """The selector restricts BOTH which info series qualify and
    which data labels are copied."""
    ev = _info_fixture(spark)
    got = {
        (r["labels"], r["value"])
        for r in ev.eval('info(m, {cluster=~".+"})').collect()
    }
    assert got == {
        ("cluster=us,instance=i1,job=web", 5.0),
        ("cluster=zz,instance=i2,job=web", 7.0),
        ("instance=i3,job=api", 9.0),
        ("cluster=keep,instance=i4,job=web", 1.0),
    }
    # a value-filtering matcher: only i1's info series carries dc=d1,
    # every other series passes through without data labels
    got = {
        (r["labels"], r["value"])
        for r in ev.eval('info(m, {dc="d1"})').collect()
    }
    assert got == {
        ("dc=d1,instance=i1,job=web", 5.0),
        ("instance=i2,job=web", 7.0),
        ("instance=i3,job=api", 9.0),
        ("cluster=keep,instance=i4,job=web", 1.0),
    }


def test_info_name_matcher_picks_info_metric(spark):
    """A quoted __name__ inside the selector switches the info metric
    (default target_info)."""
    ev = _info_fixture(spark)
    got = {
        (r["labels"], r["value"])
        for r in ev.eval('info(m, {"build_info"})').collect()
    }
    assert ("instance=i1,job=web,version=2.1", 5.0) in got
    assert ("instance=i2,job=web", 7.0) in got


def test_info_on_the_range_grid(spark):
    """info() composes with eval_range: the data-label join runs per
    grid instant."""
    ev = _info_fixture(spark)
    h = 3_600_000_000
    rows = ev.eval_range('info(m, {cluster=~".+"})', h, h).collect()
    labels = {r["labels"] for r in rows}
    assert "cluster=us,instance=i1,job=web" in labels


def test_info_syntax_and_format(spark):
    from shards_prometheus_spark.functions.promql_format import (
        format_query,
        parse_query_json,
    )
    from shards_prometheus_spark.functions.promql_parser import (
        PromQLSyntaxError,
        parse,
    )

    assert format_query("info(rate(m[5m]))") == "info(rate(m[5m]))"
    assert (
        format_query('info(m, {cluster=~"us-.*"})')
        == 'info(m, {cluster=~"us-.*"})'
    )
    j = parse_query_json('info(m, {cluster="a"})')
    assert j["func"]["name"] == "info" and len(j["args"]) == 2
    with pytest.raises(PromQLSyntaxError):
        parse('info(m, "not-a-selector")')
    ev = _info_fixture(spark)
    with pytest.raises(PromQLSyntaxError):
        ev.eval('info(m, {__name__=~"target.*"})')


def _registered_promql_exprs() -> list[str]:
    """Every registered `PROMQL_*` expression string, deduplicated."""
    from shards_prometheus_spark.functions import promql_parser as pp

    seen: dict[str, str] = {}
    for name in sorted(dir(pp)):
        val = getattr(pp, name)
        if name.startswith("PROMQL_") and isinstance(val, str):
            seen.setdefault(val, name)
    return list(seen)


#: shapes the registry lacks: offset, @, absent, scalar()/time()
#: arithmetic, timestamp(), bare and le-filtered `_bucket` selectors,
#: simple and composed subqueries, topk with and without by,
#: count_values
_EQUIV_EXTRA = [
    "click offset 1h",
    "sum by (user) (rate(click[2h] offset 30m))",
    "click @ end()",
    "sum by (user) (increase(click[240h] @ start()))",
    "max_over_time(click[6h:1h] @ start())",
    "absent(click)",
    'absent(nosuch{job="api"})',
    "absent(view_bucket)",
    "absent(sum by (user) (click) > 1e9)",
    "absent_over_time(click[1h])",
    "absent_over_time(nosuch[1h])",
    "click > scalar(avg(click))",
    "click * scalar(sum(view))",
    "click - time() / 1e6",
    "time() - 3600",
    "scalar(sum(click)) * 2 + time()",
    "vector(time())",
    "timestamp(click)",
    "timestamp(sum by (user) (click))",
    "view_bucket",
    'view_bucket{le="50"}',
    "max_over_time(click[6h:1h])",
    "max_over_time(rate(click[1h])[6h:30m])",
    "avg_over_time(sum by (user) (rate(click[2h]))[6h:1h])",
    "rate(sum by (user) (count_over_time(click[1h]))[6h:1h])",
    "topk(3, click)",
    "topk by (shard) (2, click)",
    "bottomk(2, sum by (user) (click))",
    'count_values("v", click)',
]


@pytest.fixture(scope="module")
def equiv_ev(spark):
    from shards_prometheus_spark.functions.promql_parser import (
        PromQLEvaluator,
    )

    return PromQLEvaluator(samples_multi(spark, SF_SMOKE))


@pytest.mark.parametrize(
    "expr", _registered_promql_exprs() + _EQUIV_EXTRA
)
def test_instant_equals_grid_slice(equiv_ev, expr):
    """An instant query at t is the t-instant of a range query ending
    at t: `eval_instant_map(q)` must equal the t slice of
    `eval_range_map_at(q, t - 2*step, t, step)` (upstream defines a
    range query as the instant query at each step). `@ start()`
    resolves to the range start, so those queries compare the first
    instant instead, against an instant query evaluated there."""
    import math

    from shards_prometheus_spark.functions.promql_parser import (
        PromQLEvaluator,
    )

    ev = equiv_ev
    end = ev.eval_time_us()
    step = 3_600_000_000
    start = end - 2 * step
    t = end
    if "start()" in expr:
        t = start
        ev = PromQLEvaluator(equiv_ev.samples, eval_ts_us=t)

    def norm(rows):
        return sorted(
            (
                tuple(sorted((r["labels"] or {}).items())),
                "nan" if math.isnan(r["value"]) else r["value"],
            )
            for r in rows
        )

    inst = norm(ev.eval_instant_map(expr).collect())
    grid = norm(
        r
        for r in equiv_ev.eval_range_map_at(expr, start, end, step).collect()
        if r["ts_us"] == t
    )
    assert inst == grid


def _dataframes(spark, fn) -> int:
    """How many DataFrames `fn()` constructs (each one is a JVM
    analysis; PySpark's DataFrame runs `__init__` twice per object, so
    this counts `__init__` calls)."""
    cls = type(spark.range(1))
    owner = next(c for c in cls.__mro__ if "__init__" in c.__dict__)
    orig = owner.__init__
    calls = []

    def counted(self, *args, **kwargs):
        calls.append(1)
        orig(self, *args, **kwargs)

    owner.__init__ = counted
    try:
        fn()
    finally:
        owner.__init__ = orig
    return len(calls)


def test_plan_dataframe_budget(spark):
    """Evaluator construction builds no DataFrame, and the two read
    shapes of the ingest_with_reads benchmark (a global count and a
    by() sum over a simple fold) plan in at most 6 `__init__` calls
    (3 DataFrames; a projection per node took 16 calls)."""
    from shards_prometheus_spark.functions.promql_parser import (
        PromQLEvaluator,
    )

    samples = samples_multi(spark, SF_SMOKE)
    samples.columns  # analysed before counting
    box = {}
    n = _dataframes(
        spark, lambda: box.setdefault("ev", PromQLEvaluator(samples, 1))
    )
    assert n == 0, n
    ev = box["ev"]
    for q in (
        "sum(count_over_time(click[30d]))",
        "sum by (shard) (sum_over_time(view[1d]))",
    ):
        ev.eval_instant_map(q)  # the schema probe runs once
        assert _dataframes(spark, lambda: ev.eval_instant_map(q)) <= 6, q


@pytest.mark.parametrize(
    "expr",
    [
        "sum(count_over_time(nonexistent_metric[30d]))",
        "sum by (shard) (sum_over_time(nonexistent_metric[1d]))",
        "count(nonexistent_metric)",
        "sum without (user) (rate(nonexistent_metric[1h]))",
    ],
)
def test_aggregation_of_nothing_is_empty(spark, expr):
    """An aggregation over no matching series answers an empty
    vector, not one null row, on every entry point."""
    from shards_prometheus_spark.functions.promql_parser import (
        PromQLEvaluator,
        data_time_us,
    )

    samples = samples_multi(spark, SF_SMOKE)
    t = data_time_us(samples)
    ev = PromQLEvaluator(samples, t)
    assert ev.eval(expr).collect() == []
    assert ev.eval_instant_map(expr).collect() == []
    day = 86_400_000_000
    assert ev.eval_range_map_at(expr, t - day, t, day // 4).collect() == []
