"""Rule-group chaining semantics (the registered groups themselves are
oracle-checked in the parity sweep; these tests pin what the oracle
cannot see — that layer 2 is resolvable ONLY through the chain)."""

from __future__ import annotations

import pytest

from shards_prometheus_spark.functions.promql_parser import (
    PromQLEvaluator,
)
from shards_prometheus_spark.model import samples_multi
from shards_prometheus_spark.operators.rules import (
    CHAINED_RULE_FILE,
    eval_rule_file,
)
from tests.conftest import SF_SMOKE


def test_group_query_offset_shifts_evaluation(spark):
    """`query_offset:` (public group knob, ≥2.53): every rule in the
    group evaluates that far behind the store's now — the recorded
    value AND its timestamp shift by the offset, while an offset-free
    group on the same file still reads the newest sample."""
    from shards_prometheus_spark.operators.rules import load_rule_groups

    _US = 1_000_000
    rows = [
        (1, 10, "g", {"user": "u"}, 100 * _US, 1.0),
        (2, 10, "g", {"user": "u"}, 200 * _US, 2.0),
    ]
    samples = spark.createDataFrame(
        rows,
        "event_id long, series_id long, metric string, "
        "labels map<string,string>, ts_us long, value double",
    )
    yml = """
groups:
  - name: now
    rules:
      - record: "g:rec"
        expr: g
  - name: behind
    query_offset: 100s
    rules:
      - record: "g:rec:off"
        expr: g
"""
    assert load_rule_groups(yml)[1]["query_offset_us"] == 100 * _US
    got = {
        r["rule"]: r["value"] for r in eval_rule_file(samples, yml).collect()
    }
    # now-group reads the 200s sample; the offset group evaluates at
    # 200s - 100s and reads the 100s sample
    assert got == {"g:rec": 2.0, "g:rec:off": 1.0}


def test_chained_layer_needs_the_chain(spark):
    """A record selector against the RAW store is empty — the layered
    expression only resolves because eval_rule_file writes each
    record's vector back before the next rule runs (the layered group
    `rules_chained` evaluates)."""
    samples = samples_multi(spark, SF_SMOKE)
    plain = PromQLEvaluator(samples).eval("user:click:rate720h * 86400")
    assert plain.count() == 0
    chained = eval_rule_file(samples, CHAINED_RULE_FILE)
    by_rule = {}
    for r in chained.collect():
        by_rule.setdefault(r["rule"], {})[r["labels"]] = r["value"]
    l1 = by_rule["user:click:rate720h"]
    l2 = by_rule["user:click:rate720h:daily"]
    # layer 2 = layer 1 × 86400, re-rounded on write-back, per label
    assert set(l1) == set(l2) and len(l1) > 0
    for k, v in l1.items():
        assert l2[k] == pytest.approx(round(v * 86400, 4))
    # the alert consumes layer 2: it fires on a strict subset (the
    # above-average users) and reports layer-2 values
    alert = by_rule["AboveAverageDailyClickRate"]
    assert set(alert) < set(l2) and len(alert) > 0
    avg = sum(l2.values()) / len(l2)
    assert set(alert) == {k for k, v in l2.items() if v > avg}


def test_alerts_synthetic_series_via_query_api(spark):
    """The VERDICT Done-bar for ALERTS/ALERTS_FOR_STATE: a `for:`
    rule MID-HOLD answers `/api/v1/query?query=ALERTS` with
    alertstate="pending"; once the hold is covered, "firing" — the
    documented Grafana `ALERTS{alertstate="firing"}` pattern — and
    ALERTS_FOR_STATE carries ActiveAt epoch-seconds throughout.
    Driven over a controlled pushed store so the evaluation tick is
    exact."""
    import json
    import urllib.request
    from urllib.parse import quote

    from shards_prometheus_spark.sources import MetricsExposer

    rule = """
groups:
  - name: probes
    interval: 1m
    rules:
      - alert: ProbeUp
        expr: probe > 0
        for: 2m
        labels:
          severity: page
"""
    empty = spark.createDataFrame(
        [],
        "event_id long, series_id long, metric string, "
        "labels map<string,string>, ts_us long, value double",
    )
    ex = MetricsExposer(
        spark,
        samples_fn=lambda: empty,
        remote_write=True,
        rule_file=rule,
    ).start()
    base = f"http://{ex.host}:{ex.port}"
    t0_ms = 1_700_000_100_000  # a round minute (grid-aligned)

    def push(offset_s: int) -> None:
        ex._rw.ingest_rows(
            [({"__name__": "probe", "user": "1"},
              t0_ms + offset_s * 1000, 5.0)]
        )

    def query(expr: str) -> list:
        with urllib.request.urlopen(
            base + "/api/v1/query?query=" + quote(expr), timeout=120
        ) as resp:
            return json.loads(resp.read())["data"]["result"]

    try:
        # two true evaluations: 60 s of hold elapsed < for: 2m
        push(0)
        push(60)
        res = query("ALERTS")
        assert len(res) == 1
        m = res[0]["metric"]
        assert m["alertname"] == "ProbeUp"
        assert m["alertstate"] == "pending"
        assert m["severity"] == "page"  # rule labels ride along
        assert m["user"] == "1"
        assert float(res[0]["value"][1]) == 1.0
        fs = query("ALERTS_FOR_STATE")
        assert len(fs) == 1
        assert "alertstate" not in fs[0]["metric"]
        assert float(fs[0]["value"][1]) == t0_ms / 1000.0

        # third true evaluation: now - ActiveAt == for → firing
        push(120)
        firing = query('ALERTS{alertstate="firing"}')
        assert len(firing) == 1
        assert firing[0]["metric"]["alertname"] == "ProbeUp"
        assert query('ALERTS{alertstate="pending"}') == []
        fs2 = query("ALERTS_FOR_STATE")
        assert float(fs2[0]["value"][1]) == t0_ms / 1000.0  # pinned
    finally:
        ex.stop()


def test_alerts_series_firing_set_equals_alerts_endpoint(spark):
    """For every alert rule of DEMO_RULE_FILE, the firing
    `ALERTS{alertstate="firing"}` series carry exactly the
    (alertname, labels) set `/api/v1/alerts` serves — including a rule
    without `for:`, which fires at the group tick the moment its
    expression holds (ActiveAt = that tick)."""
    from shards_prometheus_spark.operators.rules import (
        DEMO_RULE_FILE,
        load_rule_groups,
    )
    from shards_prometheus_spark.sources import MetricsExposer

    ex = MetricsExposer(spark, SF_SMOKE, rule_file=DEMO_RULE_FILE)

    def ident(labels: dict) -> tuple:
        return (
            labels["alertname"],
            tuple(
                sorted(
                    (k, v)
                    for k, v in labels.items()
                    if k not in ("alertname", "alertstate", "__name__")
                )
            ),
        )

    status, payload = ex.handle_api("/api/v1/alerts", {})
    assert status == 200
    served = {ident(a["labels"]) for a in payload["data"]["alerts"]}
    status, payload = ex.handle_api(
        "/api/v1/query",
        {"query": ['ALERTS{alertstate="firing"}']},
    )
    assert status == 200
    series = {ident(s["metric"]) for s in payload["data"]["result"]}
    names = [
        r["name"]
        for g in load_rule_groups(DEMO_RULE_FILE)
        for r in g["rules"]
        if r["kind"] == "alert"
    ]
    for name in names:
        want = {a for a in served if a[0] == name}
        assert {s for s in series if s[0] == name} == want, name
    # the for:-less rule fires at this scale, so the check has teeth
    assert any(a[0] == "AboveAverageDailyClickRate" for a in served)


def test_alerts_rule_file_read_runs_no_extra_jobs(spark):
    """A rule file's ALERTS leg is pinned at the stored data's time,
    taken from the batch dir's memo: a warm read that does not select
    ALERTS runs no more Spark jobs than on an exposer without rules."""
    from shards_prometheus_spark.operators.rules import DEMO_RULE_FILE
    from shards_prometheus_spark.sources import MetricsExposer
    from tests.conftest import count_spark_jobs

    params = {"query": ["sum(count_over_time(click[30d]))"]}

    def jobs(ex) -> int:
        status, _payload = ex.handle_api("/api/v1/query", params)
        assert status == 200
        (status, payload), n = count_spark_jobs(
            spark, lambda: ex.handle_api("/api/v1/query", params)
        )
        assert status == 200 and payload["data"]["result"]
        return n

    plain = jobs(MetricsExposer(spark, SF_SMOKE))
    ruled = jobs(MetricsExposer(spark, SF_SMOKE, rule_file=DEMO_RULE_FILE))
    assert ruled <= plain, (ruled, plain)


def _compiles(fn) -> int:
    """The number of PromQL expressions `fn()` builds a plan for."""
    calls = []
    orig = PromQLEvaluator._evaluate

    def counted(self, *args, **kwargs):
        calls.append(1)
        return orig(self, *args, **kwargs)

    PromQLEvaluator._evaluate = counted
    try:
        fn()
    finally:
        PromQLEvaluator._evaluate = orig
    return len(calls)


def test_alert_paths_build_each_alert_rule_once(spark):
    """The ALERTS leg builds each rule of the file once — the firing
    set and the alert states are one relation — and `/api/v1/alerts`
    evaluates only the groups holding an alert rule (the built-in
    `recording` group's two records change no alert)."""
    from shards_prometheus_spark.operators.rules import (
        BUILTIN_RULE_FILE,
        DEMO_RULE_FILE,
        load_rule_groups,
        rule_file_alert_state_samples,
    )
    from shards_prometheus_spark.sources import MetricsExposer

    samples = samples_multi(spark, SF_SMOKE)
    n = _compiles(
        lambda: rule_file_alert_state_samples(
            samples, DEMO_RULE_FILE, eval_ts_us=0
        )
    )
    assert n == 4, n  # 2 records + 2 alert rules
    ex = MetricsExposer(spark, SF_SMOKE)
    n = _compiles(lambda: ex.handle_api("/api/v1/alerts", {}))
    alerting = [
        g for g in load_rule_groups(BUILTIN_RULE_FILE)
        if any(r["kind"] == "alert" for r in g["rules"])
    ]
    assert n == sum(len(g["rules"]) for g in alerting) == 9, n


def test_alerts_leg_only_for_queries_that_select_it(spark):
    """On a rule-file exposer a query that reads no ALERTS /
    ALERTS_FOR_STATE series builds no rule plan (the leg used to
    compile every alert-group rule on every read), and
    `ALERTS{alertstate="firing"}` still answers the firing ALERTS
    series recorded in rule_states_sf0.001.json, at the data's time."""
    import json
    import os

    from shards_prometheus_spark.functions.promql_parser import (
        data_time_us,
    )
    from shards_prometheus_spark.operators.rules import DEMO_RULE_FILE
    from shards_prometheus_spark.sources import MetricsExposer

    ex = MetricsExposer(spark, SF_SMOKE, rule_file=DEMO_RULE_FILE)
    q = {"query": ["sum(count_over_time(click[30d]))"]}
    n = _compiles(lambda: ex.handle_api("/api/v1/query", q))
    assert n == 1, n  # the query itself
    h = {"query": q["query"], "start": ["1706400000"],
         "end": ["1706600000"], "step": ["50000"]}
    n = _compiles(lambda: ex.handle_api("/api/v1/query_range", h))
    assert n == 1, n
    status, body = ex.handle_api(
        "/api/v1/query", {"query": ['ALERTS{alertstate="firing"}']}
    )
    assert status == 200
    with open(
        os.path.join(os.path.dirname(__file__), "rule_states_sf0.001.json")
    ) as f:
        rows = json.load(f)["DEMO_RULE_FILE"]["alerts_rows"]
    want = sorted(
        [list(kv) for kv in lbl] for m, lbl, _v in rows
        if m == "ALERTS" and dict(lbl)["alertstate"] == "firing"
    )
    got = body["data"]["result"]
    assert sorted(
        [list(kv) for kv in sorted(r["metric"].items())] for r in got
    ) == want
    t = data_time_us(samples_multi(spark, SF_SMOKE)) / 1e6
    assert {tuple(r["value"]) for r in got} == {(t, "1")}


@pytest.mark.parametrize("name", ["DEMO_RULE_FILE", "BUILTIN_RULE_FILE"])
def test_rule_file_states_equal_recorded(spark, name):
    """The firing set and the ALERTS / ALERTS_FOR_STATE rows of the
    demo and built-in rule files on SF_SMOKE equal the rows recorded
    from the three derivations `_alert_states` replaced (per-rule
    count, keep state machine, run statistics) — the JSON file next to
    this one."""
    import json
    import os

    from pyspark.sql import functions as F

    from shards_prometheus_spark.functions.promql_parser import (
        data_time_us,
    )
    from shards_prometheus_spark.operators import rules as R

    with open(
        os.path.join(os.path.dirname(__file__), "rule_states_sf0.001.json")
    ) as f:
        want = json.load(f)[name]
    text = getattr(R, name)
    samples = samples_multi(spark, SF_SMOKE)
    t = data_time_us(samples)
    firing = sorted(
        [r["rule"], r["labels"], r["value"]]
        for r in R.eval_rule_file(samples, text, eval_ts_us=t)
        .filter(F.col("kind") == "alert")
        .collect()
    )
    assert firing == want["firing"]
    rows = sorted(
        [r["metric"], [list(kv) for kv in sorted(r["labels"].items())],
         r["value"]]
        for r in R.rule_file_alert_state_samples(
            samples, text, eval_ts_us=t
        ).collect()
    )
    assert rows == want["alerts_rows"]


def test_hold_not_a_multiple_of_the_interval(spark):
    """`for: 90s` on a 1m interval fires only once the run has lasted
    90s — three true evaluations — with or without
    `keep_firing_for:`. Series a is true at T-60s and T (60s < 90s:
    pending), series b at T-120s, T-60s and T (firing); ALERTS and
    ALERTS_FOR_STATE say the same."""
    from shards_prometheus_spark.operators.rules import (
        rule_file_alert_state_samples,
    )

    _US = 1_000_000
    t = 1_700_000_100 * _US  # a round minute: the tick is a grid instant
    rows = [
        (i, 1 if user == "a" else 2, "m", {"user": user}, t - ago * _US, 5.0)
        for i, (user, ago) in enumerate(
            [("a", 60), ("a", 0), ("b", 120), ("b", 60), ("b", 0)]
        )
    ]
    samples = spark.createDataFrame(
        rows,
        "event_id long, series_id long, metric string, "
        "labels map<string,string>, ts_us long, value double",
    )
    yml = """
groups:
  - name: g
    interval: 1m
    rules:
      - alert: Hold
        expr: m > 0
        for: 90s
      - alert: HoldKeep
        expr: m > 0
        for: 90s
        keep_firing_for: 1m
"""
    firing = {
        (r["rule"], r["labels"])
        for r in eval_rule_file(samples, yml).collect()
    }
    assert firing == {("Hold", "user=b"), ("HoldKeep", "user=b")}
    series = {
        (
            r["metric"],
            r["labels"]["alertname"],
            r["labels"]["user"],
            r["labels"].get("alertstate"),
            r["value"],
        )
        for r in rule_file_alert_state_samples(samples, yml).collect()
    }
    t_s = t / _US
    assert series == {
        (metric, rule, user, state, value)
        for rule in ("Hold", "HoldKeep")
        for user, state, active_at in (
            ("a", "pending", t_s - 60),
            ("b", "firing", t_s - 120),
        )
        for metric, state, value in (
            ("ALERTS", state, 1.0),
            ("ALERTS_FOR_STATE", None, active_at),
        )
    }


def test_threshold_rules_with_a_non_multiple_hold(spark):
    """Two same-shape threshold rules with `for: 90m` on a 1h interval,
    evaluated 45m past an instant: users a (above average at 11h and
    12h) and d (at 10h, 11h and 12h). Only d's run has lasted 90m, so
    only d fires — per rule and through `eval_alert_for_group`, whose
    fused scan counts grid instants and so stays off such rules."""
    from shards_prometheus_spark.operators.rules import (
        eval_alert_for_group,
    )

    H = 3_600_000_000
    growth = {"a": lambda i: max(0, i - 10) * 10.0, "b": float,
              "c": lambda i: 0.0, "d": lambda i: 5.0 * i}
    rows = [
        (n, sid, m, {"user": u}, i * H, growth[u](i))
        for n, (sid, m, u, i) in enumerate(
            (sid, m, u, i)
            for sid, (m, u) in enumerate(
                (m, u) for m in ("click", "view") for u in growth
            )
            for i in range(1, 13)
        )
    ]
    ev = PromQLEvaluator(
        spark.createDataFrame(
            rows,
            "event_id long, series_id long, metric string, "
            "labels map<string,string>, ts_us long, value double",
        ),
        eval_ts_us=12 * H + 3 * H // 4,
    )
    rules = [
        (
            f"{m}Above",
            f"sum by (user) (increase({m}[2h])) > "
            f"scalar(avg(sum by (user) (increase({m}[2h]))))",
            3 * H // 2,
            H,
        )
        for m in ("click", "view")
    ]

    def firing(rs) -> list:
        return sorted(
            (r["alertname"], r["labels"])
            for r in eval_alert_for_group(ev, rs, "alertname").collect()
        )

    want = [("clickAbove", "user=d"), ("viewAbove", "user=d")]
    assert firing(rules) == want
    assert firing(rules[:1]) + firing(rules[1:]) == want
