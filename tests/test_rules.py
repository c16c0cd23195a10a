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
