"""Lifecycle endpoints (upstream /-/healthy /-/ready /-/reload).

healthy/ready are always on; /-/reload is POST/PUT-gated behind
enable_lifecycle (upstream --web.enable-lifecycle) and re-reads the
prometheus.yml the exposer was constructed from — scrape config,
Alertmanager pool, and rule_files — so /api/v1/status/config serves
the new document from the next request on.
"""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest

from tests.conftest import SF_SMOKE

_CFG_V1 = """
global:
  scrape_interval: 30s
scrape_configs:
  - job_name: one
    static_configs:
      - targets: ['127.0.0.1:9001']
alerting:
  alertmanagers:
    - static_configs:
        - targets: ['am-one:9093']
rule_files:
  - rules_v1.yml
"""

_CFG_V2 = """
global:
  scrape_interval: 15s
scrape_configs:
  - job_name: two
    static_configs:
      - targets: ['127.0.0.1:9002']
alerting:
  alertmanagers:
    - static_configs:
        - targets: ['am-two:9093']
rule_files:
  - rules_v2.yml
"""

_RULES_V1 = """
groups:
  - name: g1
    rules:
      - record: one_total
        expr: sum(click)
"""

_RULES_V2 = """
groups:
  - name: g2
    rules:
      - record: two_total
        expr: sum(view)
"""


def _get(base: str, path: str):
    with urllib.request.urlopen(base + path, timeout=60) as resp:
        return resp.status, resp.read()


def _post(base: str, path: str):
    req = urllib.request.Request(base + path, data=b"", method="POST")
    with urllib.request.urlopen(req, timeout=120) as resp:
        return resp.status, resp.read()


def test_healthy_and_ready_always_on(spark):
    from shards_prometheus_spark.sources import MetricsExposer

    exposer = MetricsExposer(spark, SF_SMOKE).start()
    base = f"http://{exposer.host}:{exposer.port}"
    try:
        status, body = _get(base, "/-/healthy")
        assert (status, body) == (200, b"Prometheus Server is Healthy.\n")
        status, body = _get(base, "/-/ready")
        assert (status, body) == (200, b"Prometheus Server is Ready.\n")
        # reload is NOT enabled by default: 403, upstream's text
        with pytest.raises(urllib.error.HTTPError) as exc:
            _post(base, "/-/reload")
        assert exc.value.code == 403
        assert b"not enabled" in exc.value.read()
    finally:
        exposer.stop()


def test_reload_rereads_config_file(spark, tmp_path):
    from shards_prometheus_spark.sources import MetricsExposer

    cfg = tmp_path / "prometheus.yml"
    cfg.write_text(_CFG_V1)
    (tmp_path / "rules_v1.yml").write_text(_RULES_V1)
    (tmp_path / "rules_v2.yml").write_text(_RULES_V2)

    exposer = MetricsExposer(
        spark,
        SF_SMOKE,
        scrape_config_path=str(cfg),
        enable_lifecycle=True,
    ).start()
    base = f"http://{exposer.host}:{exposer.port}"
    try:
        _, raw = _get(base, "/api/v1/status/config")
        assert "job_name: one" in json.loads(raw)["data"]["yaml"]
        _, raw = _get(base, "/api/v1/alertmanagers")
        assert json.loads(raw)["data"]["activeAlertmanagers"] == [
            {"url": "http://am-one:9093/api/v2/alerts"}
        ]
        _, raw = _get(base, "/api/v1/rules")
        groups = json.loads(raw)["data"]["groups"]
        assert [g["name"] for g in groups] == ["g1"]

        # edit the file on disk, POST reload: everything re-reads
        cfg.write_text(_CFG_V2)
        status, _ = _post(base, "/-/reload")
        assert status == 200

        _, raw = _get(base, "/api/v1/status/config")
        served = json.loads(raw)["data"]["yaml"]
        assert "job_name: two" in served and "one" not in served
        _, raw = _get(base, "/api/v1/alertmanagers")
        assert json.loads(raw)["data"]["activeAlertmanagers"] == [
            {"url": "http://am-two:9093/api/v2/alerts"}
        ]
        _, raw = _get(base, "/api/v1/rules")
        groups = json.loads(raw)["data"]["groups"]
        assert [g["name"] for g in groups] == ["g2"]

        # a broken config fails the reload (500) and keeps the old
        # document in force
        cfg.write_text("scrape_configs: {not: [a, list")
        with pytest.raises(urllib.error.HTTPError) as exc:
            _post(base, "/-/reload")
        assert exc.value.code == 500
        _, raw = _get(base, "/api/v1/status/config")
        assert "job_name: two" in json.loads(raw)["data"]["yaml"]

        # GET on /-/reload is refused even with lifecycle on
        with pytest.raises(urllib.error.HTTPError) as exc:
            _get(base, "/-/reload")
        assert exc.value.code == 405
    finally:
        exposer.stop()


def test_quit_endpoint_shuts_the_server_down(spark):
    """POST /-/quit (enable_lifecycle): answers upstream's goodbye
    text, then the server stops serving; 403 when the flag is off,
    405 on GET."""
    import socket
    import time as _time

    from shards_prometheus_spark.sources import MetricsExposer

    exposer = MetricsExposer(spark, SF_SMOKE).start()
    base = f"http://{exposer.host}:{exposer.port}"
    try:
        with pytest.raises(urllib.error.HTTPError) as exc:
            _post(base, "/-/quit")
        assert exc.value.code == 403
    finally:
        exposer.stop()

    exposer = MetricsExposer(
        spark, SF_SMOKE, enable_lifecycle=True
    ).start()
    base = f"http://{exposer.host}:{exposer.port}"
    port = exposer.port
    try:
        with pytest.raises(urllib.error.HTTPError) as exc:
            _get(base, "/-/quit")
        assert exc.value.code == 405
        status, body = _post(base, "/-/quit")
        assert status == 200 and b"Goodbye" in body
        deadline = _time.time() + 30
        while _time.time() < deadline:
            s = socket.socket()
            s.settimeout(1.0)
            try:
                s.connect(("127.0.0.1", port))
                s.close()
                _time.sleep(0.2)
            except OSError:
                break
        else:
            raise AssertionError("server still accepting after /-/quit")
    finally:
        try:
            exposer.stop()
        except Exception:
            pass


def test_rule_evaluation_loop_pushes_with_cadence(spark):
    """start_rule_loop: the exposer evaluates its rule file on an
    interval and pushes firing alerts to the pool — and the
    notifier's resend_delay keeps a steady-firing alert from
    re-posting every evaluation (several loop turns, ONE delivery)."""
    import json
    import time as _time

    from tests.test_alertmanager import FIRING_RULE_FILE, _Sink

    from shards_prometheus_spark.sources import MetricsExposer

    sink = _Sink()
    exposer = MetricsExposer(
        spark,
        SF_SMOKE,
        rule_file=FIRING_RULE_FILE,
        alertmanagers=[sink.url],
    ).start()
    try:
        exposer.start_rule_loop(interval_s=0.5)
        deadline = _time.time() + 60
        while _time.time() < deadline and not sink.received:
            _time.sleep(0.3)
        assert sink.received, "the loop never pushed"
        first = json.loads(sink.received[0][1])
        assert first and all(
            a["labels"]["alertname"] == "AnyClicks" for a in first
        )
        # let several more evaluations run: the firing set is
        # unchanged and inside the 1m resend window, so NOTHING more
        # is delivered (upstream's resend_delay)
        n_after_first = len(sink.received)
        _time.sleep(2.0)
        assert len(sink.received) == n_after_first
    finally:
        exposer.stop()
        sink.stop()


def test_constructor_and_reload_apply_the_same_config(spark, tmp_path):
    """The constructor and `/-/reload` apply one prometheus.yml the
    same way: with an explicit Alertmanager list the config's
    `rule_files:` still load at start, and a reload adopts a changed
    `otlp:` section — while the explicit list wins both times."""
    from shards_prometheus_spark.sources import MetricsExposer

    cfg = tmp_path / "prometheus.yml"
    cfg.write_text(_CFG_V1)
    (tmp_path / "rules_v1.yml").write_text(_RULES_V1)
    (tmp_path / "rules_v2.yml").write_text(_RULES_V2)
    exposer = MetricsExposer(
        spark,
        SF_SMOKE,
        scrape_config_path=str(cfg),
        alertmanagers=["http://explicit:9093"],
    )

    def served() -> tuple:
        status, payload = exposer.handle_api(
            "/api/v1/rules", {"exclude_alerts": ["true"]}
        )
        assert status == 200
        return (
            [g["name"] for g in payload["data"]["groups"]],
            exposer._alertmanagers,
            exposer._otlp_promote,
        )

    assert served() == (["g1"], ["http://explicit:9093"], [])
    cfg.write_text(
        _CFG_V2 + "otlp:\n  promote_resource_attributes: [k8s.pod.name]\n"
    )
    exposer.reload_config()
    assert served() == (
        ["g2"], ["http://explicit:9093"], ["k8s.pod.name"]
    )
