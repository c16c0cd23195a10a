"""prometheus.yml scrape_configs driving the scrape loop
(sources/scrape_config.py) — the r11 VERDICT's #2 ask: a switching
user's existing deployment file resolves targets (relabel hop
included), injects job/instance labels per upstream, and is echoed
verbatim on /api/v1/status/config.
"""

from __future__ import annotations

import json
import time
import urllib.request

from tests.conftest import SF_SMOKE


def test_load_scrape_configs_shapes():
    from shards_prometheus_spark.sources.scrape_config import (
        load_scrape_configs,
    )

    yml = """
global:
  scrape_interval: 30s
rule_files:
  - alerts.yml
scrape_configs:
  - job_name: web
    static_configs:
      - targets: ['a:1', 'b:2']
        labels: {env: prod}
  - job_name: api
    scrape_interval: 5s
    metrics_path: /m
    scheme: https
    honor_labels: true
    static_configs:
      - targets: ['c:3']
alerting:
  alertmanagers:
    - static_configs:
        - targets: ['am:9093']
"""
    cfg = load_scrape_configs(yml)
    assert cfg.yaml_text == yml
    assert cfg.global_interval_us == 30_000_000
    assert cfg.rule_files == ["alerts.yml"]
    assert cfg.alertmanager_urls == ["http://am:9093"]
    web, api = cfg.jobs
    assert web.job_name == "web" and web.interval_us == 30_000_000
    assert web.static_targets == [
        ("a:1", {"env": "prod"}),
        ("b:2", {"env": "prod"}),
    ]
    assert api.interval_us == 5_000_000
    assert (api.metrics_path, api.scheme, api.honor_labels) == (
        "/m",
        "https",
        True,
    )


def test_resolve_targets_relabel_hop(spark):
    """The TARGET relabeling hop: keep/drop filters the target list,
    replace rewrites __address__ (the scrape URL follows), instance
    defaults to the final __address__, `__`-internals are stripped."""
    from shards_prometheus_spark.sources.scrape_config import (
        ScrapeJob,
        resolve_targets,
    )

    job = ScrapeJob(
        job_name="web",
        interval_us=15_000_000,
        static_targets=[
            ("keep-me:9100", {"dc": "eu"}),
            ("drop-me:9100", {"dc": "us"}),
        ],
        relabel_configs=[
            {"action": "keep", "source_labels": ["dc"], "regex": "eu"},
            {
                "action": "replace",
                "source_labels": ["__address__"],
                "regex": r"([a-z-]+):(\d+)",
                "target_label": "__address__",
                "replacement": "$1.internal:$2",
            },
            {
                "action": "replace",
                "source_labels": ["dc"],
                "regex": "(.*)",
                "target_label": "zone",
                "replacement": "zone-$1",
            },
        ],
    )
    (t,) = resolve_targets(spark, job)
    assert t.url == "http://keep-me.internal:9100/metrics"
    assert t.labels == {
        "job": "web",
        "instance": "keep-me.internal:9100",
        "dc": "eu",
        "zone": "zone-eu",
    }


def test_two_job_config_end_to_end(spark):
    """The Done-bar: a two-job config drives real scrape loops — every
    scraped row carries its job's `job`/`instance` labels (upstream
    injection, honor_labels=false: target labels win), the second
    job's metric_relabel_configs drop a family, and an exposer given
    the config serves it VERBATIM on /api/v1/status/config."""
    from pyspark.sql import functions as F

    from shards_prometheus_spark.sources import MetricsExposer
    from shards_prometheus_spark.sources.scrape_config import (
        load_scrape_configs,
        resolve_targets,
        scrape_job_stream,
    )

    a = MetricsExposer(spark, SF_SMOKE).start()
    b = MetricsExposer(spark, SF_SMOKE).start()
    queries = []
    try:
        yml = f"""
global:
  scrape_interval: 15s
scrape_configs:
  - job_name: web
    static_configs:
      - targets: ['{a.host}:{a.port}']
        labels: {{env: prod}}
  - job_name: api
    scrape_interval: 5s
    static_configs:
      - targets: ['{b.host}:{b.port}']
    metric_relabel_configs:
      - action: drop
        source_labels: [__name__]
        regex: error
"""
        from shards_prometheus_spark.sources.scraper import (
            SYNTHETIC_METRICS,
        )

        cfg = load_scrape_configs(yml)
        for i, job in enumerate(cfg.jobs):
            # several ticks: a single scrape may time out under load,
            # which since r13 is DATA (up 0 + synthetics), not a
            # retried task — the next tick is the retry
            df = scrape_job_stream(spark, job, max_ticks=6)
            queries.append(
                df.writeStream.outputMode("append")
                .format("memory")
                .queryName(f"cfg_scrape_{i}")
                .trigger(processingTime="1 second")
                .start()
            )

        def has_payload(i: int) -> bool:
            return (
                spark.table(f"cfg_scrape_{i}")
                .filter(~F.col("metric").isin(*SYNTHETIC_METRICS))
                .limit(1)
                .count()
                > 0
            )

        deadline = time.time() + 240
        while time.time() < deadline:
            if all(has_payload(i) for i in range(len(cfg.jobs))):
                break
            time.sleep(0.5)
        else:
            raise AssertionError(
                "config-driven loops produced no payload rows"
            )
        for q in queries:
            q.stop()
        queries = []

        web = spark.table("cfg_scrape_0")
        api = spark.table("cfg_scrape_1")

        def label_set(df, key):
            return {
                r["v"]
                for r in df.select(
                    F.element_at("labels", F.lit(key)).alias("v")
                )
                .distinct()
                .collect()
            }

        # upstream job/instance injection, per job
        assert label_set(web, "job") == {"web"}
        assert label_set(web, "instance") == {f"{a.host}:{a.port}"}
        assert label_set(web, "env") == {"prod"}
        assert label_set(api, "job") == {"api"}
        assert label_set(api, "instance") == {f"{b.host}:{b.port}"}
        # the api job's metric_relabel_configs dropped the family;
        # the web job (no rules) still has it
        api_metrics = {
            r["metric"] for r in api.select("metric").distinct().collect()
        }
        web_metrics = {
            r["metric"] for r in web.select("metric").distinct().collect()
        }
        assert "error" not in api_metrics and api_metrics
        assert "error" in web_metrics

        # the config endpoint echoes the loaded YAML verbatim
        ex = MetricsExposer(spark, SF_SMOKE, scrape_config=yml).start()
        try:
            with urllib.request.urlopen(
                f"http://{ex.host}:{ex.port}/api/v1/status/config",
                timeout=60,
            ) as resp:
                payload = json.loads(resp.read().decode())
            assert payload["status"] == "success"
            assert payload["data"]["yaml"] == yml
        finally:
            ex.stop()

        # resolve_targets on the loaded jobs gives back the exposers
        assert [
            t.url for t in resolve_targets(spark, cfg.jobs[0])
        ] == [f"http://{a.host}:{a.port}/metrics"]
    finally:
        for q in queries:
            q.stop()
        a.stop()
        b.stop()


def test_honor_labels_conflict_semantics(spark):
    """honor_labels=false renames a conflicting scraped label to
    exported_<name> and the target label wins; honor_labels=true keeps
    the scraped label."""
    from pyspark.sql import functions as F

    from shards_prometheus_spark.sources.scrape_config import (
        ResolvedTarget,
        attach_target_labels,
    )

    scraped = spark.createDataFrame(
        [("m", {"user": "42", "job": "inner"}, "http://t/metrics")],
        "metric string, labels map<string,string>, target string",
    )
    t = ResolvedTarget(
        url="http://t/metrics", labels={"job": "web", "instance": "t"}
    )
    (r,) = attach_target_labels(scraped, [t], honor_labels=False).collect()
    assert dict(r["labels"]) == {
        "user": "42",
        "exported_job": "inner",
        "job": "web",
        "instance": "t",
    }
    (r,) = attach_target_labels(scraped, [t], honor_labels=True).collect()
    assert dict(r["labels"]) == {
        "user": "42",
        "job": "inner",
        "instance": "t",
    }


def test_file_sd_targets_merge_and_reload(spark, tmp_path):
    """file_sd_configs: JSON and YAML target files merge with
    static_configs through the same relabel hop; the files re-read on
    every resolution (edit + re-resolve picks up the new fleet);
    malformed files contribute nothing instead of failing the job."""
    from shards_prometheus_spark.sources.scrape_config import (
        load_scrape_configs,
        resolve_targets,
    )

    sd_json = tmp_path / "fleet.json"
    sd_json.write_text(
        json.dumps(
            [
                {
                    "targets": ["10.0.0.1:9100", "10.0.0.2:9100"],
                    "labels": {"dc": "east"},
                }
            ]
        )
    )
    sd_yaml = tmp_path / "extra.yml"
    sd_yaml.write_text(
        "- targets: ['10.0.1.1:9100']\n  labels: {dc: west}\n"
    )
    bad = tmp_path / "bad.json"
    bad.write_text("{not json")
    cfg = load_scrape_configs(
        f"""
scrape_configs:
  - job_name: nodes
    static_configs:
      - targets: ['10.0.9.9:9100']
        labels: {{dc: static}}
    file_sd_configs:
      - files: ['{tmp_path}/*.json', '{sd_yaml}']
"""
    )
    (job,) = cfg.jobs
    assert sorted(job.file_sd_files) == [
        f"{tmp_path}/*.json",
        str(sd_yaml),
    ]
    got = {
        t.url: t.labels["dc"] for t in resolve_targets(spark, job)
    }
    assert got == {
        "http://10.0.9.9:9100/metrics": "static",
        "http://10.0.0.1:9100/metrics": "east",
        "http://10.0.0.2:9100/metrics": "east",
        "http://10.0.1.1:9100/metrics": "west",
    }
    # job/instance defaults injected like static targets
    t = next(
        t for t in resolve_targets(spark, job)
        if t.url.endswith("10.0.0.1:9100/metrics")
    )
    assert t.labels["job"] == "nodes"
    assert t.labels["instance"] == "10.0.0.1:9100"

    # the file IS the mutable fleet: edit + re-resolve
    sd_json.write_text(
        json.dumps([{"targets": ["10.0.0.3:9100"], "labels": {}}])
    )
    got2 = {t.url for t in resolve_targets(spark, job)}
    assert "http://10.0.0.3:9100/metrics" in got2
    assert "http://10.0.0.1:9100/metrics" not in got2


def test_scrape_timeout_parsed_and_clamped():
    """scrape_timeout: job > global > 10s default, clamped to the
    scrape interval per upstream (a scrape must finish before the
    next tick)."""
    from shards_prometheus_spark.sources.scrape_config import (
        load_scrape_configs,
    )

    cfg = load_scrape_configs(
        """
global:
  scrape_interval: 30s
  scrape_timeout: 8s
scrape_configs:
  - job_name: inherits
    static_configs: [{targets: ['a:1']}]
  - job_name: own
    scrape_timeout: 3s
    static_configs: [{targets: ['b:1']}]
  - job_name: clamped
    scrape_interval: 5s
    scrape_timeout: 1m
    static_configs: [{targets: ['c:1']}]
"""
    )
    by = {j.job_name: j for j in cfg.jobs}
    assert by["inherits"].timeout_us == 8_000_000
    assert by["own"].timeout_us == 3_000_000
    assert by["clamped"].timeout_us == 5_000_000  # clamped to interval


def test_params_and_param_labels(spark):
    """Upstream `params`: query parameters ride every scrape URL; the
    first value of each surfaces as a relabelable `__param_<name>`
    label, and a relabel rewriting it changes the URL."""
    from shards_prometheus_spark.sources.scrape_config import (
        load_scrape_configs,
        resolve_targets,
    )

    cfg = load_scrape_configs(
        """
scrape_configs:
  - job_name: fed
    metrics_path: /federate
    params:
      "match[]": ['{job="a"}', '{job="b"}']
      module: [icmp]
    static_configs: [{targets: ['h:1']}]
  - job_name: rewritten
    params:
      module: [http_2xx]
    relabel_configs:
      - source_labels: [__param_module]
        regex: http_2xx
        target_label: __param_module
        replacement: https_2xx
    static_configs: [{targets: ['h:2']}]
"""
    )
    fed, rew = cfg.jobs
    assert fed.params == {"match[]": ['{job="a"}', '{job="b"}'],
                          "module": ["icmp"]}
    (t,) = resolve_targets(spark, fed)
    # first values from __param_* labels (sorted), extras appended
    assert t.url == (
        "http://h:1/federate?match%5B%5D=%7Bjob%3D%22a%22%7D"
        "&module=icmp&match%5B%5D=%7Bjob%3D%22b%22%7D"
    )
    (t2,) = resolve_targets(spark, rew)
    assert t2.url == "http://h:2/metrics?module=https_2xx"


def test_auth_headers_compile():
    """basic_auth / authorization (incl. *_file secrets) compile to
    the Authorization header the scrape GET carries."""
    import base64
    import tempfile

    from shards_prometheus_spark.sources.scrape_config import (
        load_scrape_configs,
    )

    with tempfile.NamedTemporaryFile("w", suffix=".secret",
                                     delete=False) as f:
        f.write("tok-from-file\n")
        pwfile = f.name
    cfg = load_scrape_configs(
        f"""
scrape_configs:
  - job_name: basic
    basic_auth: {{username: prom, password: s3cr3t}}
    static_configs: [{{targets: ['a:1']}}]
  - job_name: bearer
    authorization: {{credentials: abc123}}
    static_configs: [{{targets: ['b:1']}}]
  - job_name: bearer_file
    authorization: {{credentials_file: {pwfile}}}
    static_configs: [{{targets: ['c:1']}}]
  - job_name: open
    static_configs: [{{targets: ['d:1']}}]
"""
    )
    by = {j.job_name: j for j in cfg.jobs}
    expect = base64.b64encode(b"prom:s3cr3t").decode()
    assert by["basic"].auth_header == f"Basic {expect}"
    assert by["basic"].request_headers() == {
        "Authorization": f"Basic {expect}"
    }
    assert by["bearer"].auth_header == "Bearer abc123"
    assert by["bearer_file"].auth_header == "Bearer tok-from-file"
    assert by["open"].auth_header is None
    assert by["open"].request_headers() is None


def test_credentials_never_appear_in_plan_or_options(spark):
    """Scrape credentials must not ride the DataSource options
    channel: option values surface in the Spark UI, .explain()
    output, and event logs (upstream masks every secret as
    <secret>). The headers dict travels via the 0600 headers_file
    stash instead — the GET still authenticates, and the secret
    string appears NOWHERE in the query plan."""
    import base64
    import http.server
    import threading

    secret = "sup3rs3cr3t-cred"
    expect = "Basic " + base64.b64encode(
        f"prom:{secret}".encode()
    ).decode()

    class H(http.server.BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802
            if self.headers.get("Authorization") != expect:
                self.send_response(401)
                self.end_headers()
                return
            body = b"leakcheck_gauge 7\n"
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):  # quiet
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        from shards_prometheus_spark.sources.scraper import scrape_once

        url = f"http://127.0.0.1:{srv.server_address[1]}/metrics"
        df = scrape_once(
            spark, url, headers={"Authorization": expect}
        )
        # the credential authenticated the GET...
        vals = {
            r["line"]
            for r in df.collect()
            if r["line"].startswith("leakcheck_gauge")
        }
        assert vals == {"leakcheck_gauge 7"}
        # ...but appears nowhere in any rendering of the plan
        plan = df._jdf.queryExecution().toString()
        assert secret not in plan
        assert expect.split()[1] not in plan  # the b64 form either
    finally:
        srv.shutdown()
        srv.server_close()


def test_secured_target_scraped_with_credentials(spark):
    """The VERDICT Done-bar: a target answering 401 without (and 200
    with) Basic credentials, scraped through a loaded prometheus.yml —
    payload rows land, the loop keeps running, and the exporter sees
    the negotiation headers (Accept preferring OpenMetrics,
    X-Prometheus-Scrape-Timeout-Seconds)."""
    import base64
    import http.server
    import threading

    from pyspark.sql import functions as F

    expect = "Basic " + base64.b64encode(b"prom:pw").decode()
    seen: dict = {}

    class H(http.server.BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802
            seen["accept"] = self.headers.get("Accept")
            seen["timeout"] = self.headers.get(
                "X-Prometheus-Scrape-Timeout-Seconds"
            )
            if self.headers.get("Authorization") != expect:
                self.send_response(401)
                self.send_header(
                    "WWW-Authenticate", 'Basic realm="metrics"'
                )
                self.end_headers()
                return
            body = b"secured_gauge 42\n"
            self.send_response(200)
            self.send_header("Content-Type", "text/plain; version=0.0.4")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):  # quiet
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    addr = f"127.0.0.1:{srv.server_address[1]}"
    q = None
    try:
        from shards_prometheus_spark.sources.scrape_config import (
            load_scrape_configs,
            scrape_job_stream,
        )
        from shards_prometheus_spark.sources.scraper import (
            SYNTHETIC_METRICS,
        )

        yml = f"""
scrape_configs:
  - job_name: secured
    scrape_timeout: 7s
    scrape_interval: 10s
    basic_auth: {{username: prom, password: pw}}
    static_configs: [{{targets: ['{addr}']}}]
"""
        cfg = load_scrape_configs(yml)
        df = scrape_job_stream(spark, cfg.jobs[0], max_ticks=6)
        q = (
            df.writeStream.outputMode("append")
            .format("memory")
            .queryName("secured_scrape")
            .trigger(processingTime="1 second")
            .start()
        )
        deadline = time.time() + 240
        while time.time() < deadline:
            if (
                spark.table("secured_scrape")
                .filter(~F.col("metric").isin(*SYNTHETIC_METRICS))
                .limit(1)
                .count()
                > 0
            ):
                break
            time.sleep(0.5)
        else:
            raise AssertionError("secured scrape produced no payload")
        rows = (
            spark.table("secured_scrape")
            .filter(F.col("metric") == "secured_gauge")
            .collect()
        )
        assert rows and all(r["value"] == 42.0 for r in rows)
        # the loop authenticated (a bare GET reads up 0 forever)
        ups = (
            spark.table("secured_scrape")
            .filter(F.col("metric") == "up")
            .agg(F.max("value"))
            .first()[0]
        )
        assert ups == 1.0
        # negotiation headers reached the exporter
        assert "application/openmetrics-text" in seen["accept"]
        assert seen["timeout"] == "7"
    finally:
        if q is not None:
            q.stop()
        srv.shutdown()


def _self_signed_cert(tmp_path):
    """Mint a self-signed cert for 127.0.0.1 (SAN IP) — requires the
    cryptography lib (present in this container; the FEATURE under
    test uses only stdlib ssl)."""
    import datetime
    import ipaddress

    import pytest as _pytest

    crypto = _pytest.importorskip("cryptography")  # noqa: F841
    from cryptography import x509
    from cryptography.hazmat.primitives import hashes, serialization
    from cryptography.hazmat.primitives.asymmetric import rsa
    from cryptography.x509.oid import NameOID

    key = rsa.generate_private_key(public_exponent=65537, key_size=2048)
    name = x509.Name(
        [x509.NameAttribute(NameOID.COMMON_NAME, "127.0.0.1")]
    )
    now = datetime.datetime.now(datetime.timezone.utc)
    cert = (
        x509.CertificateBuilder()
        .subject_name(name)
        .issuer_name(name)
        .public_key(key.public_key())
        .serial_number(x509.random_serial_number())
        .not_valid_before(now - datetime.timedelta(minutes=5))
        .not_valid_after(now + datetime.timedelta(hours=1))
        .add_extension(
            x509.SubjectAlternativeName(
                [x509.IPAddress(ipaddress.ip_address("127.0.0.1"))]
            ),
            critical=False,
        )
        .sign(key, hashes.SHA256())
    )
    cert_path = tmp_path / "srv.crt"
    key_path = tmp_path / "srv.key"
    cert_path.write_bytes(
        cert.public_bytes(serialization.Encoding.PEM)
    )
    key_path.write_bytes(
        key.private_bytes(
            serialization.Encoding.PEM,
            serialization.PrivateFormat.TraditionalOpenSSL,
            serialization.NoEncryption(),
        )
    )
    return str(cert_path), str(key_path)


def test_tls_config_scrapes_https_targets(spark, tmp_path):
    """upstream tls_config: an https exporter with a self-signed cert
    scrapes with `ca_file` pinning the trust root (verification ON)
    and with `insecure_skip_verify`; a bare https scrape (no
    tls_config) fails verification and reads as a dead target
    (`up` 0) without failing the batch."""
    import http.server
    import ssl
    import threading

    from pyspark.sql import functions as F

    cert_path, key_path = _self_signed_cert(tmp_path)

    class H(http.server.BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802
            body = b"tls_gauge 7\n"
            self.send_response(200)
            self.send_header("Content-Type", "text/plain; version=0.0.4")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), H)
    ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
    ctx.load_cert_chain(cert_path, key_path)
    srv.socket = ctx.wrap_socket(srv.socket, server_side=True)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    url = f"https://127.0.0.1:{srv.server_address[1]}/metrics"
    try:
        from shards_prometheus_spark.sources.scrape_config import (
            load_scrape_configs,
        )
        from shards_prometheus_spark.sources.scraper import (
            scrape_once,
            scraped_samples,
        )

        cfg = load_scrape_configs(
            f"""
scrape_configs:
  - job_name: pinned
    scheme: https
    tls_config: {{ca_file: {cert_path}}}
    static_configs: [{{targets: ['x:1']}}]
  - job_name: insecure
    scheme: https
    tls_config: {{insecure_skip_verify: true}}
    static_configs: [{{targets: ['x:1']}}]
"""
        )
        assert cfg.jobs[0].tls == {"ca_file": cert_path}
        assert cfg.jobs[1].tls == {"insecure_skip_verify": True}

        def gauge_value(tls):
            df = scraped_samples(
                scrape_once(spark, url, timeout_s=60, tls=tls)
            )
            row = df.filter(F.col("metric") == "tls_gauge").first()
            return None if row is None else row["value"]

        # ca_file pins the self-signed root: verification ON, scrape OK
        assert gauge_value(cfg.jobs[0].tls) == 7.0
        # insecure_skip_verify also reads it
        assert gauge_value(cfg.jobs[1].tls) == 7.0
        # a bare https GET fails verification → dead target (up 0),
        # batch survives
        bare = scraped_samples(scrape_once(spark, url, timeout_s=60))
        up = bare.filter(F.col("metric") == "up").first()
        assert up["value"] == 0.0
        assert bare.filter(F.col("metric") == "tls_gauge").first() is None
    finally:
        srv.shutdown()


def test_serve_scraped_config_end_to_end(spark):
    """The switching user's whole deployment in one call
    (`serve_scraped_config`): a prometheus.yml whose job scrapes two
    live exposers → real micro-batch loops → the read API serves the
    scraped state: `up` is 1 per instance, scraped families answer
    PromQL with job/instance labels attached, and /metrics
    re-exposes the scraped registry for a downstream federation
    hop."""
    import json
    import math
    import time as _time
    import urllib.request
    from urllib.parse import quote

    from shards_prometheus_spark.sources import MetricsExposer
    from shards_prometheus_spark.sources.scrape_config import (
        serve_scraped_config,
    )

    payload = [
        "# TYPE beat_total counter",
        'beat_total{user="u1"} 5',
        "# TYPE temp gauge",
        'temp{sensor="cpu",zone="z1"} 42.5',
        "# TYPE lat summary",
        'lat{quantile="0.5"} 0.1',
        "lat_sum 3.5",
        "lat_count 7",
    ]

    def lines_fn():
        return spark.createDataFrame(
            [(ln,) for ln in payload], "line string"
        )

    t1 = MetricsExposer(spark, SF_SMOKE, lines_fn=lines_fn).start()
    t2 = MetricsExposer(spark, SF_SMOKE, lines_fn=lines_fn).start()
    srv = None
    try:
        # Each target scrape renders /metrics through a Spark job, so
        # its cost follows the host's speed. The scrape timeout is
        # clamped to scrape_interval: derive the interval from the
        # slowest of a few warm direct scrapes, with a 4x margin, and
        # scale the tick budget's deadline with it.
        def scrape_s(t) -> float:
            t0 = _time.perf_counter()
            with urllib.request.urlopen(
                f"http://{t.host}:{t.port}/metrics", timeout=120
            ) as r:
                r.read()
            return _time.perf_counter() - t0

        cost = max(scrape_s(t) for t in (t1, t2, t1, t2))
        interval_s = max(1, math.ceil(4 * cost))
        cfg = f"""
global:
  scrape_interval: {interval_s}s
scrape_configs:
  - job_name: demo
    static_configs:
      - targets:
          - '{t1.host}:{t1.port}'
          - '{t2.host}:{t2.port}'
"""
        # several ticks: a timed-out scrape under load is DATA (up 0)
        # since r13, and the next tick is the retry
        srv = serve_scraped_config(
            spark,
            cfg,
            SF_SMOKE,
            max_ticks=6,
            trigger_seconds=float(interval_s),
        )
        base = f"http://{srv.exposer.host}:{srv.exposer.port}"

        def api(path):
            with urllib.request.urlopen(base + path, timeout=120) as r:
                return json.loads(r.read())

        # wait until both targets' second tick landed (the store is
        # empty until the first micro-batch commits — queries in that
        # window may answer the 422 execution envelope)
        import urllib.error

        deadline = _time.time() + 240 * interval_s
        while _time.time() < deadline:
            try:
                res = api(f"/api/v1/query?query={quote('up')}")["data"][
                    "result"
                ]
            except urllib.error.HTTPError as exc:
                if exc.code != 422:
                    raise
                res = []
            if len(res) == 2 and all(
                float(r["value"][1]) == 1.0 for r in res
            ):
                break
            _time.sleep(0.5)
        else:
            raise AssertionError("up never reached both instances")
        instances = {r["metric"]["instance"] for r in res}
        assert instances == {
            f"{t1.host}:{t1.port}",
            f"{t2.host}:{t2.port}",
        }
        assert {r["metric"]["job"] for r in res} == {"demo"}

        # a scraped family answers PromQL with target labels attached
        res = api(
            f"/api/v1/query?query={quote('sum by (job) (beat_total)')}"
        )["data"]["result"]
        assert len(res) == 1 and float(res[0]["value"][1]) == 10.0
        res = api(f"/api/v1/query?query={quote('temp')}")["data"]["result"]
        assert {r["metric"]["sensor"] for r in res} == {"cpu"}
        assert all(float(r["value"][1]) == 42.5 for r in res)

        # /metrics federates the scraped registry back out
        with urllib.request.urlopen(base + "/metrics", timeout=120) as r:
            text = r.read().decode()
        assert "# TYPE beat counter" in text
        assert 'sensor="cpu"' in text and "42.5" in text
        # a scraped summary family re-exposes under ONE TYPE header:
        # its _sum/_count siblings must not emit a conflicting
        # '# TYPE lat histogram' (a federating Prometheus rejects
        # duplicate TYPE metadata)
        assert "# TYPE lat summary" in text
        assert "# TYPE lat histogram" not in text
        assert text.count("# TYPE lat ") == 1
        import re as _re

        assert _re.search(r"lat_sum\{[^}]*\} 3\.5", text)
        assert _re.search(r"lat_count\{[^}]*\} 7", text)

        # the config echoes on /api/v1/status/config
        served = api("/api/v1/status/config")["data"]["yaml"]
        assert "job_name: demo" in served

        # 3.x UI endpoints: pool names from the loaded config; a
        # healthy server has no active notifications
        assert api("/api/v1/scrape_pools")["data"] == {
            "scrapePools": ["demo"]
        }
        notif = api("/api/v1/notifications")
        assert notif["status"] == "success" and notif["data"] == []
    finally:
        if srv is not None:
            srv.stop()
        t1.stop()
        t2.stop()


class _JsonSD:
    """Mutable HTTP SD endpoint: serves `self.groups` as the public
    http_sd JSON contract; tests mutate `groups` mid-loop."""

    def __init__(self, groups):
        import http.server
        import json as _json
        import threading

        self.groups = groups
        self.requests = 0
        outer = self

        class H(http.server.BaseHTTPRequestHandler):
            def do_GET(self):  # noqa: N802
                outer.requests += 1
                body = _json.dumps(outer.groups).encode()
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *a):  # quiet
                pass

        self._srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), H)
        self.url = f"http://127.0.0.1:{self._srv.server_port}/sd"
        threading.Thread(
            target=self._srv.serve_forever, daemon=True
        ).start()

    def stop(self):
        self._srv.shutdown()
        self._srv.server_close()


class _MetricServer:
    """One fake exporter serving a fixed classic payload."""

    def __init__(self, payload: bytes):
        import http.server
        import threading

        class H(http.server.BaseHTTPRequestHandler):
            def do_GET(self):  # noqa: N802
                self.send_response(200)
                self.send_header(
                    "Content-Type", "text/plain; version=0.0.4"
                )
                self.send_header("Content-Length", str(len(payload)))
                self.end_headers()
                self.wfile.write(payload)

            def log_message(self, *a):  # quiet
                pass

        self._srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), H)
        self.addr = f"127.0.0.1:{self._srv.server_port}"
        threading.Thread(
            target=self._srv.serve_forever, daemon=True
        ).start()

    def stop(self):
        self._srv.shutdown()
        self._srv.server_close()


def test_http_sd_targets_resolve(spark):
    """http_sd_configs at resolution time: the served JSON groups
    merge through the SAME relabel hop as static/file_sd targets —
    group labels attach, instance defaults to the address."""
    from shards_prometheus_spark.sources.scrape_config import (
        load_scrape_configs,
        resolve_targets,
    )

    sd = _JsonSD(
        [
            {"targets": ["10.0.0.1:9100", "10.0.0.2:9100"],
             "labels": {"dc": "east"}},
            {"targets": ["10.0.0.3:9100"]},
        ]
    )
    try:
        yml = f"""
scrape_configs:
  - job_name: fleet
    http_sd_configs:
      - url: {sd.url}
        refresh_interval: 30s
    relabel_configs:
      - source_labels: [dc]
        regex: "(.+)"
        target_label: zone
        replacement: "${{1}}-1"
"""
        cfg = load_scrape_configs(yml)
        job = cfg.jobs[0]
        assert job.http_sd == [
            {"url": sd.url, "refresh_s": 30.0}
        ]
        targets = resolve_targets(spark, job)
        by_addr = {t.labels["instance"]: t for t in targets}
        assert set(by_addr) == {
            "10.0.0.1:9100", "10.0.0.2:9100", "10.0.0.3:9100",
        }
        t1 = by_addr["10.0.0.1:9100"]
        assert t1.url == "http://10.0.0.1:9100/metrics"
        assert t1.labels["dc"] == "east"
        assert t1.labels["zone"] == "east-1"  # relabel hop ran
        assert t1.labels["job"] == "fleet"
        assert "zone" not in by_addr["10.0.0.3:9100"].labels
    finally:
        sd.stop()


def test_http_sd_live_loop_add_and_stale(spark):
    """The VERDICT Done-bar: an HTTP SD endpoint drives a live
    scrape loop; mutating the served list mid-loop ADDS a target
    (scraped from the next refresh on) and REMOVES one (its scrape
    partitions stop — the series stale out downstream)."""
    import time as _time

    from pyspark.sql import functions as F

    from shards_prometheus_spark.sources.scrape_config import (
        load_scrape_configs,
        scrape_job_stream,
    )

    a = _MetricServer(b"sd_gauge{src=\"a\"} 1\n")
    b = _MetricServer(b"sd_gauge{src=\"b\"} 2\n")
    sd = _JsonSD([{"targets": [a.addr], "labels": {"wave": "first"}}])
    q = None
    try:
        yml = f"""
scrape_configs:
  - job_name: sdfleet
    scrape_interval: 10s
    http_sd_configs:
      - url: {sd.url}
        refresh_interval: 1s
"""
        cfg = load_scrape_configs(yml)
        df = scrape_job_stream(spark, cfg.jobs[0], max_ticks=40)
        q = (
            df.writeStream.outputMode("append")
            .format("memory")
            .queryName("http_sd_loop")
            .trigger(processingTime="1 second")
            .start()
        )

        def rows_from(addr: str) -> int:
            return (
                spark.table("http_sd_loop")
                .filter(
                    (F.col("metric") == "sd_gauge")
                    & F.col("target").contains(addr)
                )
                .count()
            )

        deadline = _time.time() + 240
        while _time.time() < deadline and rows_from(a.addr) == 0:
            _time.sleep(0.5)
        assert rows_from(a.addr) > 0, "initial SD target never scraped"
        # startup resolution attached the group labels via the
        # relabel hop (instance/job defaults included)
        lab = (
            spark.table("http_sd_loop")
            .filter(F.col("metric") == "sd_gauge")
            .select("labels")
            .first()["labels"]
        )
        assert lab["wave"] == "first" and lab["job"] == "sdfleet"
        assert lab["instance"] == a.addr

        # mutate the fleet: drop a, add b
        sd.groups = [{"targets": [b.addr]}]
        while _time.time() < deadline and rows_from(b.addr) == 0:
            _time.sleep(0.5)
        assert rows_from(b.addr) > 0, "added SD target never scraped"
        # the mid-loop addition is unknown to the compiled label map:
        # the fallback injection still labels it job/instance
        lab_b = (
            spark.table("http_sd_loop")
            .filter(
                (F.col("metric") == "sd_gauge")
                & F.col("target").contains(b.addr)
            )
            .select("labels")
            .first()["labels"]
        )
        assert lab_b["job"] == "sdfleet"
        assert lab_b["instance"] == b.addr

        # the removed target stops being scraped: let any in-flight
        # pre-mutation batch drain (b accumulating two more ticks),
        # then pin a's count across a further b tick
        def wait_b_grows(n: int) -> None:
            start = rows_from(b.addr)
            while (
                _time.time() < deadline
                and rows_from(b.addr) < start + n
            ):
                _time.sleep(0.5)

        wait_b_grows(2)
        settled = rows_from(a.addr)
        wait_b_grows(1)
        assert rows_from(a.addr) == settled, "removed target kept scraping"
    finally:
        if q is not None:
            q.stop()
        sd.stop()
        a.stop()
        b.stop()


def test_scrape_protocols_pin_classic_dialect(spark):
    """Per-job `scrape_protocols`: a classic-only job
    ([PrometheusText0.0.4]) scrapes an OM-capable twin-dialect
    exporter in the CLASSIC dialect — the exporter sees text/plain
    preferred, serves ms-timestamped classic text, and the
    classifier applies the ms unit; a default job against the same
    exporter negotiates OpenMetrics (epoch seconds). The knob that
    unblocks an exporter mis-serving OM, without code."""
    import http.server
    import threading

    from pyspark.sql import functions as F

    from shards_prometheus_spark.sources.scrape_config import (
        _accept_header,
        load_scrape_configs,
        scrape_job_stream,
    )

    # compiled Accept shapes (upstream's q-grading)
    assert _accept_header(["PrometheusText0.0.4"]) == (
        "text/plain;version=0.0.4;q=0.4,*/*;q=0.1"
    )
    assert _accept_header(
        ["OpenMetricsText1.0.0", "PrometheusText0.0.4"]
    ) == (
        "application/openmetrics-text;version=1.0.0;q=0.5,"
        "text/plain;version=0.0.4;q=0.4,*/*;q=0.1"
    )
    assert _accept_header(["NoSuchProtocol"]).startswith(
        "application/openmetrics-text;version=1.0.0;q=0.6,"
    )  # unknown-only falls back to the default list

    ts_ms = 1_700_000_000_123  # ms stamp; naive-seconds reads 1000x off
    om = (
        "# TYPE twin gauge\n"
        f"twin 7 {ts_ms / 1000:.3f}\n"
        "# EOF\n"
    ).encode()
    classic = f"twin 7 {ts_ms}\n".encode()

    class H(http.server.BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802
            accept = self.headers.get("Accept") or ""
            import re as _re

            def q_of(mtype: str) -> float:
                m = _re.search(
                    _re.escape(mtype) + r"[^,]*?;q=([0-9.]+)", accept
                )
                return float(m.group(1)) if m else 0.0

            if q_of("application/openmetrics-text") > q_of(
                "text/plain"
            ):
                body, ctype = om, (
                    "application/openmetrics-text; version=1.0.0"
                )
            else:
                body, ctype = classic, "text/plain; version=0.0.4"
            self.send_response(200)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):  # quiet
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    addr = f"127.0.0.1:{srv.server_address[1]}"
    queries = []
    try:
        yml = f"""
scrape_configs:
  - job_name: pinned
    scrape_interval: 5s
    scrape_protocols: [PrometheusText0.0.4]
    static_configs: [{{targets: ['{addr}']}}]
  - job_name: negotiated
    scrape_interval: 5s
    static_configs: [{{targets: ['{addr}']}}]
"""
        cfg = load_scrape_configs(yml)
        assert cfg.jobs[0].scrape_protocols == ["PrometheusText0.0.4"]
        assert cfg.jobs[0].request_headers() == {
            "Accept": "text/plain;version=0.0.4;q=0.4,*/*;q=0.1"
        }
        for i, job in enumerate(cfg.jobs):
            df = scrape_job_stream(spark, job, max_ticks=6)
            queries.append(
                df.writeStream.outputMode("append")
                .format("memory")
                .queryName(f"proto_scrape_{i}")
                .trigger(processingTime="1 second")
                .start()
            )

        def twin_rows(i: int):
            return (
                spark.table(f"proto_scrape_{i}")
                .filter(F.col("metric") == "twin")
                .select("ts_us")
                .collect()
            )

        deadline = time.time() + 240
        while time.time() < deadline and not (
            twin_rows(0) and twin_rows(1)
        ):
            time.sleep(0.5)
        assert twin_rows(0) and twin_rows(1), "loops produced no rows"
        # classic-only job: ms-unit classification of the exposed
        # timestamp — exactly the wire value in µs
        assert {r["ts_us"] for r in twin_rows(0)} == {ts_ms * 1000}
        # default job negotiated OM: epoch-seconds unit
        assert {r["ts_us"] for r in twin_rows(1)} == {
            int(ts_ms / 1000 * 1_000_000)
        }
    finally:
        for q in queries:
            q.stop()
        srv.shutdown()
        srv.server_close()


def test_dropped_targets_reported(spark):
    """`/api/v1/targets` reports relabel-dropped targets: each as its
    PRE-relabel discoveredLabels, with the public `state` parameter
    filtering the two lists and `keep_dropped_targets` capping the
    remembered set."""
    from shards_prometheus_spark.sources import MetricsExposer

    yml = """
global:
  keep_dropped_targets: 1
scrape_configs:
  - job_name: fleet
    static_configs:
      - targets: ['keep:9100']
        labels: {dc: eu}
      - targets: ['drop1:9100', 'drop2:9100']
        labels: {dc: us}
    relabel_configs:
      - action: drop
        source_labels: [dc]
        regex: us
"""
    ex = MetricsExposer(spark, SF_SMOKE, scrape_config=yml).start()
    base = f"http://{ex.host}:{ex.port}/api/v1/targets"
    try:
        def get(url: str) -> dict:
            with urllib.request.urlopen(url, timeout=120) as resp:
                return json.loads(resp.read())["data"]

        data = get(base)
        assert data["activeTargets"]  # the exposer's own entry
        # cap: two dropped by the rule, keep_dropped_targets: 1
        assert len(data["droppedTargets"]) == 1
        d = data["droppedTargets"][0]
        assert d["scrapePool"] == "fleet"
        # pre-relabel discovered set, __-internals included
        assert d["discoveredLabels"]["__address__"] == "drop1:9100"
        assert d["discoveredLabels"]["dc"] == "us"
        assert d["discoveredLabels"]["job"] == "fleet"
        assert d["discoveredLabels"]["__scheme__"] == "http"

        # the public state parameter
        assert get(base + "?state=active")["droppedTargets"] == []
        only_dropped = get(base + "?state=dropped")
        assert only_dropped["activeTargets"] == []
        assert len(only_dropped["droppedTargets"]) == 1
    finally:
        ex.stop()
