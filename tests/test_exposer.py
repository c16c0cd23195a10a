"""HTTP exposer parity test.

The reference's read path is an HTTP pull of the text exposition
format (prometheus.cpp:47,73,80). This test scrapes our exposer over
real HTTP and checks the payload equals the exposition relation.
"""

from __future__ import annotations

import urllib.request

from shards_prometheus_spark.sources import MetricsExposer, exposition_lines
from tests.conftest import SF_SMOKE


def test_http_scrape_serves_exposition_payload(spark):
    exposer = MetricsExposer(spark, SF_SMOKE).start()
    try:
        url = f"http://{exposer.host}:{exposer.port}/metrics"
        with urllib.request.urlopen(url, timeout=60) as resp:
            assert resp.status == 200
            assert resp.headers["Content-Type"].startswith("text/plain")
            body = resp.read().decode()
    finally:
        exposer.stop()
    want = sorted(
        r["line"] for r in exposition_lines(spark, SF_SMOKE).collect()
    )
    got = body.rstrip("\n").split("\n")
    assert got == want
    # the three kinds all expose
    assert any(l.startswith("# TYPE ") and l.endswith(" counter") for l in got)
    assert any("_bucket{le=" in l for l in got)


def test_404_on_other_paths(spark):
    exposer = MetricsExposer(spark, SF_SMOKE).start()
    try:
        url = f"http://{exposer.host}:{exposer.port}/other"
        try:
            urllib.request.urlopen(url, timeout=60)
            raised = False
        except urllib.error.HTTPError as e:
            raised = e.code == 404
        assert raised
    finally:
        exposer.stop()


def test_exposition_round_trip_recovers_snapshot(spark):
    """serialize → parse recovers the counter snapshot exactly (values
    survive the DECIMAL(28,4) text rendering bit-for-bit)."""
    from shards_prometheus_spark.operators.snapshot import scrape_snapshot
    from shards_prometheus_spark.sources.exposition import exposition_parse
    from tests.conftest import SF_SMOKE

    parsed = {
        (r["metric"], r["label_user"]): r["value"]
        for r in exposition_parse(spark, SF_SMOKE)
        .filter("stat = 'total'")
        .collect()
    }
    snap = {
        (r["metric"], r["label_user"]): r["value"]
        for r in scrape_snapshot(spark, SF_SMOKE)
        .filter("kind = 'counter'")
        .collect()
    }
    assert parsed == snap


def test_live_scrape_of_streaming_registry(spark):
    """End-to-end live registry: streaming counter totals land in a
    memory sink; the HTTP exposer renders THAT table per scrape
    (collect-on-scrape, like the reference's Registry::Collect behind
    prometheus.cpp:80); the scraped payload equals the batch counter
    snapshot rendered the same way."""
    from pyspark.sql import functions as F

    from shards_prometheus_spark.operators.counters import counter_sum
    from shards_prometheus_spark.streaming import (
        counter_totals_stream,
        run_to_memory,
        samples_stream,
        stream_events,
    )

    q = run_to_memory(
        counter_totals_stream(samples_stream(stream_events(spark, SF_SMOKE))),
        "live_registry_t",
    )
    q.awaitTermination(120)

    def live_lines():
        return spark.table("live_registry_t").select(
            F.concat(
                F.col("metric"),
                F.lit('_total{user="'),
                F.col("label_user"),
                F.lit('"} '),
                F.round("total", 4).cast("decimal(28,4)").cast("string"),
            ).alias("line")
        )

    exposer = MetricsExposer(spark, lines_fn=live_lines).start()
    try:
        import urllib.request

        url = f"http://{exposer.host}:{exposer.port}/metrics"
        with urllib.request.urlopen(url, timeout=60) as resp:
            body = resp.read().decode()
    finally:
        exposer.stop()
    want = sorted(
        f'{r["metric"]}_total{{user="{r["label_user"]}"}} {r["sum_value"]:.4f}'
        for r in counter_sum(spark, SF_SMOKE).collect()
    )
    assert body.splitlines() == want


def test_compact_rollup_preserves_reads(spark, tmp_path):
    """Compaction collapses partials without changing what readers see."""
    import os

    from shards_prometheus_spark.streaming import continuous_rollup, read_rollup
    from shards_prometheus_spark.streaming.ingest import samples_stream, stream_events
    from shards_prometheus_spark.streaming.rollup import compact_rollup

    out = str(tmp_path / "rollup_out")
    q = continuous_rollup(
        samples_stream(stream_events(spark, SF_SMOKE)),
        out,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    before = {tuple(r) for r in read_rollup(spark, out).collect()}
    compact_rollup(spark, out)
    after = {tuple(r) for r in read_rollup(spark, out).collect()}
    assert after == before
    assert not os.path.exists(out + ".compact.tmp")


def test_replayed_batch_after_compaction_not_double_counted(spark, tmp_path):
    """The double-count hole of naive dir compaction, pinned: a batch
    dir re-created AFTER its content was folded (an at-least-once
    replay whose original write landed but whose checkpoint commit did
    not) must be invisible to readers."""
    from shards_prometheus_spark.streaming import continuous_rollup, read_rollup
    from shards_prometheus_spark.streaming.ingest import (
        samples_stream,
        stream_events,
    )
    from shards_prometheus_spark.streaming.rollup import (
        _partials,
        compact_rollup,
    )

    out = str(tmp_path / "rollup_out")
    q = continuous_rollup(
        samples_stream(stream_events(spark, SF_SMOKE)),
        out,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    before = {tuple(r) for r in read_rollup(spark, out).collect()}
    compact_rollup(spark, out)

    # simulate the replay: the folded batch 0 reappears with real rows
    from pyspark.sql import functions as F

    from shards_prometheus_spark.model import samples

    _partials(
        samples(spark, SF_SMOKE).withColumn(
            "event_time", F.timestamp_micros(F.col("ts_us"))
        )
    ).write.mode("overwrite").parquet(out + "/batch_id=0")

    after = {tuple(r) for r in read_rollup(spark, out).collect()}
    assert after == before

    # and a second compaction folds cleanly on top
    compact_rollup(spark, out)
    assert {tuple(r) for r in read_rollup(spark, out).collect()} == before


def test_label_value_escaping_round_trip(spark):
    """Prometheus text-format escaping: backslash/quote/newline escape
    on write, exact inverse on parse — incl. the adversarial literal
    backslash-n, which must NOT round-trip to a newline."""
    from pyspark.sql import functions as F

    from shards_prometheus_spark.sources.exposition import (
        esc_label,
        unesc_label,
    )

    vals = ['plain', 'a"b', 'a\\b', 'a\nb', 'a\\nb', '\\"', '\\\\n']
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    out = df.select(
        "v",
        esc_label(F.col("v")).alias("esc"),
        unesc_label(esc_label(F.col("v"))).alias("rt"),
    ).collect()
    for r in out:
        assert r["rt"] == r["v"], (r["v"], r["esc"], r["rt"])
        # escaped form never contains a raw quote or newline
        assert '\n' not in r["esc"]
    esc_map = {r["v"]: r["esc"] for r in out}
    assert esc_map['a"b'] == 'a\\"b'
    assert esc_map['a\\b'] == 'a\\\\b'
    assert esc_map['a\nb'] == 'a\\nb'
    assert esc_map['a\\nb'] == 'a\\\\nb'


def test_openmetrics_dialect_round_trip(spark):
    """OpenMetrics payload: # HELP per family, # TYPE + samples, one
    # EOF terminator; the OM parser accepts exemplar-bearing counter
    lines and recovers EXACTLY the classic parser's typed relation."""
    from shards_prometheus_spark.sources.exposition import (
        exposition_parse,
        openmetrics_lines,
        openmetrics_parse,
    )

    lines = [
        r["line"]
        for r in openmetrics_lines(spark, SF_SMOKE).collect()
    ]
    helps = [l for l in lines if l.startswith("# HELP ")]
    types = [l for l in lines if l.startswith("# TYPE ")]
    assert len(helps) > 0 and len(types) > 0
    # one HELP per family, same family set as TYPE headers
    assert {h.split()[2] for h in helps} == {t.split()[2] for t in types}
    assert lines.count("# EOF") == 1

    key = lambda r: (
        r["metric"], r["kind"], r["stat"], r["label_user"], r["le"],
        r["value"],
    )
    om = sorted(map(key, openmetrics_parse(spark, SF_SMOKE).collect()))
    classic = sorted(
        map(key, exposition_parse(spark, SF_SMOKE).collect())
    )
    assert len(om) > 0
    assert om == classic


def test_openmetrics_text_section_order(spark):
    """Serialized OpenMetrics payloads must end with `# EOF` and put
    each family's HELP/TYPE before its samples (the relation itself is
    an unordered union — openmetrics_text applies the spec order)."""
    from shards_prometheus_spark.sources.exposition import (
        openmetrics_lines,
        openmetrics_text,
    )

    payload = openmetrics_text(openmetrics_lines(spark, SF_SMOKE))
    lines = payload.rstrip("\n").split("\n")
    assert lines[-1] == "# EOF"
    assert lines.count("# EOF") == 1
    seen_sample_of = set()
    meta_rank = {"# HELP ": 0, "# TYPE ": 1, "# UNIT ": 2}
    last_meta: dict = {}
    for ln in lines[:-1]:
        prefix = next((p for p in meta_rank if ln.startswith(p)), None)
        if prefix is not None:
            fam = ln.split(" ", 3)[2]
            assert fam not in seen_sample_of, (
                f"metadata for {fam} after its samples"
            )
            # within a family the metadata groups serialize in
            # HELP, TYPE, UNIT order (r9 adds the UNIT lines)
            assert meta_rank[prefix] >= last_meta.get(fam, -1), ln
            last_meta[fam] = meta_rank[prefix]
        else:
            name = ln.split("{", 1)[0].split(" ", 1)[0]
            import re

            seen_sample_of.add(
                re.sub(r"_(total|bucket|sum|count)$", "", name)
            )
    # every family carries UNIT metadata for each of its TYPE lines
    units = [ln for ln in lines if ln.startswith("# UNIT ")]
    types = [ln for ln in lines if ln.startswith("# TYPE ")]
    assert len(units) == len(types) > 0
    assert {u.split(" ")[2] for u in units} == set(last_meta)
    # r8: buckets serialize in ascending NUMERIC le order, +Inf last
    # and present (the OM-mandated bucket), never lexicographic
    import re as _re

    by_fam: dict = {}
    for ln in lines:
        m = _re.match(r'^(\w+)_bucket\{le="([^"]+)"\}', ln)
        if m:
            by_fam.setdefault(m.group(1), []).append(float(m.group(2)))
    assert by_fam
    for fam, les in by_fam.items():
        assert les == sorted(les), (fam, les)
        assert les[-1] == float("inf"), (fam, les)


def test_exemplar_strip_is_value_anchored(spark):
    """A label value legally containing ` # {` must survive exemplar
    stripping — the strip anchors after the sample value, not at the
    first ` # {` in the line."""
    from shards_prometheus_spark.sources.exposition import _EXEMPLAR_RE

    tricky = 'm_total{user="a # {weird"} 5.0000 # {trace_id="t"} 1.0 1.0'
    plain = 'm_total{user="a # {weird"} 5.0000'
    df = spark.createDataFrame(
        [(tricky,), (plain,), ("# EOF",)], "line string"
    )
    from pyspark.sql import functions as F

    got = sorted(
        r["line"]
        for r in df.select(
            F.regexp_replace("line", _EXEMPLAR_RE, "$1").alias("line")
        ).collect()
    )
    assert got == sorted([plain, plain, "# EOF"])


def test_http_scrape_serves_openmetrics(spark):
    """openmetrics=True serves the OM dialect over HTTP: the OM
    content type, HELP/TYPE per family before samples, `# EOF` as the
    final line — and a scraper's parse of the body recovers the same
    typed relation as the classic endpoint's."""
    import urllib.request

    from shards_prometheus_spark.sources.exposition import (
        MetricsExposer,
        _parse_payload,
        exposition_parse,
    )

    exp = MetricsExposer(spark, SF_SMOKE, openmetrics=True).start()
    try:
        with urllib.request.urlopen(
            f"http://{exp.host}:{exp.port}/metrics"
        ) as r:
            ctype = r.headers["Content-Type"]
            body = r.read().decode()
    finally:
        exp.stop()
    assert ctype.startswith("application/openmetrics-text")
    lines = body.rstrip("\n").split("\n")
    assert lines[-1] == "# EOF" and lines.count("# EOF") == 1
    assert any(l.startswith("# HELP ") for l in lines)

    key = lambda r: (
        r["metric"], r["kind"], r["stat"], r["label_user"], r["le"],
        r["value"],
    )
    got = sorted(
        map(
            key,
            _parse_payload(
                spark.createDataFrame(
                    [(l,) for l in lines], "line string"
                )
            ).collect(),
        )
    )
    want = sorted(map(key, exposition_parse(spark, SF_SMOKE).collect()))
    assert got and got == want


def test_live_streaming_openmetrics_two_micro_batches(spark, tmp_path):
    """VERDICT r7 #7: the OpenMetrics dialect served from a LIVE
    streaming registry — `openmetrics=True` and `lines_fn` together.
    The registry accumulates across TWO micro-batches; the scrape must
    carry the OM content type, spec section order, and a payload whose
    parsed samples equal the batch counter snapshot."""
    import urllib.request

    from pyspark.sql import functions as F

    from shards_prometheus_spark.model import samples
    from shards_prometheus_spark.operators.counters import counter_sum
    from shards_prometheus_spark.sources.exposition import (
        MetricsExposer,
        _OM_HELP,
        _dec,
        _parse_payload,
    )
    from shards_prometheus_spark.streaming import run_to_memory

    base = samples(spark, SF_SMOKE).select(
        "metric", "label_user", "ts_us", "value"
    )
    mid = base.approxQuantile("ts_us", [0.5], 0.0)[0]
    d = tmp_path / "lives"
    base.filter(F.col("ts_us") <= mid).coalesce(1).write.parquet(
        str(d / "p1")
    )
    base.filter(F.col("ts_us") > mid).coalesce(1).write.parquet(
        str(d / "p2")
    )
    stream = (
        spark.readStream.schema(
            "metric string, label_user string, ts_us long, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d / "p*"))
    )
    totals = (
        stream.filter(F.col("value") >= 0)
        .groupBy("metric", "label_user")
        .agg(F.round(F.sum("value"), 4).alias("total"))
    )
    # complete mode: the memory table IS the current registry
    q = run_to_memory(totals, "om_live_t", output_mode="complete")
    q.awaitTermination(120)
    n_batches = len(
        {p["batchId"] for p in (q.recentProgress or [])}
    )
    assert n_batches >= 2, f"expected >=2 micro-batches, got {n_batches}"

    def live_om_lines():
        t = spark.table("om_live_t")
        body = t.select(
            F.concat(
                F.col("metric"),
                F.lit('_total{user="'),
                F.col("label_user"),
                F.lit('"} '),
                _dec("total"),
            ).alias("line")
        )
        fams = t.select("metric").distinct()
        helps = fams.select(
            F.concat(F.lit("# HELP "), "metric", F.lit(_OM_HELP)).alias(
                "line"
            )
        )
        types = fams.select(
            F.concat(F.lit("# TYPE "), "metric", F.lit(" counter")).alias(
                "line"
            )
        )
        eof = t.sparkSession.range(1).select(F.lit("# EOF").alias("line"))
        return helps.unionByName(types).unionByName(body).unionByName(eof)

    exp = MetricsExposer(
        spark, lines_fn=live_om_lines, openmetrics=True
    ).start()
    try:
        with urllib.request.urlopen(
            f"http://{exp.host}:{exp.port}/metrics", timeout=60
        ) as r:
            ctype = r.headers["Content-Type"]
            text = r.read().decode()
    finally:
        exp.stop()
    assert ctype.startswith("application/openmetrics-text")
    lines = text.rstrip("\n").split("\n")
    # spec order: # EOF final and unique; each family's HELP/TYPE
    # precede every sample of that family
    assert lines[-1] == "# EOF" and lines.count("# EOF") == 1
    seen_sample_of = set()
    for ln in lines[:-1]:
        if ln.startswith("# HELP ") or ln.startswith("# TYPE "):
            fam = ln.split(" ", 3)[2]
            assert fam not in seen_sample_of, ln
        else:
            seen_sample_of.add(ln.split("_total", 1)[0])
    # batch equality: parsed payload == the batch counter snapshot
    parsed = {
        (r["metric"], r["label_user"], r["value"])
        for r in _parse_payload(
            spark.createDataFrame([(l,) for l in lines], "line string")
        ).collect()
    }
    want = {
        (r["metric"], r["label_user"], r["sum_value"])
        for r in counter_sum(spark, SF_SMOKE).collect()
    }
    assert parsed and parsed == want


def test_overflow_corpus_single_inf_bucket_line(spark, tmp_path):
    """A corpus with values ABOVE the top finite bound (500) must emit
    exactly ONE le="+Inf" bucket line per family — the count-derived
    leg. Before r9 the data-driven bucket leg also rendered the
    overflow bucket under the "+Inf" label, duplicating the series
    (illegal in both exposition dialects); sf0.001/sf0.01 fixtures max
    out at 490 so oracle parity could not catch it (ADVICE r8, high).
    DuckDB runs the identical oracle SQL over the same overflow corpus
    to pin both engines to the corrected single-+Inf rendering."""
    import duckdb
    import pandas as pd

    from shards_prometheus_spark.operators.histograms import BOUNDS
    from shards_prometheus_spark.sources.exposition import (
        _LINES_SQL,
        exposition_lines,
    )
    from shards_prometheus_spark.operators.tierc_common import clear_caches

    # 3 samples under the top bound, 2 OVERFLOW samples above it
    rows = pd.DataFrame(
        {
            "event_id": pd.array([1, 2, 3, 4, 5], dtype="int64"),
            "ts": pd.to_datetime(
                ["2025-01-01 00:00:0%d" % i for i in range(5)]
            ),
            "user_id": pd.array([7, 7, 8, 8, 9], dtype="int64"),
            "event_type": ["click"] * 5,
            "value": [1.5, 42.0, 499.9, 560.21, 777.0],
            "props": ['{"k": 0}'] * 5,
        }
    )
    sf_dir = str(tmp_path)
    spark.createDataFrame(rows).coalesce(1).write.mode("overwrite").parquet(
        f"{sf_dir}/_events_tmp"
    )
    import glob
    import shutil

    part = glob.glob(f"{sf_dir}/_events_tmp/part-*.parquet")[0]
    shutil.copy(part, f"{sf_dir}/events.parquet")

    lines = [r["line"] for r in exposition_lines(spark, sf_dir).collect()]
    clear_caches(spark)  # drop the tmp-dir memoized snapshot
    inf_lines = [l for l in lines if 'le="+Inf"' in l]
    assert inf_lines == ['click_bucket{le="+Inf"} 5']
    # the finite-bound legs stop at the top configured bound
    top = f"{BOUNDS[-1]:g}"
    assert f'click_bucket{{le="{top}"}} 3' in lines
    # DuckDB oracle over the same overflow corpus renders identically
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS "
        f"SELECT * FROM '{sf_dir}/events.parquet'"
    )
    oracle = sorted(r[0] for r in con.execute(_LINES_SQL).fetchall())
    assert sorted(lines) == oracle


# ---------------------------------------------------------------------------
# HTTP read API (/api/v1/query, /api/v1/query_range) — the paired
# server's query surface (sources/query_api.py); the reference's
# default endpoint IS that server's port 9090 (prometheus.cpp:47).
# ---------------------------------------------------------------------------


def _api_get(exposer, path_qs: str):
    import json
    import urllib.error

    url = f"http://{exposer.host}:{exposer.port}{path_qs}"
    try:
        with urllib.request.urlopen(url, timeout=120) as resp:
            return resp.status, json.loads(resp.read().decode())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read().decode())


def test_api_instant_query_round_trip(spark):
    """GET /api/v1/query returns the public vector JSON, value-equal
    to the evaluator's own instant relation; every sample is stamped
    with the evaluation time (data t_max when `time` is omitted)."""
    from urllib.parse import quote

    from shards_prometheus_spark.functions.promql_parser import (
        PromQLEvaluator,
    )

    expr = "sum by (user) (increase(click[720h]))"
    exposer = MetricsExposer(spark, SF_SMOKE).start()
    try:
        status, payload = _api_get(
            exposer, f"/api/v1/query?query={quote(expr)}"
        )
    finally:
        exposer.stop()
    assert status == 200 and payload["status"] == "success"
    data = payload["data"]
    assert data["resultType"] == "vector"
    ev = PromQLEvaluator.from_dir(spark, SF_SMOKE)
    want = {
        (tuple(sorted(r["labels"].items())), r["value"])
        for r in ev.eval_instant_map(expr).collect()
    }
    t_s = ev.eval_time_us() / 1e6
    got = set()
    for entry in data["result"]:
        ts, val = entry["value"]
        assert ts == t_s
        got.add((tuple(sorted(entry["metric"].items())), float(val)))
    assert got == want and len(got) > 0


def test_api_range_query_round_trip(spark):
    """GET /api/v1/query_range renders the upstream start-inclusive
    grid as the public matrix JSON: per-series values at each grid
    instant, pinned at end = the requested end timestamp."""
    from urllib.parse import quote

    from shards_prometheus_spark.functions.promql_parser import (
        PromQLEvaluator,
    )

    h_us = 3_600_000_000
    ev = PromQLEvaluator.from_dir(spark, SF_SMOKE)
    end_us = ev.eval_time_us()
    expr = "sum by (user) (count_over_time(click[240h]))"
    qs = (
        f"/api/v1/query_range?query={quote(expr)}"
        f"&start={(end_us - 240 * h_us) / 1e6}"
        f"&end={end_us / 1e6}&step=24h"
    )
    exposer = MetricsExposer(spark, SF_SMOKE).start()
    try:
        status, payload = _api_get(exposer, qs)
    finally:
        exposer.stop()
    assert status == 200 and payload["status"] == "success"
    data = payload["data"]
    assert data["resultType"] == "matrix"
    want: dict[tuple, list] = {}
    rows = ev.eval_range_map_at(
        expr, end_us - 240 * h_us, end_us, 24 * h_us
    ).collect()
    for r in sorted(rows, key=lambda r: r["ts_us"]):
        want.setdefault(tuple(sorted(r["labels"].items())), []).append(
            [r["ts_us"] / 1e6, r["value"]]
        )
    got = {
        tuple(sorted(entry["metric"].items())): [
            [ts, float(v)] for ts, v in entry["values"]
        ]
        for entry in data["result"]
    }
    assert got == want and len(got) > 0


def test_api_scalar_and_errors(spark):
    """resultType: scalar for pure-scalar queries; the public error
    envelope (400 bad_data) for a missing parameter, an unparsable
    query, and an inverted range; 404 for unknown API paths."""
    exposer = MetricsExposer(spark, SF_SMOKE).start()
    try:
        status, payload = _api_get(exposer, "/api/v1/query?query=1%2B2")
        assert status == 200
        assert payload["data"]["resultType"] == "scalar"
        ts, val = payload["data"]["result"]
        assert val == "3" and ts > 0
        for path_qs in (
            "/api/v1/query",  # missing query param
            "/api/v1/query?query=rate(click)",  # parse error
            "/api/v1/query_range?query=click&start=9&end=3&step=1",
        ):
            status, payload = _api_get(exposer, path_qs)
            assert status == 400
            assert payload["status"] == "error"
            assert payload["errorType"] == "bad_data"
        status, payload = _api_get(exposer, "/api/v1/nope?query=x")
        assert status == 404 and payload["errorType"] == "not_found"
    finally:
        exposer.stop()


def test_api_metadata_endpoints_and_post(spark):
    """/api/v1/series, /api/v1/labels, /api/v1/label/<n>/values — the
    store-browsing endpoints Grafana calls before any query — plus a
    form-encoded POST (the public API accepts both verbs)."""
    from urllib.parse import quote, urlencode

    from shards_prometheus_spark.functions.promql_parser import (
        PromQLEvaluator,
    )
    from shards_prometheus_spark.model import samples_multi

    exposer = MetricsExposer(spark, SF_SMOKE).start()
    try:
        sel = 'click{shard="0"}'
        status, payload = _api_get(
            exposer, f"/api/v1/series?match[]={quote(sel)}"
        )
        assert status == 200
        got = payload["data"]
        assert got and all(
            s["__name__"] == "click" and s["shard"] == "0" for s in got
        )
        rows = (
            samples_multi(spark, SF_SMOKE)
            .filter("metric = 'click'")
            .filter("element_at(labels, 'shard') = '0'")
            .selectExpr(
                "element_at(labels, 'user') AS user",
                "element_at(labels, 'shard') AS shard",
            )
            .distinct()
            .collect()
        )
        want = [
            {"__name__": "click", "user": r["user"], "shard": r["shard"]}
            for r in rows
        ]
        assert sorted(got, key=str) == sorted(want, key=str)

        status, payload = _api_get(exposer, "/api/v1/labels")
        assert status == 200
        assert payload["data"] == ["__name__", "shard", "user"]

        status, payload = _api_get(
            exposer, "/api/v1/label/__name__/values"
        )
        metrics = {
            r["metric"]
            for r in samples_multi(spark, SF_SMOKE)
            .select("metric")
            .distinct()
            .collect()
        }
        assert payload["data"] == sorted(metrics)

        # series without match[] is a public bad_data error
        status, payload = _api_get(exposer, "/api/v1/series")
        assert status == 400 and payload["errorType"] == "bad_data"

        # POST round-trips the same instant query as GET
        import json
        import urllib.request

        body = urlencode({"query": "1+2"}).encode()
        req = urllib.request.Request(
            f"http://{exposer.host}:{exposer.port}/api/v1/query",
            data=body,
            method="POST",
        )
        with urllib.request.urlopen(req, timeout=120) as resp:
            posted = json.loads(resp.read().decode())
        assert posted["data"]["resultType"] == "scalar"
        assert posted["data"]["result"][1] == "3"
    finally:
        exposer.stop()


def test_parse_label_str_inverse_of_label_str(spark):
    """parse_label_str must invert the canonical rendering exactly,
    escapes included."""
    from pyspark.sql import functions as F

    from shards_prometheus_spark.functions.labelset import label_str
    from shards_prometheus_spark.sources.query_api import parse_label_str

    cases = [
        {"user": "7", "shard": "2"},
        {"a": "b,c=d", "c": "d"},          # the injectivity case
        {"k": 'v"w\\x', "e=q": "p,q"},     # escapes in keys and values
        {},
    ]
    df = spark.createDataFrame(
        [(c,) for c in cases], "m map<string,string>"
    ).select(label_str(F.col("m")).alias("s"))
    rendered = [r["s"] for r in df.collect()]
    for want, s in zip(cases, rendered):
        assert parse_label_str(s) == want, (s, want)


def test_api_rules_alerts_metadata_buildinfo(spark):
    """/api/v1/rules, /api/v1/alerts, /api/v1/metadata,
    /api/v1/status/buildinfo — the rule-state and metadata surface.
    The built-in groups' alerts must equal the batch rule evaluators'
    firing sets exactly — alertname, labels AND value — and the rule
    listing keeps its group order and every rule's definition."""
    from shards_prometheus_spark.operators import rules as R
    from shards_prometheus_spark.sources.query_api import (
        _fmt_value,
        parse_label_str,
    )

    exposer = MetricsExposer(spark, SF_SMOKE).start()
    try:
        status, payload = _api_get(exposer, "/api/v1/alerts")
        assert status == 200
        got = {
            (
                e["labels"]["alertname"],
                tuple(
                    sorted(
                        (k, v)
                        for k, v in e["labels"].items()
                        if k != "alertname"
                    )
                ),
                e["value"],
            )
            for e in payload["data"]["alerts"]
        }
        assert len(got) == len(payload["data"]["alerts"])
        assert all(
            e["state"] == "firing" for e in payload["data"]["alerts"]
        )
        want = set()
        for fn in (
            R.alert_rules,
            R.alert_rules_for,
            R.alert_rules_keep_firing,
        ):
            for r in fn(spark, SF_SMOKE).collect():
                want.add((
                    r["alertname"],
                    tuple(sorted(parse_label_str(r["labels"]).items())),
                    _fmt_value(r["value"]),
                ))
        for r in R.rules_chained(spark, SF_SMOKE).collect():
            if r["rule"] == "AboveAverageDailyClickRate":
                want.add((
                    r["rule"],
                    tuple(sorted(parse_label_str(r["labels"]).items())),
                    _fmt_value(r["value"]),
                ))
        assert got == want and len(got) > 0

        # every rule's definition, in group order: (type, name, query,
        # duration, keepFiringFor) — hold durations in seconds
        def alerting(name, expr, for_us=0, keep_us=0):
            return ("alerting", name, expr, for_us / 1e6, keep_us / 1e6)

        want_groups = [
            (
                "recording",
                [
                    ("recording", n, e, None, None)
                    for n, e in R.RECORDING_RULES
                ],
            ),
            (
                "recording_chained",
                [
                    ("recording", n, e, None, None)
                    if kind == "record"
                    else alerting(n, e)
                    for kind, n, e in R.CHAINED_RULE_GROUP
                ],
            ),
            ("alerts", [alerting(n, e) for n, e in R.ALERT_RULES]),
            (
                "alerts_for",
                [alerting(n, e, f) for n, e, f, _s in R.ALERT_FOR_RULES],
            ),
            (
                "alerts_keep_firing",
                [
                    alerting(n, e, f, k)
                    for n, e, f, k, _s in R.ALERT_KEEP_RULES
                ],
            ),
        ]

        def definition(rule: dict) -> tuple:
            if rule["type"] == "recording":
                return (
                    rule["type"],
                    rule["name"],
                    rule["query"],
                    rule.get("duration"),
                    rule.get("keepFiringFor"),
                )
            return (
                rule["type"],
                rule["name"],
                rule["query"],
                rule.get("duration", 0.0),
                rule.get("keepFiringFor", 0.0),
            )

        status, payload = _api_get(
            exposer, "/api/v1/rules?exclude_alerts=true"
        )
        assert status == 200
        assert [
            (g["name"], [definition(r) for r in g["rules"]])
            for g in payload["data"]["groups"]
        ] == want_groups
        for g in payload["data"]["groups"]:
            for rule in g["rules"]:
                assert "alerts" not in rule and rule["query"]

        status, payload = _api_get(exposer, "/api/v1/rules")
        assert status == 200
        assert [
            (g["name"], [definition(r) for r in g["rules"]])
            for g in payload["data"]["groups"]
        ] == want_groups
        rules = [
            r
            for g in payload["data"]["groups"]
            for r in g["rules"]
            if r["type"] == "alerting"
        ]
        firing_names = {e[0] for e in want}
        served = set()
        for r in rules:
            assert r["state"] == (
                "firing" if r["name"] in firing_names else "inactive"
            )
            assert {a["labels"]["alertname"] for a in r["alerts"]} <= {
                r["name"]
            }
            for a in r["alerts"]:
                served.add((
                    a["labels"]["alertname"],
                    tuple(
                        sorted(
                            (k, v)
                            for k, v in a["labels"].items()
                            if k != "alertname"
                        )
                    ),
                    a["value"],
                ))
        assert served == want

        status, payload = _api_get(exposer, "/api/v1/metadata")
        meta = payload["data"]
        assert "click" in meta
        assert {m["type"] for m in meta["click"]} == {
            "counter",
            "gauge",
            "histogram",
        }
        assert all(m["unit"] and m["help"] for m in meta["click"])

        status, payload = _api_get(exposer, "/api/v1/status/buildinfo")
        assert status == 200 and payload["data"]["version"]
    finally:
        exposer.stop()


def test_api_instant_matrix_and_string_results(spark):
    """The two remaining instant resultTypes: a bare range selector
    answers with the RAW samples as a matrix (the Prometheus UI debug
    view), a string literal with resultType: string."""
    from urllib.parse import quote

    from shards_prometheus_spark.functions.promql_parser import (
        PromQLEvaluator,
    )
    from shards_prometheus_spark.model import samples_multi

    exposer = MetricsExposer(spark, SF_SMOKE).start()
    try:
        status, payload = _api_get(
            exposer, f"/api/v1/query?query={quote('click[720h]')}"
        )
        assert status == 200
        data = payload["data"]
        assert data["resultType"] == "matrix"
        got = {
            (tuple(sorted(e["metric"].items())), ts, float(v))
            for e in data["result"]
            for ts, v in e["values"]
        }
        ev = PromQLEvaluator(samples_multi(spark, SF_SMOKE))
        want = {
            (
                tuple(sorted(dict(r["labels"]).items())),
                r["ts_us"] / 1e6,
                r["value"],
            )
            for r in ev.eval_raw_matrix("click[720h]").collect()
        }
        assert got == want and len(got) > 0
        # values inside each series are time-ordered
        for e in data["result"]:
            ts_list = [ts for ts, _v in e["values"]]
            assert ts_list == sorted(ts_list)

        status, payload = _api_get(
            exposer, '/api/v1/query?query=%22hello%20world%22'
        )
        assert status == 200
        assert payload["data"]["resultType"] == "string"
        assert payload["data"]["result"][1] == "hello world"
    finally:
        exposer.stop()


def test_api_cors_and_limit(spark):
    """The public surface details a browser dashboard needs: CORS-open
    JSON responses, and the `limit` parameter truncating metadata
    results with the public warning."""
    import json
    import urllib.request

    exposer = MetricsExposer(spark, SF_SMOKE).start()
    try:
        url = (
            f"http://{exposer.host}:{exposer.port}"
            "/api/v1/label/user/values"
        )
        with urllib.request.urlopen(url, timeout=120) as resp:
            assert resp.headers["Access-Control-Allow-Origin"] == "*"
            full = json.loads(resp.read().decode())["data"]
        assert len(full) > 2
        with urllib.request.urlopen(url + "?limit=2", timeout=120) as resp:
            payload = json.loads(resp.read().decode())
        assert payload["data"] == full[:2]
        assert payload["warnings"] == ["results truncated due to limit"]
        # a limit above the result size neither truncates nor warns
        with urllib.request.urlopen(
            url + f"?limit={len(full) + 5}", timeout=120
        ) as resp:
            payload = json.loads(resp.read().decode())
        assert payload["data"] == full and "warnings" not in payload
    finally:
        exposer.stop()


def test_api_user_rule_file_served(spark):
    """MetricsExposer(rule_file=...) serves the USER's rules.yml on
    /api/v1/rules and /api/v1/alerts — definitions straight from the
    YAML, firing state from eval_rule_file (chaining + holds)."""
    from shards_prometheus_spark.operators.rules import (
        DEMO_RULE_FILE,
        rules_from_file,
    )
    from shards_prometheus_spark.sources.query_api import parse_label_str

    exposer = MetricsExposer(
        spark, SF_SMOKE, rule_file=DEMO_RULE_FILE
    ).start()
    try:
        status, payload = _api_get(
            exposer, "/api/v1/rules?exclude_alerts=true"
        )
        assert status == 200
        groups = {g["name"]: g for g in payload["data"]["groups"]}
        assert set(groups) == {"layered", "holds"}
        assert groups["layered"]["interval"] == 86400.0
        layered = {r["name"]: r for r in groups["layered"]["rules"]}
        assert layered["user:click:rate720h:daily"]["labels"] == {
            "tier": "daily"
        }
        hold = groups["holds"]["rules"][0]
        assert hold["duration"] == 3 * 86400.0
        assert "alerts" not in hold  # exclude_alerts honored

        status, payload = _api_get(exposer, "/api/v1/alerts")
        got = {
            (
                e["labels"]["alertname"],
                tuple(
                    sorted(
                        (k, v)
                        for k, v in e["labels"].items()
                        if k != "alertname"
                    )
                ),
            )
            for e in payload["data"]["alerts"]
        }
        want = {
            (r["rule"], tuple(sorted(parse_label_str(r["labels"]).items())))
            for r in rules_from_file(spark, SF_SMOKE).collect()
            if r["kind"] == "alert"
        }
        assert got == want and len(got) > 0
    finally:
        exposer.stop()


TEMPLATED_RULE_FILE = """
groups:
  - name: paging
    interval: 1d
    rules:
      - alert: HighClickVolume
        expr: >-
          sum by (user) (increase(click[720h])) >
          scalar(avg(sum by (user) (increase(click[720h]))))
        labels:
          severity: page
          team: "user-{{ $labels.user }}"
        annotations:
          summary: >-
            User {{ $labels.user }} clicked {{ $value }} times
            ({{ humanize $value }}, piped {{ $value | humanize }})
          ratio: "{{ humanizePercentage $value }}"
          opaque: "{{ $externalLabels.cluster }} stays verbatim"
"""


def test_api_alert_templating_and_rule_labels(spark):
    """Rule-file-backed alerts serve RENDERED annotations per firing
    series ({{ $labels.x }} and {{ $value }} substituted, humanize in
    call and pipe form) and merge the rule's static labels into the
    alert's label set (rule overrides series, part of alert identity
    upstream); unknown template actions pass through verbatim."""
    from shards_prometheus_spark.operators.rules import (
        humanize,
        humanize_percentage,
    )

    exposer = MetricsExposer(
        spark, SF_SMOKE, rule_file=TEMPLATED_RULE_FILE
    ).start()
    try:
        status, payload = _api_get(exposer, "/api/v1/alerts")
        assert status == 200
        alerts = payload["data"]["alerts"]
        assert len(alerts) > 0
        for a in alerts:
            labels = a["labels"]
            user = labels["user"]
            val = float(a["value"])
            vstr = repr(val)
            vstr = vstr[:-2] if vstr.endswith(".0") else vstr
            # static labels merged + templated
            assert labels["severity"] == "page"
            assert labels["team"] == f"user-{user}"
            # annotations rendered per firing series
            ann = a["annotations"]
            assert ann["summary"] == (
                f"User {user} clicked {vstr} times"
                f" ({humanize(val)}, piped {humanize(val)})"
            )
            assert ann["ratio"] == humanize_percentage(val)
            # unknown action untouched
            assert ann["opaque"] == (
                "{{ $externalLabels.cluster }} stays verbatim"
            )
        # /api/v1/rules carries the same rendered active alerts
        status, payload = _api_get(exposer, "/api/v1/rules")
        (group,) = payload["data"]["groups"]
        (rule,) = group["rules"]
        assert rule["state"] == "firing"
        assert {
            (a["labels"]["team"], a["annotations"]["ratio"])
            for a in rule["alerts"]
        } == {
            (a["labels"]["team"], a["annotations"]["ratio"])
            for a in alerts
        }
    finally:
        exposer.stop()


def test_federate_endpoint_prunes_by_match(spark):
    """GET /federate?match[]=… serves the classic text dump pruned to
    the matched series, BYTE-identical to exposition_lines filtered
    to the selectors: TYPE headers for matched families included,
    click's label-less histogram series pruned (its selector's
    matchers reject the empty label set), view federated across all
    three kinds with buckets. No match[] → 400, as upstream."""
    import re
    import urllib.request
    from urllib.parse import quote

    exposer = MetricsExposer(spark, SF_SMOKE).start()
    try:
        sel = quote('click{user=~"[0-3].*"}')
        url = (
            f"http://{exposer.host}:{exposer.port}/federate"
            f"?match[]={sel}&match[]=view"
        )
        with urllib.request.urlopen(url, timeout=120) as resp:
            assert resp.status == 200
            assert resp.headers["Content-Type"].startswith(
                "text/plain; version=0.0.4"
            )
            body = resp.read().decode()
        # expected: exposition_lines filtered to the two selectors
        all_lines = [
            r["line"]
            for r in exposition_lines(spark, SF_SMOKE).collect()
        ]

        def keep(line: str) -> bool:
            if line.startswith("# TYPE view ") or line.startswith(
                "# TYPE click "
            ):
                # click's histogram family has NO matched series
                return line != "# TYPE click histogram"
            m = re.match(r'click(?:_total)?\{user="([0-3][^"]*)"\}', line)
            if m:
                return True
            return bool(
                re.match(r"view(_total|_bucket|_sum|_count|\{| )", line)
            )

        want = sorted(ln for ln in all_lines if keep(ln))
        assert body == "\n".join(want) + "\n"
        assert any(ln.startswith("# TYPE view histogram") for ln in want)
        assert any("_bucket" in ln for ln in want)
        # no match[] → 400
        import urllib.error

        try:
            urllib.request.urlopen(
                f"http://{exposer.host}:{exposer.port}/federate",
                timeout=60,
            )
            raise AssertionError("expected HTTP 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
            assert b"no match[]" in e.read()
    finally:
        exposer.stop()


def test_rule_group_limit_enforced(spark):
    """Upstream's group-level `limit:`: a rule yielding more series
    than the cap errors that group's evaluation with the documented
    'exceeded limit of X with Y series' failure; the same group under
    a sufficient limit evaluates normally. The probe is a plan-level
    LIMIT cap+1 count, so the error reports cap+1, not the full
    (possibly enormous) cardinality."""
    import pytest as _pytest

    from shards_prometheus_spark.model import samples_multi
    from shards_prometheus_spark.operators.rules import (
        RuleLimitError,
        eval_rule_file,
        load_rule_groups,
    )

    yml = """
groups:
  - name: capped
    interval: 1d
    limit: 2
    rules:
      - record: user:click:count720h
        expr: count_over_time(click[720h])
"""
    samples = samples_multi(spark, SF_SMOKE)
    assert load_rule_groups(yml)[0]["limit"] == 2
    with _pytest.raises(RuleLimitError, match=r"exceeded limit of 2 with 3 series"):
        eval_rule_file(samples, yml)
    roomy = yml.replace("limit: 2", "limit: 100000")
    rows = eval_rule_file(samples, roomy).collect()
    assert len(rows) > 2  # same group, sufficient cap: evaluates
    # alert rules are capped too
    alert_yml = """
groups:
  - name: capped_alerts
    interval: 1d
    limit: 1
    rules:
      - alert: EveryClickSeries
        expr: count_over_time(click[720h]) > 0
"""
    with _pytest.raises(RuleLimitError, match=r"exceeded limit of 1 with 2 series"):
        eval_rule_file(samples, alert_yml)


def test_humanize_matches_upstream_forms():
    """humanize/humanizePercentage pin upstream's %.4g + SI scaling."""
    from shards_prometheus_spark.operators.rules import (
        humanize,
        humanize_percentage,
        render_template,
    )

    assert humanize(0) == "0"
    assert humanize(1500) == "1.5k"
    assert humanize(2_500_000) == "2.5M"
    assert humanize(0.0005) == "500u"
    assert humanize(0.25) == "250m"
    assert humanize(float("inf")) == "+Inf"  # Go's %.4g spelling
    assert humanize(float("nan")) == "NaN"
    assert humanize_percentage(0.1234) == "12.34%"
    assert render_template(
        "{{ $labels.missing }}|{{ $value }}", {}, 2.0
    ) == "|2"
    assert render_template("{{- $value -}}", {}, 3.5) == "3.5"


def test_api_concurrent_requests(spark):
    """ThreadingHTTPServer + one shared SparkSession: 10 parallel
    mixed-endpoint requests must all answer correctly. Two are
    SUBQUERY queries at the default time — the request shape that
    raced when a single default evaluator was shared across handler
    threads (plan construction mutates _gridf/_gspan; fresh
    per-request evaluators via the from_dir t_max memo fixed it)."""
    import json
    import urllib.request
    from concurrent.futures import ThreadPoolExecutor
    from urllib.parse import quote

    subq = quote("max_over_time(sum(count_over_time(click[48h]))[240h:24h])")
    exposer = MetricsExposer(spark, SF_SMOKE).start()
    try:
        paths = [
            "/api/v1/query?query=1%2B2",
            f"/api/v1/query?query={quote('sum by (user) (count_over_time(click[720h]))')}",
            "/api/v1/labels",
            "/api/v1/label/__name__/values",
            "/api/v1/status/buildinfo",
            f"/api/v1/series?match[]={quote('click')}",
            "/api/v1/query?query=time()",
            "/api/v1/metadata",
            f"/api/v1/query?query={subq}",
            f"/api/v1/query?query={subq}",
        ]

        def get(p):
            url = f"http://{exposer.host}:{exposer.port}{p}"
            with urllib.request.urlopen(url, timeout=180) as resp:
                return json.loads(resp.read().decode())

        with ThreadPoolExecutor(max_workers=len(paths)) as pool:
            results = list(pool.map(get, paths))
        assert all(r["status"] == "success" for r in results)
        assert results[0]["data"]["result"][1] == "3"
        assert len(results[1]["data"]["result"]) > 0
        assert "user" in results[2]["data"]
        assert "click" in results[3]["data"]
        # the two concurrent subquery answers agree with each other
        # and are non-degenerate (the race produced wrong-grid plans)
        assert results[8]["data"] == results[9]["data"]
        assert len(results[8]["data"]["result"]) == 1
    finally:
        exposer.stop()


def test_api_range_grid_aligned_to_start(spark):
    """An UNALIGNED query_range request gets exactly the request's
    own arithmetic sequence of timestamps — start, start+step, …,
    ≤ end, START INCLUDED — upstream's grid, not the epoch-aligned
    internal one (the r9-documented divergence, now closed). Pinned
    with a scalar query so every instant materializes a row."""
    from urllib.parse import quote

    from shards_prometheus_spark.functions.promql_parser import (
        PromQLEvaluator,
    )

    end_us = PromQLEvaluator.from_dir(spark, SF_SMOKE).eval_time_us()
    # deliberately unaligned: start shifted off any step multiple,
    # and (end - start) NOT a multiple of step → last point < end
    start_us = end_us - 100_000_000_000 + 1_234_567
    step_us = 7_000_000_000
    qs = (
        "/api/v1/query_range?query=time()%2B0"
        f"&start={start_us / 1e6}&end={end_us / 1e6}"
        f"&step={step_us / 1e6}"
    )
    exposer = MetricsExposer(spark, SF_SMOKE).start()
    try:
        status, payload = _api_get(exposer, qs)
    finally:
        exposer.stop()
    assert status == 200 and payload["status"] == "success"
    (series,) = payload["data"]["result"]
    got = [ts for ts, _v in series["values"]]
    n = (end_us - start_us) // step_us
    want = [(start_us + k * step_us) / 1e6 for k in range(n + 1)]
    assert got == want
    assert got[0] == start_us / 1e6  # start itself evaluates
    assert got[-1] < end_us / 1e6  # unaligned span: last point < end
    q = quote("sum by (user) (count_over_time(click[240h]))")
    qs = (
        f"/api/v1/query_range?query={q}"
        f"&start={start_us / 1e6}&end={end_us / 1e6}"
        f"&step={step_us / 1e6}"
    )
    exposer = MetricsExposer(spark, SF_SMOKE).start()
    try:
        status, payload = _api_get(exposer, qs)
    finally:
        exposer.stop()
    assert status == 200
    for series in payload["data"]["result"]:
        assert all(ts in set(want) for ts, _v in series["values"])
    assert payload["data"]["result"]  # vectors populate the grid too


def test_api_max_samples_guard(spark):
    """The public `--query.max-samples` guard: a cap-exceeding query
    answers the 422 execution envelope ('would load too many
    samples'); the SAME query under a higher cap succeeds; and the
    cap is a plan-level CollectLimit probe, not a post-collect length
    check on an unbounded fetch."""
    from urllib.parse import quote

    from shards_prometheus_spark.functions.promql_parser import (
        PromQLEvaluator,
    )
    from shards_prometheus_spark.sources.query_api import _guard_probe

    # high-cardinality instant vector (114 series at sf0.001; the
    # bare `click` selector is EMPTY inside the staleness window)
    q = quote("count_over_time(click[720h])")
    exposer = MetricsExposer(spark, SF_SMOKE, max_samples=3).start()
    try:
        status, payload = _api_get(exposer, f"/api/v1/query?query={q}")
        # the per-series raw-matrix debug view is capped too
        status2, payload2 = _api_get(
            exposer, f"/api/v1/query?query={quote('click[720h]')}"
        )
        # range queries go through the same guard
        end_us = PromQLEvaluator.from_dir(spark, SF_SMOKE).eval_time_us()
        status3, payload3 = _api_get(
            exposer,
            f"/api/v1/query_range?query={q}"
            f"&start={(end_us - 864_000_000_000) / 1e6}"
            f"&end={end_us / 1e6}&step=24h",
        )
    finally:
        exposer.stop()
    for st, pl in ((status, payload), (status2, payload2), (status3, payload3)):
        assert st == 422
        assert pl["errorType"] == "execution"
        assert "would load too many samples" in pl["error"]
    exposer = MetricsExposer(spark, SF_SMOKE, max_samples=100_000).start()
    try:
        status, payload = _api_get(exposer, f"/api/v1/query?query={q}")
    finally:
        exposer.stop()
    assert status == 200 and len(payload["data"]["result"]) > 0
    # the guard is IN the plan: LIMIT cap+1 compiles to CollectLimit
    ev = PromQLEvaluator.from_dir(spark, SF_SMOKE)
    probed = _guard_probe(
        ev.eval_instant_map("count_over_time(click[720h])"), 3
    )
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "CollectLimit 4" in plan


def test_api_query_timeout(spark):
    """The public `--query.timeout` guard: a request overrunning the
    deadline answers 503 with errorType `timeout` and upstream's
    message; a generous timeout leaves the same query untouched."""
    from urllib.parse import quote

    q = quote("count_over_time(click[720h])")
    exposer = MetricsExposer(
        spark, SF_SMOKE, query_timeout_s=1e-6
    ).start()
    try:
        status, payload = _api_get(exposer, f"/api/v1/query?query={q}")
    finally:
        exposer.stop()
    assert status == 503
    assert payload["errorType"] == "timeout"
    assert payload["error"] == "query timed out in expression evaluation"
    exposer = MetricsExposer(spark, SF_SMOKE, query_timeout_s=600).start()
    try:
        status, payload = _api_get(exposer, f"/api/v1/query?query={q}")
    finally:
        exposer.stop()
    assert status == 200 and len(payload["data"]["result"]) > 0


def test_api_param_hygiene_bad_data(spark):
    """Degenerate public inputs answer 400 bad_data, not a 422 from
    the raised Python error: a '0s' step (ZeroDivisionError in the
    grid arithmetic), a negative duration-string step, and a
    non-finite time value (OverflowError in int(inf*1e6))."""
    exposer = MetricsExposer(spark, SF_SMOKE).start()
    try:
        for path_qs in (
            "/api/v1/query_range?query=click&start=1&end=9&step=0s",
            "/api/v1/query_range?query=click&start=1&end=9&step=0",
            "/api/v1/query?query=click&time=inf",
            "/api/v1/query?query=click&time=nan",
            "/api/v1/query_range?query=click&start=inf&end=9&step=1",
        ):
            status, payload = _api_get(exposer, path_qs)
            assert status == 400, path_qs
            assert payload["errorType"] == "bad_data", path_qs
    finally:
        exposer.stop()


def test_openmetrics_exemplars_relation(spark):
    """The exemplar side relation keeps what the scraper used to
    discard: one row per exemplar-bearing counter sample, trace_id
    derived from the series' user label and value/ts from the
    sample's rendered value (the fixture decoration's contract)."""
    from shards_prometheus_spark.operators.counters import counter_sum
    from shards_prometheus_spark.sources.exposition import (
        openmetrics_exemplars,
    )

    rows = openmetrics_exemplars(spark, SF_SMOKE).collect()
    assert len(rows) > 0
    c_rows = [r for r in rows if r["le"] is None]
    b_rows = [r for r in rows if r["le"] is not None]
    # exactly one exemplar per counter series
    counters = counter_sum(spark, SF_SMOKE).collect()
    assert len(c_rows) == len(counters)
    by_series = {
        (r["metric"], r["label_user"]): r for r in c_rows
    }
    for c in counters:
        r = by_series[(c["metric"], c["label_user"])]
        assert r["trace_id"] == f"t-{c['label_user']}"
        # value and ts both derive from the rendered sample value
        assert r["ex_value"] == r["ex_ts"]
        assert abs(r["ex_value"] - c["sum_value"]) < 1e-3
    # and one exemplar per histogram BUCKET line (the second legal
    # OM exemplar position), trace derived from the le bound
    from shards_prometheus_spark.sources.exposition import (
        openmetrics_lines,
    )
    import re as _re

    n_bucket_lines = sum(
        1
        for r in openmetrics_lines(spark, SF_SMOKE).collect()
        if _re.match(r'[A-Za-z_:][A-Za-z0-9_:]*_bucket\{', r["line"])
    )
    assert len(b_rows) == n_bucket_lines > 0
    for r in b_rows:
        assert r["metric"].endswith("_bucket")
        assert r["label_user"] is None
        assert r["trace_id"] == f"b-{r['le']}"
        assert r["ex_value"] == r["ex_ts"]


def test_api_query_exemplars_roundtrip(spark):
    """GET /api/v1/query_exemplars serves the public envelope —
    seriesLabels (incl. __name__) + per-series exemplars sorted by
    timestamp — equal to the exemplar relation filtered by the
    selector and [start, end]; missing params answer 400."""
    from urllib.parse import quote

    from shards_prometheus_spark.sources.exposition import (
        openmetrics_exemplars,
    )

    ex_rows = openmetrics_exemplars(spark, SF_SMOKE).collect()
    all_ts = sorted(r["ex_ts"] for r in ex_rows)
    # a window that splits the exemplars, pinning the time filter
    cut = all_ts[len(all_ts) // 2]
    sel = 'click{user=~"[0-3].*"}'
    want = {
        (r["metric"], r["label_user"], r["trace_id"], r["ex_value"])
        for r in ex_rows
        if r["metric"] == "click"
        and r["label_user"] is not None
        and r["label_user"][:1] in "0123"
        and 0 <= r["ex_ts"] <= cut
    }
    exposer = MetricsExposer(spark, SF_SMOKE).start()
    try:
        status, payload = _api_get(
            exposer,
            f"/api/v1/query_exemplars?query={quote(sel)}"
            f"&start=0&end={cut}",
        )
        assert status == 200 and payload["status"] == "success"
        got = set()
        for entry in payload["data"]:
            labels = entry["seriesLabels"]
            assert labels["__name__"] == "click"
            ts_seen = [e["timestamp"] for e in entry["exemplars"]]
            assert ts_seen == sorted(ts_seen)
            for e in entry["exemplars"]:
                got.add(
                    (
                        labels["__name__"],
                        labels.get("user"),
                        e["labels"]["trace_id"],
                        float(e["value"]),
                    )
                )
        assert got == want and len(got) > 0
        # missing start/end -> 400 bad_data
        status, payload = _api_get(
            exposer, f"/api/v1/query_exemplars?query={quote(sel)}"
        )
        assert status == 400 and payload["errorType"] == "bad_data"
    finally:
        exposer.stop()


def test_api_targets_and_status_endpoints(spark):
    """/api/v1/targets reports the exposer itself as the one healthy
    scrape target; /api/v1/status/config serves the runtime state as
    YAML; /api/v1/status/flags reflects the exposer's actual guard
    settings under the public flag names."""
    exposer = MetricsExposer(
        spark, SF_SMOKE, max_samples=123, query_timeout_s=7.0
    ).start()
    try:
        instance = f"{exposer.host}:{exposer.port}"
        status, payload = _api_get(exposer, "/api/v1/targets")
        assert status == 200 and payload["status"] == "success"
        (tgt,) = payload["data"]["activeTargets"]
        assert tgt["health"] == "up"
        assert tgt["labels"]["instance"] == instance
        assert tgt["scrapeUrl"] == f"http://{instance}/metrics"
        assert payload["data"]["droppedTargets"] == []

        status, payload = _api_get(exposer, "/api/v1/status/config")
        assert status == 200
        assert f"targets: ['{instance}']" in payload["data"]["yaml"]

        status, payload = _api_get(exposer, "/api/v1/status/flags")
        assert status == 200
        flags = payload["data"]
        assert flags["query.max-samples"] == "123"
        assert flags["query.timeout"] == "7s"
    finally:
        exposer.stop()


def test_api_status_tsdb(spark):
    """/api/v1/status/tsdb serves the public head-cardinality shape,
    cross-checked against direct aggregates over the samples
    relation (numSeries, top metric's series count, minTime <=
    maxTime in ms)."""
    from pyspark.sql import functions as F

    from shards_prometheus_spark.functions.promql_parser import (
        PromQLEvaluator,
    )

    exposer = MetricsExposer(spark, SF_SMOKE).start()
    try:
        status, payload = _api_get(exposer, "/api/v1/status/tsdb")
    finally:
        exposer.stop()
    assert status == 200 and payload["status"] == "success"
    data = payload["data"]
    ev = PromQLEvaluator.from_dir(spark, SF_SMOKE)
    n_series = ev.samples.select("series_id").distinct().count()
    assert data["headStats"]["numSeries"] == n_series
    assert data["headStats"]["minTime"] <= data["headStats"]["maxTime"]
    by_metric = {
        r["metric"]: r["n"]
        for r in ev.samples.groupBy("metric")
        .agg(F.countDistinct("series_id").alias("n"))
        .collect()
    }
    got = {e["name"]: e["value"] for e in data["seriesCountByMetricName"]}
    for name, n in got.items():
        assert by_metric[name] == n
    assert len(got) == min(10, len(by_metric)) and len(got) > 0
    for key in (
        "labelValueCountByLabelName",
        "memoryInBytesByLabelName",
        "seriesCountByLabelValuePair",
    ):
        assert isinstance(data[key], list) and len(data[key]) > 0
        assert all(e["value"] > 0 for e in data[key])


def test_api_status_runtimeinfo(spark):
    """/api/v1/status/runtimeinfo serves the public runtime shape with
    startTime stamped at the exposer's own start."""
    import time as _time

    t0 = _time.time()
    exposer = MetricsExposer(spark, SF_SMOKE).start()
    try:
        status, payload = _api_get(exposer, "/api/v1/status/runtimeinfo")
    finally:
        exposer.stop()
    assert status == 200 and payload["status"] == "success"
    data = payload["data"]
    assert data["reloadConfigSuccess"] is True
    from datetime import datetime

    started = datetime.fromisoformat(
        data["startTime"].replace("Z", "+00:00")
    ).timestamp()
    assert t0 - 1 <= started <= _time.time() + 1
    assert data["lastConfigTime"] == data["startTime"]


def test_api_walreplay_and_write_method_guards(spark):
    """/api/v1/status/walreplay serves the public already-done shape
    (a parquet engine has no WAL); GETs to the write-side endpoints
    answer 405 Method Not Allowed when the receiver is on (upstream's
    mux), 404 envelope when off."""
    import urllib.error
    import urllib.request

    exposer = MetricsExposer(
        spark, SF_SMOKE, remote_write=True, otlp_receiver=True
    ).start()
    base = f"http://{exposer.host}:{exposer.port}"
    try:
        status, payload = _api_get(exposer, "/api/v1/status/walreplay")
        assert status == 200
        assert payload["data"] == {"min": 0, "max": 0, "current": 0}
        for p in ("/api/v1/write", "/api/v1/otlp/v1/metrics"):
            try:
                urllib.request.urlopen(base + p, timeout=60)
                raise AssertionError(f"GET {p} did not error")
            except urllib.error.HTTPError as exc:
                assert exc.code == 405, p
    finally:
        exposer.stop()


def test_api_per_request_timeout_param(spark):
    """The public per-request `timeout` parameter: a microscopic
    timeout on a real query answers 503/`timeout` even on a server
    with no --query.timeout configured; the same query without the
    parameter succeeds; a degenerate '0s' stays 400 bad_data."""
    from urllib.parse import quote

    expr = "sum by (user) (increase(click[720h]))"
    exposer = MetricsExposer(spark, SF_SMOKE).start()
    try:
        status, payload = _api_get(
            exposer, f"/api/v1/query?query={quote(expr)}&timeout=1ms"
        )
        assert status == 503 and payload["errorType"] == "timeout"
        status, payload = _api_get(
            exposer, f"/api/v1/query?query={quote(expr)}&timeout=2m"
        )
        assert status == 200 and payload["status"] == "success"
        status, payload = _api_get(
            exposer, f"/api/v1/query?query={quote(expr)}&timeout=0s"
        )
        assert status == 400 and payload["errorType"] == "bad_data"
    finally:
        exposer.stop()


def test_federate_equality_matcher_with_regex_metachars(spark):
    """An equality matcher whose value contains regex metacharacters
    (`user="a(b"`) is a VALID selector — it must prune to empty (no
    such series, and the empty-label bucket decision must not compile
    the value as a regex), not crash to 400."""
    from urllib.parse import quote

    exposer = MetricsExposer(spark, SF_SMOKE).start()
    try:
        sel = quote('click{user="a(b"}')
        url = (
            f"http://{exposer.host}:{exposer.port}/federate"
            f"?match[]={sel}"
        )
        with urllib.request.urlopen(url, timeout=120) as resp:
            assert resp.status == 200
            assert resp.read().decode() == "\n"
    finally:
        exposer.stop()


def test_api_query_exemplars_bucket_selector(spark):
    """Bucket exemplars answer through the synthetic `_bucket`
    selector convention: `view_bucket{le="..."}` returns le-labeled
    series whose trace ids derive from the bound; a live-registry
    exposer constructed with an explicit exemplars_fn serves the same
    relation."""
    from urllib.parse import quote

    from shards_prometheus_spark.sources.exposition import (
        openmetrics_exemplars,
    )

    ex_rows = [
        r
        for r in openmetrics_exemplars(spark, SF_SMOKE).collect()
        if r["metric"] == "view_bucket"
    ]
    assert ex_rows
    le0 = sorted({r["le"] for r in ex_rows})[0]
    want = {
        (r["le"], r["trace_id"], r["ex_value"])
        for r in ex_rows
        if r["le"] == le0
    }
    exposer = MetricsExposer(spark, SF_SMOKE).start()
    try:
        sel = quote('view_bucket{le="%s"}' % le0)
        status, payload = _api_get(
            exposer,
            f"/api/v1/query_exemplars?query={sel}&start=0&end=1e15",
        )
    finally:
        exposer.stop()
    assert status == 200 and payload["status"] == "success"
    got = set()
    for entry in payload["data"]:
        labels = entry["seriesLabels"]
        assert labels["__name__"] == "view_bucket"
        assert labels["le"] == le0 and "user" not in labels
        for e in entry["exemplars"]:
            got.add((labels["le"], e["labels"]["trace_id"], float(e["value"])))
    assert got == want and len(got) > 0

    # live-registry exposer with an explicit exemplar source serves
    # the same rows (the exemplars_fn constructor hook)
    from shards_prometheus_spark.model import samples_multi

    live = MetricsExposer(
        spark,
        samples_fn=lambda: samples_multi(spark, SF_SMOKE),
        exemplars_fn=lambda: openmetrics_exemplars(spark, SF_SMOKE),
    ).start()
    try:
        status, payload2 = _api_get(
            live,
            f"/api/v1/query_exemplars?query={sel}&start=0&end=1e15",
        )
    finally:
        live.stop()
    assert status == 200 and payload2["data"] == payload["data"]


def test_api_query_limit_param_truncates_series(spark):
    """The 3.x `limit` parameter on /api/v1/query and
    /api/v1/query_range: caps the number of returned series with the
    truncation warning, 0 disables, negative is bad_data."""
    from urllib.parse import quote

    expr = "sum by (user) (increase(click[720h]))"
    exposer = MetricsExposer(spark, SF_SMOKE).start()
    try:
        status, full = _api_get(
            exposer, f"/api/v1/query?query={quote(expr)}"
        )
        assert status == 200
        n = len(full["data"]["result"])
        assert n > 2
        status, lim = _api_get(
            exposer, f"/api/v1/query?query={quote(expr)}&limit=2"
        )
        assert status == 200
        assert lim["data"]["result"] == full["data"]["result"][:2]
        assert lim["warnings"] == ["results truncated due to limit"]
        status, dis = _api_get(
            exposer, f"/api/v1/query?query={quote(expr)}&limit=0"
        )
        assert status == 200 and len(dis["data"]["result"]) == n
        assert "warnings" not in dis
        status, neg = _api_get(
            exposer, f"/api/v1/query?query={quote(expr)}&limit=-1"
        )
        assert status == 400 and neg["errorType"] == "bad_data"

        # query_range: same contract
        end_s = None
        from shards_prometheus_spark.functions.promql_parser import (
            PromQLEvaluator,
        )

        end_s = PromQLEvaluator.from_dir(spark, SF_SMOKE).eval_time_us() / 1e6
        qs = (
            f"/api/v1/query_range?query={quote(expr)}"
            f"&start={end_s - 86400}&end={end_s}&step=21600&limit=1"
        )
        status, rng = _api_get(exposer, qs)
        assert status == 200
        assert len(rng["data"]["result"]) == 1
        assert rng["warnings"] == ["results truncated due to limit"]
    finally:
        exposer.stop()


def test_api_query_exemplars_respects_max_samples_guard(spark):
    """The max-samples cap guards the exemplar path like every other
    collect: a selector matching many exemplars under a 1-row cap
    answers the public 422 envelope; the same request under a high
    cap succeeds."""
    from urllib.parse import quote

    sel = quote("click")
    for cap, want_status in ((1, 422), (100000, 200)):
        exposer = MetricsExposer(spark, SF_SMOKE, max_samples=cap).start()
        try:
            status, payload = _api_get(
                exposer,
                f"/api/v1/query_exemplars?query={sel}&start=0&end=1e12",
            )
        finally:
            exposer.stop()
        assert status == want_status, cap
        if want_status == 422:
            assert payload["errorType"] == "execution"
            assert "too many samples" in payload["error"]
        else:
            assert payload["data"]


def test_api_query_range_point_guard_boundary(spark):
    """The 11k-point guard is upstream's LITERAL quotient check
    (`(end-start)/step > 11000`): since points = quotient + 1, the
    message says "11,000 points" but exactly 11,001 points is
    accepted — matched quirk and all; 11,002 rejects with the public
    'maximum resolution' bad_data envelope."""
    exposer = MetricsExposer(spark, SF_SMOKE).start()
    try:
        # scalar-literal query: the guard fires before evaluation, and
        # the accept leg's grid is arithmetic (span/step-sized)
        base = "/api/v1/query_range?query=42&start=0&step=1"
        status, payload = _api_get(exposer, f"{base}&end=11000")
        assert status == 200, payload
        assert len(payload["data"]["result"][0]["values"]) == 11_001
        status, payload = _api_get(exposer, f"{base}&end=11001")
        assert status == 400
        assert payload["errorType"] == "bad_data"
        assert "maximum resolution" in payload["error"]
    finally:
        exposer.stop()


def test_api_timeout_param_nonpositive_wording(spark):
    """A non-positive `timeout` parameter answers a timeout-specific
    400 message — not the step parameter's 'query resolution step'
    wording (the two share the duration parser, not the error)."""
    from urllib.parse import quote

    exposer = MetricsExposer(spark, SF_SMOKE).start()
    try:
        status, payload = _api_get(
            exposer, f"/api/v1/query?query={quote('click')}&timeout=0s"
        )
        assert status == 400 and payload["errorType"] == "bad_data"
        assert "timeout" in payload["error"]
        assert "resolution step" not in payload["error"]
        # step keeps the upstream resolution-step wording
        status, payload = _api_get(
            exposer,
            f"/api/v1/query_range?query={quote('click')}"
            "&start=0&end=100&step=0s",
        )
        assert status == 400 and payload["errorType"] == "bad_data"
        assert "query resolution step width" in payload["error"]
    finally:
        exposer.stop()


def test_federate_le_matcher_selects_bucket_rows(spark):
    """A federate selector constraining `le` matches bucket SERIES by
    their actual label set ({le: bound}): view{le="+Inf"} serves the
    family TYPE header plus exactly the +Inf bucket line (count rows
    and finite buckets pruned); view{le="1"} serves exactly the le=1
    bucket line. Consistent with the selector machinery everywhere
    else — a bucket series is a real series of the family."""
    import urllib.request
    from urllib.parse import quote

    exposer = MetricsExposer(spark, SF_SMOKE).start()
    try:
        all_lines = [
            r["line"] for r in exposition_lines(spark, SF_SMOKE).collect()
        ]
        for le in ("+Inf", "1"):
            sel = quote(f'view{{le="{le}"}}')
            url = (
                f"http://{exposer.host}:{exposer.port}/federate"
                f"?match[]={sel}"
            )
            with urllib.request.urlopen(url, timeout=120) as resp:
                assert resp.status == 200
                body = resp.read().decode()
            got = sorted(ln for ln in body.splitlines() if ln)
            want = sorted(
                ln
                for ln in all_lines
                if ln == "# TYPE view histogram"
                or ln.startswith(f'view_bucket{{le="{le}"}} ')
            )
            assert got == want, le
            # exactly one bucket line plus the header federated
            assert len(got) == 2, got
    finally:
        exposer.stop()


def test_openmetrics_created_round_trip(spark):
    """OM `_created` child samples: the payload carries one
    `metric_created{user=…}` per counter series and one unlabeled
    `metric_created` per histogram family; the side relation parses
    them back to the emitters' first-contributing-sample timestamps;
    and the SAMPLE relation never sees them (no phantom gauge series
    named `*_created`)."""
    from pyspark.sql import functions as F

    from shards_prometheus_spark.model import samples
    from shards_prometheus_spark.sources.exposition import (
        openmetrics_created,
        openmetrics_lines,
        openmetrics_parse,
    )

    lines = [
        r["line"] for r in openmetrics_lines(spark, SF_SMOKE).collect()
    ]
    created = [l for l in lines if "_created" in l.split(" ")[0]]
    assert len(created) > 0

    got = {
        (r["metric"], r["kind"], r["label_user"]): r["created_s"]
        for r in openmetrics_created(spark, SF_SMOKE).collect()
    }
    s = samples(spark, SF_SMOKE)
    want_ctr = {
        (r["metric"], "counter", r["label_user"]): r["cs"]
        for r in s.filter(F.col("value") >= 0)
        .groupBy("metric", "label_user")
        .agg(F.round(F.min("ts_us") / F.lit(1e6), 4).alias("cs"))
        .collect()
    }
    want_hist = {
        (r["metric"], "histogram", None): r["cs"]
        for r in s.groupBy("metric")
        .agg(F.round(F.min("ts_us") / F.lit(1e6), 4).alias("cs"))
        .collect()
    }
    assert got == {**want_ctr, **want_hist}

    # the sample relation is clean of created child samples
    parsed = openmetrics_parse(spark, SF_SMOKE)
    assert (
        parsed.filter(F.col("metric").endswith("_created")).count() == 0
    )


def test_openmetrics_created_serialize_within_family(spark):
    """Serialized OM payloads keep `_created` lines INSIDE their
    family's block (after the family's value samples, before the next
    family's metadata) — the OM parser associates them by label set,
    but family blocks must stay contiguous."""
    from shards_prometheus_spark.sources.exposition import (
        openmetrics_lines,
        openmetrics_text,
    )

    payload = openmetrics_text(openmetrics_lines(spark, SF_SMOKE))
    lines = payload.rstrip("\n").split("\n")
    import re

    def fam_of(ln: str) -> str | None:
        if ln.startswith("#"):
            return ln.split(" ", 3)[2] if ln != "# EOF" else None
        name = ln.split("{", 1)[0].split(" ", 1)[0]
        if name.endswith("_created"):
            return name[: -len("_created")]
        return re.sub(r"_(total|bucket|sum|count)$", "", name)

    fams = [f for f in (fam_of(ln) for ln in lines) if f is not None]
    # family blocks contiguous: each family appears as ONE run
    runs = [f for i, f in enumerate(fams) if i == 0 or fams[i - 1] != f]
    assert len(runs) == len(set(runs))
    # created lines come after every value sample of their family
    seen_created: set = set()
    for ln in lines:
        name = ln.split("{", 1)[0].split(" ", 1)[0]
        if name.endswith("_created"):
            seen_created.add(name[: -len("_created")])
        elif not ln.startswith("#"):
            fam = re.sub(r"_(total|bucket|sum|count)$", "", name)
            assert fam not in seen_created, ln


def test_format_query_round_trip_all_demos():
    """`format_expr` is canonical: parse(format(parse(e))) == parse(e)
    for EVERY registered demo expression and every rule expression —
    the format_query endpoint's contract (no SparkSession needed; the
    formatter is pure AST text)."""
    from shards_prometheus_spark.functions import promql_parser as P
    from shards_prometheus_spark.functions.promql_format import (
        ast_json,
        format_expr,
    )
    from shards_prometheus_spark.operators import rules as R

    exprs = [
        v
        for k, v in vars(P).items()
        if k.startswith("PROMQL_") and isinstance(v, str)
    ]
    exprs += [e for _, e in R.RECORDING_RULES]
    exprs += [e for _, e in R.ALERT_RULES]
    exprs += [e for _, _, e in R.CHAINED_RULE_GROUP]
    exprs += [e for _, e, *_ in R.ALERT_FOR_RULES]
    exprs += [e for _, e, *_ in R.ALERT_KEEP_RULES]
    assert len(exprs) > 70
    for e in exprs:
        ast = P.parse(e)
        pretty = format_expr(ast)
        assert P.parse(pretty) == ast, (e, pretty)
        out = ast_json(ast)  # every demo renders without fallback
        assert out["type"] != "unknown", e


def test_api_format_and_parse_query_endpoints(spark):
    """/api/v1/format_query serves the canonical pretty-print;
    /api/v1/parse_query serves the public AST-JSON shape for a
    selector, an aggregation, and a binary expression; both answer
    400 bad_data on a syntax error or a missing query param."""
    from urllib.parse import quote

    exposer = MetricsExposer(spark, SF_SMOKE).start()
    try:
        q = 'sum   by (user) ( increase( click[720h] ) )'
        status, payload = _api_get(
            exposer, f"/api/v1/format_query?query={quote(q)}"
        )
        assert status == 200
        # canonical form: normalized spacing, durations in upstream's
        # descending-unit spelling (720h ≡ 30d ≡ 4w2d)
        assert payload["data"] == "sum by (user) (increase(click[4w2d]))"

        sel = quote('click{user=~"[0-3].*"}[240h] offset 1h')
        status, payload = _api_get(
            exposer, f"/api/v1/parse_query?query={sel}"
        )
        assert status == 200
        ast = payload["data"]
        assert ast["type"] == "matrixSelector"
        assert ast["name"] == "click"
        assert ast["range"] == 240 * 3600 * 1000  # ms
        assert ast["offset"] == 3600 * 1000
        assert ast["matchers"] == [
            {"name": "user", "type": "=~", "value": "[0-3].*"}
        ]

        agg = quote("quantile by (shard) (0.9, view)")
        status, payload = _api_get(
            exposer, f"/api/v1/parse_query?query={agg}"
        )
        ast = payload["data"]
        assert ast["type"] == "aggregation" and ast["op"] == "quantile"
        assert ast["grouping"] == ["shard"] and ast["without"] is False
        assert ast["param"] == {"type": "numberLiteral", "val": "0.9"}
        assert ast["expr"]["type"] == "vectorSelector"

        binop = quote("click > bool on(user) group_left() view")
        status, payload = _api_get(
            exposer, f"/api/v1/parse_query?query={binop}"
        )
        ast = payload["data"]
        assert ast["type"] == "binaryExpr" and ast["op"] == ">"
        assert ast["bool"] is True
        assert ast["matching"] == {
            "card": "many-to-one",
            "labels": ["user"],
            "on": True,
            "include": [],
        }

        for path in ("format_query", "parse_query"):
            status, payload = _api_get(
                exposer, f"/api/v1/{path}?query={quote('sum by (')}"
            )
            assert status == 400 and payload["errorType"] == "bad_data"
            status, payload = _api_get(exposer, f"/api/v1/{path}")
            assert status == 400
    finally:
        exposer.stop()


def test_api_targets_metadata_and_alertmanagers(spark):
    """/api/v1/targets/metadata serves the flat per-target metadata
    list (filterable by metric and by match_target against the
    target's label set); /api/v1/alertmanagers serves the empty
    active/dropped pools (the engine pushes to no Alertmanager)."""
    from urllib.parse import quote

    exposer = MetricsExposer(spark, SF_SMOKE).start()
    try:
        status, payload = _api_get(exposer, "/api/v1/targets/metadata")
        assert status == 200
        rows = payload["data"]
        assert len(rows) > 0
        metrics = {r["metric"] for r in rows}
        assert "click" in metrics
        for r in rows:
            assert set(r) == {"target", "metric", "type", "help", "unit"}
            assert r["target"]["job"] == "shards-prometheus-spark"

        status, payload = _api_get(
            exposer, "/api/v1/targets/metadata?metric=click"
        )
        assert {r["metric"] for r in payload["data"]} == {"click"}

        mt = quote('{job="shards-prometheus-spark"}')
        status, payload = _api_get(
            exposer, f"/api/v1/targets/metadata?match_target={mt}"
        )
        assert len(payload["data"]) == len(rows)
        mt = quote('{job="nope"}')
        status, payload = _api_get(
            exposer, f"/api/v1/targets/metadata?match_target={mt}"
        )
        assert payload["data"] == []

        status, payload = _api_get(exposer, "/api/v1/alertmanagers")
        assert status == 200
        assert payload["data"] == {
            "activeAlertmanagers": [],
            "droppedAlertmanagers": [],
        }
    finally:
        exposer.stop()


def test_parse_keeps_legit_created_named_family(spark):
    """A REAL family whose name happens to end in `_created` (e.g. a
    gauge counting created tickets) must survive the parse — the
    header join discriminates OM creation-timestamp metadata (no
    TYPE header of its own) from legitimately-named families (which
    have one)."""
    from pyspark.sql import functions as F

    from shards_prometheus_spark.sources.exposition import (
        _parse_payload,
    )

    lines = spark.createDataFrame(
        [
            ("# TYPE tickets_created gauge",),
            ('tickets_created{user="7"} 5.0000',),
            ("# TYPE click counter",),
            ('click_total{user="1"} 3.0000',),
            # OM metadata: no `# TYPE click_created` header exists
            ('click_created{user="1"} 1700000000.0000',),
            ("# EOF",),
        ],
        "line string",
    )
    got = {
        (r["metric"], r["kind"], r["value"])
        for r in _parse_payload(lines).collect()
    }
    assert got == {
        ("tickets_created", "gauge", 5.0),
        ("click", "counter", 3.0),
    }


def test_api_targets_metadata_bad_regex_is_bad_data(spark):
    """An invalid regex in match_target answers 400 bad_data (re.error
    is not a ValueError — unguarded it leaked as 422/execution)."""
    from urllib.parse import quote

    exposer = MetricsExposer(spark, SF_SMOKE).start()
    try:
        mt = quote('{job=~"["}')
        status, payload = _api_get(
            exposer, f"/api/v1/targets/metadata?match_target={mt}"
        )
        assert status == 400 and payload["errorType"] == "bad_data"
    finally:
        exposer.stop()


def test_query_stats_parameter(spark):
    """`stats=…` on query/query_range attaches data.stats (timings +
    sample counts, Grafana's query inspector); absent without it."""
    from shards_prometheus_spark.sources import MetricsExposer

    from urllib.parse import quote

    exposer = MetricsExposer(spark, SF_SMOKE).start()
    try:
        q = "sum by (user) (increase(click[720h]))"
        status, payload = _api_get(
            exposer, f"/api/v1/query?query={quote(q)}&stats=all"
        )
        assert status == 200
        stats = payload["data"]["stats"]
        n_series = len(payload["data"]["result"])
        assert stats["samples"]["totalQueryableSamples"] == n_series
        assert stats["timings"]["evalTotalTime"] > 0
        status, payload = _api_get(
            exposer, f"/api/v1/query?query={quote(q)}"
        )
        assert "stats" not in payload["data"]

        status, payload = _api_get(
            exposer,
            f"/api/v1/query_range?query={quote(q)}"
            "&start=0&end=864000&step=86400&stats=1",
        )
        assert status == 200
        stats = payload["data"]["stats"]
        n_points = sum(
            len(s["values"]) for s in payload["data"]["result"]
        )
        assert stats["samples"]["totalQueryableSamples"] == n_points
    finally:
        exposer.stop()
