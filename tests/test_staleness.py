"""Staleness markers (upstream's StaleNaN, SURVEY §2 B#5/B#17 r12).

Upstream's scraper appends an explicit stale sample when a series
present at tick N-1 disappears at tick N; instant vectors then drop
the series IMMEDIATELY instead of serving the dead sample for the
rest of the 5m lookback. Here the marker is synthesized relationally
from the scrape log (`stale_markers`, a tick-over-tick presence
diff) and carried as a `stale` boolean column (Spark canonicalizes
NaN payloads, so the StaleNaN bit pattern cannot ride in the value);
every selector keys on the column when present.
"""

from __future__ import annotations

import http.server
import math
import threading
import time

from pyspark.sql import functions as F


def _scrape_log(spark, rows):
    """rows: (target, scrape_idx, ts_us, metric, kind, stat,
    label_user, le, value)"""
    return spark.createDataFrame(
        rows,
        "target string, scrape_idx long, ts_us long, metric string, "
        "kind string, stat string, label_user string, le string, "
        "value double",
    )


_T = "http://t1/metrics"
_US = 1_000_000  # 1s in µs


def _three_tick_log(spark):
    """Ticks 0/1/2 at 10s/20s/30s. Series a: all ticks. Series b:
    ticks 0,1 only (dies at tick 2). Series c: ticks 0 and 2 (gap at
    tick 1 — dies, then RETURNS)."""
    g = ("gauge", "last", None)
    rows = []
    for tick, ts in ((0, 10 * _US), (1, 20 * _US), (2, 30 * _US)):
        rows.append((_T, tick, ts, "up", *g[:2], "a", None, 1.0))
        if tick < 2:
            rows.append((_T, tick, ts, "up", *g[:2], "b", None, 2.0))
        if tick != 1:
            rows.append((_T, tick, ts, "up", *g[:2], "c", None, 3.0))
    return _scrape_log(spark, rows)


def test_stale_markers_synthesis(spark):
    from shards_prometheus_spark.sources.scraper import stale_markers

    got = sorted(
        (r["label_user"], r["scrape_idx"], r["ts_us"], r["stale"],
         r["value"])
        for r in stale_markers(_three_tick_log(spark)).collect()
    )
    # b dies at tick 2 (stamped at tick 2's scrape time); c dies at
    # tick 1 and its return at tick 2 emits NO marker; a never dies
    assert [(lu, idx, ts, st) for lu, idx, ts, st, _v in got] == [
        ("b", 2, 30 * _US, True),
        ("c", 1, 20 * _US, True),
    ]
    assert all(math.isnan(v) for *_rest, v in got)


def test_registry_from_scrapes_drops_stale(spark):
    from shards_prometheus_spark.sources.scraper import (
        registry_from_scrapes,
        scraped_with_staleness,
    )

    log = _three_tick_log(spark)
    # without markers: the dead series b lingers with its last value
    plain = {
        r["label_user"]: r["value"]
        for r in registry_from_scrapes(log).collect()
    }
    assert plain == {"a": 1.0, "b": 2.0, "c": 3.0}
    # with markers: b is gone; c (died, then returned) is back
    with_stale = {
        r["label_user"]: r["value"]
        for r in registry_from_scrapes(
            scraped_with_staleness(log)
        ).collect()
    }
    assert with_stale == {"a": 1.0, "c": 3.0}


def test_registry_instant_cuts_lookback(spark):
    """The instant selector excludes a series whose newest in-lookback
    sample is a stale marker — even though the dead series' real
    samples are still inside the lookback window."""
    from shards_prometheus_spark.registry_api import MetricsRegistry
    from shards_prometheus_spark.sources.scraper import (
        scraped_with_staleness,
    )

    samples = scraped_with_staleness(_three_tick_log(spark)).withColumn(
        "event_id", F.col("scrape_idx").cast("long")
    )
    got = {
        r["label_user"]: r["value"]
        for r in MetricsRegistry(samples)
        .instant(lookback_us=3600 * _US)
        .collect()
    }
    # b's tick-1 sample (20s) is well inside the 1h lookback at
    # T=30s, but the tick-2 marker is newer -> excluded immediately
    assert got == {"a": 1.0, "c": 3.0}
    # at T = tick 1 (before b's death) b is still served; c's gap
    # marker at tick 1 excludes c exactly there
    at1 = {
        r["label_user"]: r["value"]
        for r in MetricsRegistry(samples)
        .instant(at_ts_us=20 * _US, lookback_us=3600 * _US)
        .collect()
    }
    assert at1 == {"a": 1.0, "b": 2.0}


def _stale_samples_df(spark):
    """Evaluator-shaped relation: series a live, series b's newest
    sample (within lookback) is a stale marker at 25s."""
    rows = [
        (0, 1, "up", {"user": "a"}, 10 * _US, 1.0, False),
        (1, 1, "up", {"user": "a"}, 20 * _US, 1.0, False),
        (2, 2, "up", {"user": "b"}, 10 * _US, 2.0, False),
        (3, 2, "up", {"user": "b"}, 20 * _US, 2.0, False),
        (4, 2, "up", {"user": "b"}, 25 * _US, float("nan"), True),
        (5, 1, "up", {"user": "a"}, 30 * _US, 1.0, False),
    ]
    return spark.createDataFrame(
        rows,
        "event_id long, series_id long, metric string, "
        "labels map<string,string>, ts_us long, value double, "
        "stale boolean",
    )


def test_multilabel_stale_marker_kills_its_own_series(spark):
    """A multi-label series' marker must land in THAT series' group:
    the marker now carries the full labels map out of stale_markers,
    so lift_labels reconstructs the dead series' exact identity and
    scraped_as_samples hashes the marker into the series_id it kills.
    (Previously the marker's null map fell back to the flattened user
    label: the dead multi-label series was never suppressed, and the
    marker could instead wrongly suppress an unrelated flat series
    sharing the user label.)"""
    from shards_prometheus_spark.functions.promql_parser import (
        PromQLEvaluator,
    )
    from shards_prometheus_spark.sources.scraper import (
        scraped_as_samples,
        scraped_with_staleness,
    )

    # two ticks at 10s/20s; three series of metric m on one target:
    #   m{user=u, zone=a}  tick 0 only → DIES (marker at 20s)
    #   m{user=u, zone=b}  both ticks  → lives
    #   m{user=u}          both ticks  → lives (flat twin of the
    #                                    dead series' user label)
    rows = [
        (_T, 0, 10 * _US, "m", "gauge", "last", "u", None,
         {"user": "u", "zone": "a"}, 1.0),
        (_T, 0, 10 * _US, "m", "gauge", "last", "u", None,
         {"user": "u", "zone": "b"}, 2.0),
        (_T, 0, 10 * _US, "m", "gauge", "last", "u", None, None, 5.0),
        (_T, 1, 20 * _US, "m", "gauge", "last", "u", None,
         {"user": "u", "zone": "b"}, 2.0),
        (_T, 1, 20 * _US, "m", "gauge", "last", "u", None, None, 5.0),
    ]
    log = spark.createDataFrame(
        rows,
        "target string, scrape_idx long, ts_us long, metric string, "
        "kind string, stat string, label_user string, le string, "
        "labels map<string,string>, value double",
    )
    with_stale = scraped_with_staleness(log)
    # the marker row carries the dead series' full map
    marker = with_stale.filter(F.col("stale")).collect()
    assert len(marker) == 1
    assert dict(marker[0]["labels"]) == {"user": "u", "zone": "a"}

    ev = PromQLEvaluator(scraped_as_samples(with_stale))
    got = {r["labels"]: r["value"] for r in ev.eval("m").collect()}
    # zone=a is suppressed by its marker; zone=b and the flat series
    # survive (the marker must NOT leak into the flat series' group)
    assert not any("zone=a" in k for k in got)
    assert [v for k, v in got.items() if "zone=b" in k] == [2.0]
    assert [v for k, v in got.items() if "zone" not in k] == [5.0]


def test_evaluator_instant_stale_cut(spark):
    from shards_prometheus_spark.functions.promql_parser import (
        PromQLEvaluator,
    )

    ev = PromQLEvaluator(_stale_samples_df(spark))
    got = {r["labels"]: r["value"] for r in ev.eval("up").collect()}
    assert got == {"user=a": 1.0}
    # aggregation over the instant vector: the marker's NaN never
    # contaminates (b is dropped pre-agg)
    assert [r["value"] for r in ev.eval("sum(up)").collect()] == [1.0]
    # range vectors skip marker rows entirely (upstream never returns
    # StaleNaN in a range selection): b contributes its 2 real samples
    cnt = {
        r["labels"]: r["value"]
        for r in ev.eval("count_over_time(up[1h])").collect()
    }
    assert cnt == {"user=a": 3.0, "user=b": 2.0}
    # timestamp() follows the instant rule: b omitted
    ts = {r["labels"]: r["value"] for r in ev.eval("timestamp(up)").collect()}
    assert ts == {"user=a": 30.0}


def test_evaluator_grid_stale_cut(spark):
    """eval_range: b serves at grid instants before its marker and
    disappears from every instant at/after it, while a continues."""
    from shards_prometheus_spark.functions.promql_parser import (
        PromQLEvaluator,
    )

    ev = PromQLEvaluator(_stale_samples_df(spark))
    rows = ev.eval_range("up", span_us=25 * _US, step_us=5 * _US).collect()
    by_series = {}
    for r in rows:
        by_series.setdefault(r["labels"], set()).add(r["ts_us"])
    # grid instants: 10,15,20,25,30s; a has samples through 30s
    assert by_series["user=a"] == {
        10 * _US, 15 * _US, 20 * _US, 25 * _US, 30 * _US
    }
    # b: live at 10..20s, cut at 25s (marker) and 30s (marker is
    # still the newest in-lookback sample)
    assert by_series["user=b"] == {10 * _US, 15 * _US, 20 * _US}
    # timestamp() and absent() take the same pick: no timestamp for b
    # once its marker is the newest sample, and b is absent there
    ts_b = {
        r["ts_us"]
        for r in ev.eval_range("timestamp(up)", 25 * _US, 5 * _US).collect()
        if r["labels"] == "user=b"
    }
    assert ts_b == {10 * _US, 15 * _US, 20 * _US}
    gone = {
        r["ts_us"]
        for r in ev.eval_range(
            'absent(up{user="b"})', 25 * _US, 5 * _US
        ).collect()
    }
    assert gone == {25 * _US, 30 * _US}


class _TickServer:
    """Serves tick-dependent exposition payloads: GET #i serves
    payloads[min(i, len-1)]."""

    def __init__(self, payloads: list[str]):
        self._payloads = payloads
        self._hits = 0
        outer = self

        class H(http.server.BaseHTTPRequestHandler):
            def do_GET(self):  # noqa: N802
                body = outer._payloads[
                    min(outer._hits, len(outer._payloads) - 1)
                ].encode()
                outer._hits += 1
                self.send_response(200)
                self.send_header("Content-Type", "text/plain")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *a):
                pass

        self._srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), H)
        self.url = f"http://127.0.0.1:{self._srv.server_port}/metrics"
        threading.Thread(
            target=self._srv.serve_forever, daemon=True
        ).start()

    def stop(self):
        self._srv.shutdown()
        self._srv.server_close()


_PAYLOAD_BOTH = 'g{user="a"} 1\ng{user="b"} 2\n'
_PAYLOAD_ONE = 'g{user="a"} 1\n'


def _registry_state(scraped):
    from shards_prometheus_spark.sources.scraper import (
        SYNTHETIC_METRICS,
        registry_from_scrapes,
        scraped_with_staleness,
    )

    return sorted(
        (r["metric"], r["label_user"], r["value"])
        for r in registry_from_scrapes(
            scraped_with_staleness(scraped)
        ).collect()
        # the report family is scrape metadata, not payload state
        if r["metric"] not in SYNTHETIC_METRICS
    )


def test_scrape_loop_staleness_end_to_end(spark):
    """A target drops a series mid-loop: the next instant vector
    excludes it immediately (not after the lookback), batch and
    streaming twins agreeing."""
    from shards_prometheus_spark.registry_api import MetricsRegistry
    from shards_prometheus_spark.sources.scraper import (
        scrape_once,
        scrape_stream,
        scraped_samples,
        scraped_with_staleness,
    )

    # streaming twin: 2 real micro-batch ticks
    srv = _TickServer([_PAYLOAD_BOTH, _PAYLOAD_ONE])
    query = None
    try:
        lines = scrape_stream(spark, srv.url, max_ticks=2)
        query = (
            lines.writeStream.outputMode("append")
            .format("memory")
            .queryName("stale_log_t")
            .trigger(processingTime="1 second")
            .start()
        )
        deadline = time.time() + 120
        while time.time() < deadline:
            n = (
                spark.table("stale_log_t")
                .select("scrape_idx")
                .distinct()
                .count()
            )
            if n >= 2:
                break
            time.sleep(0.5)
        else:
            raise AssertionError("scrape loop never reached 2 ticks")
        query.stop()
        query = None
        stream_scraped = scraped_samples(spark.table("stale_log_t"))
        stream_state = _registry_state(stream_scraped)
    finally:
        if query is not None:
            query.stop()
        srv.stop()

    # batch twin: two one-shot scrapes of an identical fresh server
    srv2 = _TickServer([_PAYLOAD_BOTH, _PAYLOAD_ONE])
    try:
        t0 = scrape_once(spark, srv2.url).withColumn(
            "scrape_idx", F.lit(0).cast("long")
        )
        t1 = scrape_once(spark, srv2.url).withColumn(
            "scrape_idx", F.lit(1).cast("long")
        )
        batch_scraped = scraped_samples(t0.unionByName(t1))
        batch_state = _registry_state(batch_scraped)
    finally:
        srv2.stop()

    assert stream_state == batch_state == [("g", "a", 1.0)]

    # the instant vector excludes b IMMEDIATELY despite b's tick-0
    # sample sitting inside the 1h lookback
    from shards_prometheus_spark.sources.scraper import (
        SYNTHETIC_METRICS,
    )

    samples = (
        scraped_with_staleness(stream_scraped)
        .filter(~F.col("metric").isin(*SYNTHETIC_METRICS))
        .withColumn("event_id", F.col("scrape_idx").cast("long"))
    )
    got = {
        r["label_user"]: r["value"]
        for r in MetricsRegistry(samples)
        .instant(lookback_us=3_600_000_000)
        .collect()
    }
    assert got == {"a": 1.0}
