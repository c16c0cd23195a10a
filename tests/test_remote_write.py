"""Remote-write ingest (sources/remote_write.py) — the push half of
the paired server: snappy-block + protobuf WriteRequest wire codecs,
the distributed mapInPandas decode/encode kernels, and the HTTP
receiver feeding the read API.
"""

from __future__ import annotations

import math
import struct
import urllib.error
import urllib.request

from tests.conftest import SF_SMOKE


def test_wire_codecs_round_trip():
    """Vendored codecs: snappy literal-encode → full decode round
    trip (plus a hand-built stream exercising copy tags, overlap
    included), and WriteRequest encode → parse preserving every
    (labels, ts_ms, value) triple with UTF-8 label content."""
    from shards_prometheus_spark.functions.miniformats import (
        snappy_compress,
        snappy_decompress,
    )
    from shards_prometheus_spark.sources.remote_write import (
        encode_write_request,
        parse_write_request,
    )

    for payload in (b"", b"x", b"a" * 59, b"a" * 60, b"ab" * 50_000):
        assert snappy_decompress(snappy_compress(payload)) == payload
    # copy tags: literal 'abc' then a 1-byte-offset overlapping copy
    # (offset 3, length 9) → 'abcabcabcabc'
    stream = bytes([12, (3 - 1) << 2]) + b"abc" + bytes([((9 - 4) << 2) | 1, 3])
    assert snappy_decompress(stream) == b"abcabcabcabc"
    # 2-byte-offset copy tag
    stream = bytes([8, (4 - 1) << 2]) + b"wxyz" + bytes([((4 - 1) << 2) | 2, 4, 0])
    assert snappy_decompress(stream) == b"wxyzwxyz"

    rows = [
        ({"__name__": "web.click", "user": "α7"}, 1_700_000_000_000, 1.5),
        ({"__name__": "web.click", "user": "α7"}, 1_700_000_060_000, 2.0),
        ({"__name__": "view", "user": "b"}, 1_700_000_000_000, -3.25),
    ]
    back = parse_write_request(encode_write_request(rows))
    assert back == rows
    # uncompressed form too
    back = parse_write_request(
        encode_write_request(rows, compress=False), compressed=False
    )
    assert back == rows


def test_distributed_encode_decode(spark):
    """The mapInPandas kernels: one payload per partition on the
    encode side; the decode side recovers every sample with ms-
    truncated timestamps and the label map split into metric +
    labels."""
    from pyspark.sql import functions as F

    from shards_prometheus_spark.model import samples
    from shards_prometheus_spark.sources.remote_write import (
        decode_write_requests,
        encode_write_requests,
    )

    s = samples(spark, SF_SMOKE).repartition(4, "metric")
    payloads = encode_write_requests(s)
    n_payloads = payloads.count()
    assert 1 <= n_payloads <= 4
    decoded = decode_write_requests(payloads)
    want = (
        s.select(
            "metric",
            "label_user",
            F.expr("ts_us div 1000").alias("ts_ms"),
            "value",
        )
        .groupBy("metric", "label_user")
        .agg(
            F.round(F.sum("value"), 4).alias("sv"),
            F.count(F.lit(1)).alias("n"),
            F.max("ts_ms").alias("t"),
        )
    )
    got = (
        decoded.withColumn("ts_ms", F.expr("ts_us div 1000"))
        .groupBy("metric", "label_user")
        .agg(
            F.round(F.sum("value"), 4).alias("sv"),
            F.count(F.lit(1)).alias("n"),
            F.max("ts_ms").alias("t"),
        )
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    # labels survive: the user label round-trips into the map
    row = decoded.filter(F.col("label_user").isNotNull()).first()
    assert row["labels"]["user"] == row["label_user"]


def test_http_receiver_serves_pushed_data_through_read_api(spark):
    """End to end over real HTTP: POST snappy-proto WriteRequests to
    /api/v1/write (204), then read the pushed state back through the
    full query API of an exposer whose samples_fn is the receiver's
    store; a corrupt payload answers 400 and poisons nothing."""
    import json
    from urllib.parse import quote

    from shards_prometheus_spark.sources import MetricsExposer
    from shards_prometheus_spark.sources.remote_write import (
        RemoteWriteReceiver,
        encode_write_request,
    )

    rx = RemoteWriteReceiver().start()
    try:
        url = f"http://{rx.host}:{rx.port}/api/v1/write"

        def push(rows) -> int:
            req = urllib.request.Request(
                url, data=encode_write_request(rows), method="POST"
            )
            with urllib.request.urlopen(req, timeout=60) as resp:
                return resp.status

        t0 = 1_700_000_000_000
        assert push(
            [
                ({"__name__": "push_total", "user": "1"}, t0, 5.0),
                ({"__name__": "push_total", "user": "1"}, t0 + 60_000, 7.0),
                ({"__name__": "push_total", "user": "2"}, t0, 11.0),
            ]
        ) == 204
        assert push(
            [({"__name__": "push_total", "user": "2"}, t0 + 60_000, 2.5)]
        ) == 204
        # corrupt payload → 400, store unchanged
        try:
            urllib.request.urlopen(
                urllib.request.Request(
                    url, data=b"\x99not-snappy", method="POST"
                ),
                timeout=60,
            )
            raise AssertionError("corrupt payload accepted")
        except urllib.error.HTTPError as e:
            assert e.code == 400

        df = rx.samples(spark)
        assert df.count() == 4

        exposer = MetricsExposer(
            spark, SF_SMOKE, samples_fn=lambda: rx.samples(spark)
        ).start()
        try:
            q = quote("sum by (user) (push_total)")
            with urllib.request.urlopen(
                f"http://{exposer.host}:{exposer.port}"
                f"/api/v1/query?query={q}",
                timeout=120,
            ) as resp:
                payload = json.loads(resp.read().decode())
            got = {
                r["metric"]["user"]: float(r["value"][1])
                for r in payload["data"]["result"]
            }
            # instant vector = latest sample per series, summed by user
            assert got == {"1": 7.0, "2": 2.5}
        finally:
            exposer.stop()
    finally:
        rx.stop()
    assert not math.isnan(sum(got.values()))


def test_exposer_integrated_remote_write_receiver(spark):
    """The SAME exposer that serves /metrics and the read API accepts
    remote-write pushes on /api/v1/write when remote_write=True
    (upstream's receiver flag): pushed series answer PromQL queries
    unioned with the batch store; with the flag off the endpoint is
    404, as upstream."""
    import json
    from urllib.parse import quote

    from shards_prometheus_spark.sources import MetricsExposer
    from shards_prometheus_spark.sources.remote_write import (
        encode_write_request,
    )

    exposer = MetricsExposer(spark, SF_SMOKE, remote_write=True).start()
    try:
        url = f"http://{exposer.host}:{exposer.port}/api/v1/write"
        t0 = 1_700_000_000_000
        payload = encode_write_request(
            [
                ({"__name__": "pushed_total", "user": "9"}, t0, 4.0),
                ({"__name__": "pushed_total", "user": "9"}, t0 + 1, 6.0),
            ]
        )
        req = urllib.request.Request(url, data=payload, method="POST")
        with urllib.request.urlopen(req, timeout=60) as resp:
            assert resp.status == 204
        q = quote('sum by (user) (pushed_total @ %d)' % (t0 // 1000 + 1))
        with urllib.request.urlopen(
            f"http://{exposer.host}:{exposer.port}/api/v1/query?query={q}"
            f"&time={t0 // 1000 + 1}",
            timeout=120,
        ) as resp:
            payload = json.loads(resp.read().decode())
        got = {
            r["metric"]["user"]: float(r["value"][1])
            for r in payload["data"]["result"]
        }
        assert got == {"9": 6.0}
        # the batch store still answers through the same union (a
        # range window; instant selectors at t_max are staleness-
        # bounded regardless of the push)
        q = quote("sum by (user) (increase(click[720h]))")
        with urllib.request.urlopen(
            f"http://{exposer.host}:{exposer.port}/api/v1/query?query={q}",
            timeout=120,
        ) as resp:
            payload = json.loads(resp.read().decode())
        assert len(payload["data"]["result"]) > 0
    finally:
        exposer.stop()

    off = MetricsExposer(spark, SF_SMOKE).start()
    try:
        req = urllib.request.Request(
            f"http://{off.host}:{off.port}/api/v1/write",
            data=b"x",
            method="POST",
        )
        try:
            urllib.request.urlopen(req, timeout=60)
            raise AssertionError("receiver accepted with the flag off")
        except urllib.error.HTTPError as e:
            assert e.code == 404
    finally:
        off.stop()


def test_wire_codec_negative_timestamp_int64():
    """Protobuf int64 semantics: a pre-1970 (negative-ms) timestamp
    encodes as the 10-byte two's-complement varint and decodes back —
    the naive arithmetic-shift encoding would hang forever."""
    from shards_prometheus_spark.sources.remote_write import (
        encode_write_request,
        parse_write_request,
    )

    rows = [({"__name__": "m", "user": "a"}, -62_135_596_800_000, 1.0)]
    assert parse_write_request(encode_write_request(rows)) == rows


def test_scrape_reader_restart_fast_forwards_to_checkpoint():
    """A restarted scrape stream resumes from its CHECKPOINTED offset
    while the fresh reader's counter restarts at 0: the planner must
    fast-forward past the checkpoint instead of emitting empty
    catch-up batches (or stalling forever under max_ticks)."""
    from shards_prometheus_spark.sources.scraper import (
        _ScrapeStreamReader,
    )

    r = _ScrapeStreamReader({"url": "http://x/metrics", "max_ticks": "3"})
    # fresh reader, checkpoint at tick 100 (a prior incarnation's)
    end = r.latestOffset()
    assert end == {"tick": 1}
    assert r.partitions({"tick": 100}, end) == []  # one empty batch
    # the next planned tick must jump PAST the checkpoint
    end = r.latestOffset()
    assert end["tick"] == 101
    parts = r.partitions({"tick": 100}, end)
    assert len(parts) == 1 and parts[0].tick == 101
    # max_ticks bounds scrapes by THIS instance, not the global index
    assert r.latestOffset()["tick"] == 102
    assert r.latestOffset()["tick"] == 102  # 3 served -> idle


def test_pushed_series_id_unifies_with_base_relation(spark):
    """ADVICE r11 (medium): a push targeting an EXISTING base series
    must hash to the base relation's series_id — both sides now derive
    it through model.series_id_expr — so per-series window folds
    (rate/increase LAG over series_id) see one logical series across
    the union, not two. Pushed event_ids live in the reserved
    negative namespace so the (ts_us, event_id) LAG tiebreak stays
    deterministic against non-negative base ids."""
    from pyspark.sql import functions as F

    from shards_prometheus_spark.model import samples
    from shards_prometheus_spark.sources.remote_write import (
        RemoteWriteReceiver,
        encode_write_request,
    )

    base = samples(spark, SF_SMOKE)
    row = base.orderBy("metric", "label_user").first()

    rx = RemoteWriteReceiver()
    rx.receive(
        encode_write_request(
            [
                (
                    {"__name__": row["metric"], "user": row["label_user"]},
                    row["ts_us"] // 1000 + 60_000,
                    1.0,
                )
            ]
        )
    )
    pushed = rx.samples(spark)
    assert pushed.count() == 1
    p = pushed.first()
    assert p["series_id"] == row["series_id"]
    assert p["event_id"] < 0  # reserved namespace, below all base ids

    # the union folds to ONE series for that (metric, label) pair
    un = base.unionByName(pushed, allowMissingColumns=True)
    n_ids = (
        un.filter(
            (F.col("metric") == row["metric"])
            & (F.col("label_user") == row["label_user"])
        )
        .select("series_id")
        .distinct()
        .count()
    )
    assert n_ids == 1


def test_encode_floor_ms_negative_timestamps(spark):
    """µs→ms on the encode side FLOORS (not truncates-toward-zero):
    a pre-1970 ts_us lands on the ms grid the same way a positive one
    does, symmetric with the decoder's ms*1000."""
    from shards_prometheus_spark.sources.remote_write import (
        decode_write_requests,
        encode_write_requests,
    )

    df = spark.createDataFrame(
        [
            ("m", {"user": "a"}, -1_500, 1.0),  # -1.5 ms → floor -2 ms
            ("m", {"user": "a"}, 1_500, 2.0),  # 1.5 ms → floor 1 ms
            ("m", {"user": "a"}, -2_000, 3.0),  # exact grid stays
        ],
        "metric string, labels map<string,string>, ts_us long, value double",
    ).coalesce(1)
    got = {
        r["value"]: r["ts_us"]
        for r in decode_write_requests(encode_write_requests(df)).collect()
    }
    assert got == {1.0: -2_000, 2.0: 1_000, 3.0: -2_000}


class _FakeWriteHandler:
    """Duck-typed BaseHTTPRequestHandler for handle_write_post."""

    def __init__(self, body: bytes, claimed_len: int | None = None):
        import io

        self.headers = {
            "Content-Length": str(
                len(body) if claimed_len is None else claimed_len
            )
        }
        self.rfile = io.BytesIO(body)
        self.wfile = io.BytesIO()
        self.status = None

    def send_response(self, code):
        self.status = code

    def send_header(self, *a):
        pass

    def end_headers(self):
        pass


def test_write_post_contract_413_400_500():
    """ADVICE r11 (low): the shared /api/v1/write body caps the
    buffered size (413 above MAX_WRITE_BODY_BYTES, nothing read),
    keeps 400 for codec ValueErrors, and reports internal failures as
    500 instead of blaming the client."""
    from shards_prometheus_spark.sources.remote_write import (
        MAX_WRITE_BODY_BYTES,
        encode_write_request,
        handle_write_post,
    )

    calls = []

    def ok(raw, ctype=None):
        calls.append(raw)

    # over-cap: rejected by the CLAIMED length, body never ingested
    h = _FakeWriteHandler(b"tiny", claimed_len=MAX_WRITE_BODY_BYTES + 1)
    handle_write_post(h, ok)
    assert h.status == 413 and calls == []

    # corrupt payload → ValueError from the codecs → 400
    h = _FakeWriteHandler(b"\x99not-snappy")
    def decode(raw, ctype=None):
        from shards_prometheus_spark.sources.remote_write import (
            parse_write_request,
        )
        parse_write_request(raw)
    handle_write_post(h, decode)
    assert h.status == 400

    # internal failure → 500, not 400
    def boom(raw, ctype=None):
        raise RuntimeError("executor lost")
    h = _FakeWriteHandler(
        encode_write_request([({"__name__": "m"}, 0, 1.0)])
    )
    handle_write_post(h, boom)
    assert h.status == 500

    # success → 204
    h = _FakeWriteHandler(b"anything")
    handle_write_post(h, ok)
    assert h.status == 204 and calls == [b"anything"]


# --- the SEND half (r12): engine as remote-write sender ------------------


def test_push_samples_delivers_to_receiver(spark):
    """Distributed push: one POST per payload from the executors; the
    receiver's store recovers every (series, ts-ms, value) triple."""
    from pyspark.sql import functions as F

    from shards_prometheus_spark.model import samples
    from shards_prometheus_spark.sources.remote_write import (
        RemoteWriteReceiver,
        push_samples,
    )

    rx = RemoteWriteReceiver().start()
    try:
        url = f"http://{rx.host}:{rx.port}/api/v1/write"
        s = samples(spark, SF_SMOKE).repartition(4, "metric")
        statuses = push_samples(s, url).collect()
        # one payload per NON-EMPTY partition (5 metrics hashed into
        # 4 partitions can leave one empty)
        assert 1 <= len(statuses) <= 4
        assert all(r["status"] == 204 for r in statuses)
        assert all(r["attempts"] == 1 for r in statuses)
        assert rx.n_rows == s.count()

        # value-level: per-series sums agree (wire is lossless for
        # doubles; timestamps compare on the ms grid)
        want = {
            (r["metric"], r["label_user"]): (
                round(r["sv"], 6),
                r["mt"],
            )
            for r in s.groupBy("metric", "label_user")
            .agg(
                F.sum("value").alias("sv"),
                F.max(F.expr("ts_us div 1000")).alias("mt"),
            )
            .collect()
        }
        got = {
            (r["metric"], r["label_user"]): (round(r["sv"], 6), r["mt"])
            for r in rx.samples(spark)
            .groupBy("metric", "label_user")
            .agg(
                F.sum("value").alias("sv"),
                F.max(F.expr("ts_us div 1000")).alias("mt"),
            )
            .collect()
        }
        assert got == want
    finally:
        rx.stop()


def test_push_retry_semantics(spark):
    """Upstream sender semantics: 5xx retries (capped backoff), other
    4xx is permanent, connection failure reports -1 — all as DATA,
    never task failures."""
    import http.server
    import threading

    from shards_prometheus_spark.sources.remote_write import (
        push_write_requests,
    )

    class H(http.server.BaseHTTPRequestHandler):
        code = 500

        def do_POST(self):  # noqa: N802
            self.rfile.read(
                int(self.headers.get("Content-Length") or 0)
            )
            self.send_response(type(self).code)
            self.send_header("Content-Length", "0")
            self.end_headers()

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    url = f"http://127.0.0.1:{srv.server_port}/api/v1/write"
    payloads = spark.createDataFrame([(b"x",)], "payload binary")
    try:
        (row,) = push_write_requests(payloads, url, retries=2).collect()
        assert (row["status"], row["attempts"]) == (500, 3)  # retried
        H.code = 400
        (row,) = push_write_requests(payloads, url, retries=2).collect()
        assert (row["status"], row["attempts"]) == (400, 1)  # permanent
    finally:
        srv.shutdown()
        srv.server_close()
    # connection failure: no listener
    (row,) = push_write_requests(
        payloads, "http://127.0.0.1:1/api/v1/write", retries=1
    ).collect()
    assert (row["status"], row["attempts"]) == (-1, 2)


def test_remote_write_sink_streams_micro_batches(spark):
    """The continuous push loop: a samples stream exported through
    the foreachBatch sink lands in the receiver, batch by batch."""
    import time

    from pyspark.sql import functions as F

    from shards_prometheus_spark.sources.remote_write import (
        RemoteWriteReceiver,
        remote_write_sink,
    )
    from shards_prometheus_spark.streaming.ingest import (
        samples_stream,
        stream_events,
    )

    rx = RemoteWriteReceiver().start()
    query = None
    try:
        url = f"http://{rx.host}:{rx.port}/api/v1/write"
        stream = samples_stream(stream_events(spark, SF_SMOKE)).select(
            "metric",
            F.create_map(F.lit("user"), F.col("label_user")).alias(
                "labels"
            ),
            "ts_us",
            "value",
        )
        query = (
            remote_write_sink(stream, url)
            .trigger(availableNow=True)
            .start()
        )
        deadline = time.time() + 120
        while query.isActive and time.time() < deadline:
            time.sleep(0.5)
        assert not query.isActive, "sink never drained"
        query = None
        from shards_prometheus_spark.model import samples

        assert rx.n_rows == samples(spark, SF_SMOKE).count()
    finally:
        if query is not None:
            query.stop()
        rx.stop()


# --- remote-write 2.0 (io.prometheus.write.v2.Request) -------------------


def test_v2_roundtrip_equals_v1_twin():
    """The 2.0 wire (interned symbol table, packed labels_refs)
    decodes to exactly the rows the 1.0 twin carries."""
    from shards_prometheus_spark.sources.remote_write import (
        encode_write_request,
        encode_write_request_v2,
        parse_write_request,
        parse_write_request_v2,
    )

    rows = [
        ({"__name__": "m", "user": "a", "zone": "z1"}, 1_000, 1.5),
        ({"__name__": "m", "user": "a", "zone": "z1"}, 2_000, 2.5),
        ({"__name__": "m", "user": "b"}, -5_000, 3.25),  # pre-1970
        ({"__name__": "n"}, 0, float("inf")),
    ]
    v2 = encode_write_request_v2(rows)
    got = parse_write_request_v2(v2)
    want = parse_write_request(encode_write_request(rows))
    assert got == want
    # interning actually dedups: the v2 body is smaller than 1.0's
    # for a repeated-label payload
    big = [
        ({"__name__": "m", "user": "u", "shard": str(i % 2)}, i, 1.0)
        for i in range(200)
    ]
    assert len(
        encode_write_request_v2(big, compress=False)
    ) < len(encode_write_request(big, compress=False))


def test_v2_post_negotiated_by_content_type(spark):
    """POSTing a 2.0 body with the spec's Content-Type ingests through
    BOTH HTTP frontends; the response is 204 with the 2.0 written
    headers, and the read API serves the pushed samples — equal to
    the 1.0 push of the same rows."""
    import urllib.request

    from shards_prometheus_spark.sources.remote_write import (
        V2_CONTENT_TYPE,
        RemoteWriteReceiver,
        encode_write_request,
        encode_write_request_v2,
    )

    rows = [
        ({"__name__": "pushed", "user": "a"}, 1_000, 1.5),
        ({"__name__": "pushed", "user": "b"}, 2_000, 2.5),
    ]

    def post(url, body, ctype):
        req = urllib.request.Request(
            url,
            data=body,
            headers={
                "Content-Type": ctype,
                "Content-Encoding": "snappy",
            },
            method="POST",
        )
        return urllib.request.urlopen(req, timeout=60)

    rx1 = RemoteWriteReceiver().start()
    rx2 = RemoteWriteReceiver().start()
    try:
        with post(
            f"http://127.0.0.1:{rx1.port}/api/v1/write",
            encode_write_request_v2(rows),
            V2_CONTENT_TYPE,
        ) as resp:
            assert resp.status == 204
            assert (
                resp.headers["X-Prometheus-Remote-Write-Samples-Written"]
                == "2"
            )
        with post(
            f"http://127.0.0.1:{rx2.port}/api/v1/write",
            encode_write_request(rows),
            "application/x-protobuf",
        ) as resp:
            assert resp.status == 204
        def state(rx):
            return sorted(
                (
                    r["metric"],
                    tuple(sorted((r["labels"] or {}).items())),
                    r["label_user"],
                    r["ts_us"],
                    r["value"],
                    r["series_id"],
                )
                for r in rx.samples(spark).collect()
            )

        got, want = state(rx1), state(rx2)
        assert got == want and len(got) == 2
    finally:
        rx1.stop()
        rx2.stop()


def _v2_side_data_payload():
    """Hand-built spec-shaped 2.0 Request (independent of our
    encoder): one counter series with a sample, an exemplar
    (labels_refs/value/timestamp), Metadata (type/help_ref/unit_ref)
    and created_timestamp."""
    from shards_prometheus_spark.functions.miniformats import (
        _uvarint_encode,
        pb_double,
        pb_len,
        pb_varint,
        snappy_compress,
    )

    symbols = [
        "", "__name__", "reqs_total", "user", "a",
        "trace_id", "abc123", "HTTP requests served", "requests",
    ]
    packed = b"".join(_uvarint_encode(i) for i in (1, 2, 3, 4))
    sample = pb_double(1, 7.0) + pb_varint(2, 1_000)
    ex = (
        pb_len(1, b"".join(_uvarint_encode(i) for i in (5, 6)))
        + pb_double(2, 1.25)
        + pb_varint(3, 1_500)
    )
    meta = pb_varint(1, 1) + pb_varint(3, 7) + pb_varint(4, 8)
    ts = (
        pb_len(1, packed)
        + pb_len(2, sample)
        + pb_len(4, ex)
        + pb_len(5, meta)
        + pb_varint(6, 500)  # created_timestamp ms
    )
    body = b"".join(
        pb_len(4, s.encode()) for s in symbols
    ) + pb_len(5, ts)
    return snappy_compress(body)


def test_v2_side_data_decodes():
    """The 2.0 spec's metadata / exemplars / created_timestamp fields
    decode into the engine's existing side-relation shapes instead of
    being skipped."""
    from shards_prometheus_spark.sources.remote_write import (
        parse_write_request_v2_full,
    )

    rows, exemplars, metadata, created = parse_write_request_v2_full(
        _v2_side_data_payload()
    )
    assert rows == [
        ({"__name__": "reqs_total", "user": "a"}, 1_000, 7.0)
    ]
    assert exemplars == [
        ("reqs_total", "a", None, "abc123", 1.25, 1.5)
    ]
    assert metadata == {
        "reqs_total": {
            "type": "counter",
            "help": "HTTP requests served",
            "unit": "requests",
        }
    }
    assert created == [("reqs_total", "counter", "a", 0.5)]


def test_v2_sender_side_data_round_trips():
    """The sender twin emits the spec's side fields symmetrically:
    encode_write_request_v2(metadata/exemplars/created) →
    parse_write_request_v2_full recovers them exactly."""
    from shards_prometheus_spark.sources.remote_write import (
        encode_write_request_v2,
        parse_write_request_v2_full,
    )

    labels = {"__name__": "reqs_total", "user": "a"}
    k = tuple(sorted(labels.items()))
    body = encode_write_request_v2(
        [(labels, 1_000, 7.0)],
        metadata={
            "reqs_total": {
                "type": "counter",
                "help": "HTTP requests served",
                "unit": "requests",
            }
        },
        exemplars={k: [({"trace_id": "abc123"}, 1.25, 1_500)]},
        created={k: 500},
    )
    rows, exemplars, metadata, created = parse_write_request_v2_full(
        body
    )
    assert rows == [(labels, 1_000, 7.0)]
    assert exemplars == [
        ("reqs_total", "a", None, "abc123", 1.25, 1.5)
    ]
    assert metadata == {
        "reqs_total": {
            "type": "counter",
            "help": "HTTP requests served",
            "unit": "requests",
        }
    }
    assert created == [("reqs_total", "counter", "a", 0.5)]


def test_v2_push_serves_exemplars_and_metadata(spark):
    """The VERDICT Done-bar: a 2.0 push with exemplars →
    /api/v1/query_exemplars returns them; /api/v1/metadata serves the
    pushed help/type/unit; the 204's 2.0 headers count both."""
    import json
    import urllib.request
    from urllib.parse import quote

    from shards_prometheus_spark.sources import MetricsExposer
    from shards_prometheus_spark.sources.remote_write import (
        V2_CONTENT_TYPE,
    )

    exposer = MetricsExposer(spark, SF_SMOKE, remote_write=True).start()
    base = f"http://{exposer.host}:{exposer.port}"
    try:
        req = urllib.request.Request(
            base + "/api/v1/write",
            data=_v2_side_data_payload(),
            headers={
                "Content-Type": V2_CONTENT_TYPE,
                "Content-Encoding": "snappy",
            },
            method="POST",
        )
        with urllib.request.urlopen(req, timeout=60) as resp:
            assert resp.status == 204
            h = resp.headers
            assert h["X-Prometheus-Remote-Write-Samples-Written"] == "1"
            assert h["X-Prometheus-Remote-Write-Exemplars-Written"] == "1"

        with urllib.request.urlopen(
            base
            + "/api/v1/query_exemplars?query="
            + quote("reqs_total")
            + "&start=0&end=10",
            timeout=120,
        ) as resp:
            data = json.loads(resp.read())["data"]
        assert data == [
            {
                "seriesLabels": {"__name__": "reqs_total", "user": "a"},
                "exemplars": [
                    {
                        "labels": {"trace_id": "abc123"},
                        "value": "1.25",
                        "timestamp": 1.5,
                    }
                ],
            }
        ]

        with urllib.request.urlopen(
            base + "/api/v1/metadata", timeout=120
        ) as resp:
            meta = json.loads(resp.read())["data"]
        assert meta["reqs_total"] == [
            {
                "type": "counter",
                "help": "HTTP requests served",
                "unit": "requests",
            }
        ]
    finally:
        exposer.stop()


def test_v2_bad_refs_answer_400():
    """Malformed 2.0 payloads (odd labels_refs, out-of-table ref) are
    client errors: ValueError → the receiver's 400 contract."""
    import pytest

    from shards_prometheus_spark.functions.miniformats import (
        _uvarint_encode,
        pb_len,
        snappy_compress,
    )
    from shards_prometheus_spark.sources.remote_write import (
        parse_write_request_v2,
    )

    # symbols ["", "x"]; labels_refs [1] (odd)
    body = (
        pb_len(4, b"")
        + pb_len(4, b"x")
        + pb_len(5, pb_len(1, _uvarint_encode(1)))
    )
    with pytest.raises(ValueError, match="odd"):
        parse_write_request_v2(snappy_compress(body))
    # labels_refs [1, 9]: value ref outside the table
    body = (
        pb_len(4, b"")
        + pb_len(4, b"x")
        + pb_len(
            5,
            pb_len(1, _uvarint_encode(1) + _uvarint_encode(9)),
        )
    )
    with pytest.raises(ValueError, match="symbol"):
        parse_write_request_v2(snappy_compress(body))


def test_v2_send_half_roundtrip(spark):
    """The SEND half speaks 2.0 too: push_samples(protocol='2.0')
    negotiates the v2 Content-Type from the executors and the
    receiver ingests rows identical to the 1.0 push."""
    from shards_prometheus_spark.sources.remote_write import (
        RemoteWriteReceiver,
        push_samples,
    )

    df = spark.createDataFrame(
        [
            ("m", {"user": "a"}, 1_000_000, 1.5),
            ("m", {"user": "b"}, 2_000_000, 2.5),
        ],
        "metric string, labels map<string,string>, ts_us long, "
        "value double",
    ).coalesce(1)

    def pushed_state(protocol):
        rx = RemoteWriteReceiver().start()
        try:
            statuses = push_samples(
                df,
                f"http://127.0.0.1:{rx.port}/api/v1/write",
                protocol=protocol,
            ).collect()
            assert [r["status"] for r in statuses] == [204]
            return sorted(
                (
                    r["metric"],
                    tuple(sorted((r["labels"] or {}).items())),
                    r["ts_us"],
                    r["value"],
                )
                for r in rx.samples(spark).collect()
            )
        finally:
            rx.stop()

    got_v2 = pushed_state("2.0")
    got_v1 = pushed_state("1.0")
    assert got_v2 == got_v1 and len(got_v2) == 2


#: the stale-marker NaN (its bit pattern must survive the store)
_STALE_NAN = struct.unpack("<d", struct.pack("<Q", 0x7FF0000000000002))[0]


def _reference_render(spark, rows):
    """The pushed store's relation spelled out row by row from the
    ingest-ordered (labels, ts_ms, value) rows: the per-read row-list
    render the segmented store replaced, kept as the reference."""
    from shards_prometheus_spark.model import series_id_expr

    data = []
    for i, (labels, ts_ms, value) in enumerate(rows):
        lbls = dict(labels)
        metric = lbls.pop("__name__", "")
        data.append(
            (-(i + 1), metric, lbls, lbls.get("user"), ts_ms * 1_000,
             float(value))
        )
    return spark.createDataFrame(
        data,
        "event_id long, metric string, labels map<string,string>, "
        "label_user string, ts_us long, value double",
    ).withColumn("series_id", series_id_expr("metric", "labels"))


def _store_rows(df):
    """Collected store rows, exact: value compared by its bits."""
    return sorted(
        (
            r["event_id"], r["metric"], sorted(r["labels"].items()),
            r["label_user"], r["ts_us"], struct.pack("<d", r["value"]),
            r["series_id"],
        )
        for r in df.collect()
    )


def test_segmented_store_matches_row_render(spark):
    """The store converts each read's new tail into one Arrow segment
    and merges segments log-structured. Across interleaved 1.0 pushes,
    2.0 pushes, OTLP ingest_rows and reads, every render equals the
    row-by-row render of the rows ingested so far (event_id exactly
    -1..-n in ingest order, series_id from series_id_expr, identical
    ts_us/value bits), earlier renders do not change, n_rows counts
    every row, and segment sizes halve oldest to newest."""
    from shards_prometheus_spark.sources.otlp import (
        encode_otlp_request,
        parse_otlp_request,
    )
    from shards_prometheus_spark.sources.remote_write import (
        V2_CONTENT_TYPE,
        RemoteWriteReceiver,
        encode_write_request,
        encode_write_request_v2,
        parse_write_request,
        parse_write_request_v2,
    )

    rx = RemoteWriteReceiver()
    empty = rx.samples(spark)
    assert rx.n_rows == 0 and empty.count() == 0
    assert empty.schema == _reference_render(spark, []).schema

    ingested: list = []
    renders: list = []
    t0 = 1_700_000_000_000
    for step, size in enumerate([1, 40, 7, 120, 3, 60, 2, 250, 9, 5]):
        batch = [
            (
                {"__name__": f"m{(step + j) % 3}", "user": f"u{j % 4}",
                 "job": "j" if j % 2 else "k"},
                t0 + 1_000 * (step * 1_000 + j) - (j % 5) * 7,
                _STALE_NAN if j == 3 else step * 0.5 - j,
            )
            for j in range(size)
        ]
        if step % 3 == 0:
            payload = encode_write_request(batch)
            rx.receive(payload)
            ingested += parse_write_request(payload)
        elif step % 3 == 1:
            payload = encode_write_request_v2(batch)
            rx.receive(payload, V2_CONTENT_TYPE)
            ingested += parse_write_request_v2(payload)
        else:
            rows = parse_otlp_request(
                encode_otlp_request(
                    [
                        {
                            "name": f"otel.g{step}",
                            "kind": "gauge",
                            "points": [
                                ({"user": lbls["user"]}, ts * 1_000_000, v)
                                for lbls, ts, v in batch
                            ],
                        }
                    ]
                )
            )
            rx.ingest_rows(rows)
            ingested += rows
        assert rx.n_rows == len(ingested)
        if step % 4 != 3:  # reads between some pushes, not all
            renders.append((rx.samples(spark), list(ingested)))
            assert rx.n_rows == len(ingested)
            sizes = [t.num_rows for t, _df in rx._segments]
            assert all(2 * new < old for old, new in zip(sizes, sizes[1:]))

    final = rx.samples(spark)
    assert _store_rows(final) == _store_rows(_reference_render(spark, ingested))
    for df, rows in renders:  # snapshots: later pushes never leak in
        assert _store_rows(df) == _store_rows(_reference_render(spark, rows))


def test_segmented_store_concurrent_pushers_and_readers(spark):
    """Concurrent ingest_rows and renders never lose or duplicate a
    row: every render holds event_ids exactly -1..-m for a
    non-decreasing m, and the final render holds every pushed row."""
    import sys
    import threading

    from shards_prometheus_spark.sources.remote_write import (
        RemoteWriteReceiver,
    )

    rx = RemoteWriteReceiver()
    n_pushers, n_batches, batch = 3, 25, 8
    done = threading.Event()
    renders: "list[list]" = [[], []]

    def push(p):
        for b in range(n_batches):
            rx.ingest_rows(
                [
                    ({"__name__": "c", "user": f"p{p}"}, b * batch + j,
                     float(p * 10_000 + b * batch + j))
                    for j in range(batch)
                ]
            )

    def read(out):
        while not done.is_set():
            out.append(rx.samples(spark))

    pushers = [threading.Thread(target=push, args=(p,)) for p in range(n_pushers)]
    readers = [threading.Thread(target=read, args=(o,)) for o in renders]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # interleave the threads finely
    try:
        for t in readers + pushers:
            t.start()
        for t in pushers:
            t.join(timeout=120)
        done.set()
        for t in readers:
            t.join(timeout=120)
    finally:
        done.set()
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in readers + pushers)

    total = n_pushers * n_batches * batch
    assert rx.n_rows == total
    final = rx.samples(spark).collect()
    assert sorted(r["event_id"] for r in final) == list(range(-total, 0))
    assert sorted(r["value"] for r in final) == sorted(
        float(p * 10_000 + i)
        for p in range(n_pushers)
        for i in range(n_batches * batch)
    )
    for out in renders:
        seen = 0
        for df in out[:: max(1, len(out) // 6)]:
            ids = sorted(r["event_id"] for r in df.select("event_id").collect())
            assert ids == list(range(-len(ids), 0)) and len(ids) >= seen
            seen = len(ids)
