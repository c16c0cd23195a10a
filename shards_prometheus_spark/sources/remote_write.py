"""Prometheus remote-write ingest — the push wire format.

The reference's pairing is pull (its exposer is scraped,
prometheus.cpp:47,73,80), but the paired server's OTHER standard
ingestion path is `remote_write`: an HTTP POST of a snappy-compressed
protobuf `WriteRequest` (public wire format: repeated
TimeSeries{repeated Label{name, value}, repeated Sample{value double,
timestamp int64 ms}}). Real fleets push via remote_write more often
than they federate, so a switching user needs this hop.

Three layers, each independently testable:

- **Wire codecs** (functions.miniformats): vendored snappy block
  codec + protobuf wire helpers — pure per-payload CPU, no Spark
  semantics, usable inside Arrow-batched kernels.
- **Distributed decode/encode** (`decode_write_requests` /
  `encode_write_requests`): payloads ⇄ samples as `mapInPandas`
  relations — the 100 TB path (a Kafka topic / object-store bucket of
  remote-write payloads decodes in parallel, one Arrow batch per
  task; the encoder packs each PARTITION into one WriteRequest, so
  payload count = partition count, never a driver loop).
- **HTTP receiver** (`RemoteWriteReceiver`): the POST
  `/api/v1/write` endpoint — decompress + parse per request
  (payloads are scrape-sized), rows appended to a driver-side store
  the read API serves via `samples_fn` (each read writes only the
  rows pushed since the last one as an immutable parquet block and
  scans the live blocks as one file source; see the class
  docstring). 2xx on success (204 per the 1.0 spec), 400 on a
  corrupt payload — the public receiver contract.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import threading
import weakref
from typing import Iterator

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from shards_prometheus_spark.functions.miniformats import (
    _u_to_int64,
    _uvarint_decode,
    _uvarint_encode,
    pb_double,
    pb_fields,
    pb_len,
    pb_varint,
    snappy_compress,
    snappy_decompress,
)

#: samples-relation schema a decoded payload produces (ts in µs, the
#: engine's int64 time axis; remote-write timestamps are ms on the
#: wire, converted at the edge)
DECODED_SCHEMA = (
    "metric string, labels map<string,string>, label_user string, "
    "ts_us long, value double"
)

#: the stored columns of a pushed block, in file order (samples()
#: adds series_id on read)
BLOCK_SCHEMA = (
    "event_id long, metric string, labels map<string,string>, "
    "label_user string, ts_us long, value double"
)

#: Largest POST body either /api/v1/write handler will buffer —
#: payloads are scrape-sized by contract; anything larger is a
#: misconfigured (or adversarial) sender, answered 413 instead of
#: exhausting driver memory.
MAX_WRITE_BODY_BYTES = 64 << 20


def handle_write_post(handler, receive) -> None:
    """Shared POST `/api/v1/write` body for both HTTP frontends (the
    standalone receiver and MetricsExposer): size-cap → 413; decode
    failure (the codecs raise ValueError on corrupt snappy/protobuf)
    → the public 400 contract; any OTHER exception is an internal
    failure → 500, never misreported as a client error; success →
    204 (both specs' code). The request's Content-Type negotiates the
    protocol (`proto=io.prometheus.write.v2.Request` → the 2.0
    decode), and a 2.0 success carries the spec's
    `X-Prometheus-Remote-Write-Samples-Written` response header."""

    def _respond(
        code: int, body: bytes = b"", extra: "dict | None" = None
    ) -> None:
        handler.send_response(code)
        for k, v in (extra or {}).items():
            handler.send_header(k, v)
        handler.send_header("Content-Length", str(len(body)))
        handler.end_headers()
        if body:
            handler.wfile.write(body)

    n = int(handler.headers.get("Content-Length") or 0)
    if n > MAX_WRITE_BODY_BYTES:
        _respond(
            413,
            f"body of {n} bytes exceeds the "
            f"{MAX_WRITE_BODY_BYTES}-byte write limit".encode(),
        )
        return
    raw = handler.rfile.read(n)
    ctype = handler.headers.get("Content-Type")
    try:
        written = receive(raw, ctype)
    except ValueError as exc:
        _respond(400, str(exc).encode())
    except Exception as exc:  # noqa: BLE001 - the 5xx contract
        _respond(500, str(exc).encode())
    else:
        extra = None
        if is_v2_content_type(ctype):
            # receive may report (samples, exemplars) — the 2.0
            # response headers carry both counts
            samples_w, ex_w = (
                written if isinstance(written, tuple) else (written, 0)
            )
            extra = {
                "X-Prometheus-Remote-Write-Samples-Written": str(
                    samples_w or 0
                ),
                "X-Prometheus-Remote-Write-Histograms-Written": "0",
                "X-Prometheus-Remote-Write-Exemplars-Written": str(
                    ex_w or 0
                ),
            }
        _respond(204, extra=extra)


def parse_write_request(
    payload: bytes, compressed: bool = True
) -> list[tuple[dict, int, float]]:
    """One WriteRequest → [(labels incl. __name__, ts_ms, value)].
    Pure Python, executor-safe; unknown protobuf fields skipped."""
    body = snappy_decompress(payload) if compressed else payload
    out = []
    for field, wt, ts_bytes in pb_fields(body):
        if field != 1 or wt != 2:  # WriteRequest.timeseries
            continue
        labels: dict = {}
        samples: list[tuple[int, float]] = []
        for f2, wt2, v2 in pb_fields(ts_bytes):
            if f2 == 1 and wt2 == 2:  # TimeSeries.labels
                name = value = ""
                for f3, _wt3, v3 in pb_fields(v2):
                    if f3 == 1:
                        name = v3.decode("utf-8")
                    elif f3 == 2:
                        value = v3.decode("utf-8")
                labels[name] = value
            elif f2 == 2 and wt2 == 2:  # TimeSeries.samples
                val, ts_ms = float("nan"), 0
                for f3, _wt3, v3 in pb_fields(v2):
                    if f3 == 1:
                        val = v3
                    elif f3 == 2:
                        # int64: a pre-1970 sender encodes negative
                        # ms as the 10-byte two's-complement varint
                        ts_ms = _u_to_int64(v3)
                samples.append((ts_ms, val))
        for ts_ms, val in samples:
            out.append((labels, ts_ms, val))
    return out


def encode_write_request(
    rows: "list[tuple[dict, int, float]]", compress: bool = True
) -> bytes:
    """[(labels incl. __name__, ts_ms, value)] → one WriteRequest.
    Consecutive rows with the same label set share a TimeSeries (the
    natural output of a series-sorted partition)."""
    series: list[bytes] = []
    cur_labels: dict | None = None
    cur_samples: list[bytes] = []

    def flush() -> None:
        if cur_labels is None:
            return
        body = b"".join(
            pb_len(
                1,
                pb_len(1, k.encode("utf-8"))
                + pb_len(2, v.encode("utf-8")),
            )
            for k, v in sorted(cur_labels.items())
        ) + b"".join(pb_len(2, s) for s in cur_samples)
        series.append(pb_len(1, body))

    for labels, ts_ms, value in rows:
        if labels != cur_labels:
            flush()
            cur_labels, cur_samples = dict(labels), []
        cur_samples.append(pb_double(1, value) + pb_varint(2, ts_ms))
    flush()
    body = b"".join(series)
    return snappy_compress(body) if compress else body


#: The 2.0 protocol's content type (the 3.x wire): proto parameter
#: selects the Request message; 1.0 senders omit it or send
#: prometheus.WriteRequest.
V2_CONTENT_TYPE = (
    "application/x-protobuf;proto=io.prometheus.write.v2.Request"
)


def is_v2_content_type(content_type: "str | None") -> bool:
    """Remote-write content negotiation (the 2.0 spec): the `proto=`
    media-type parameter names the message; absent/1.0 values decode
    as prometheus.WriteRequest."""
    return bool(
        content_type
        and "io.prometheus.write.v2.request"
        in content_type.replace(" ", "").lower()
    )


#: v2 Metadata.MetricType enum → the /api/v1/metadata type strings
#: (public proto; upstream serves the lowercase names).
_V2_METRIC_TYPES = {
    0: "unknown",
    1: "counter",
    2: "gauge",
    3: "histogram",
    4: "gaugehistogram",
    5: "summary",
    6: "info",
    7: "stateset",
    8: "unknown",
}


def _refs_to_labels(refs: "list[int]", symbols: "list[str]") -> dict:
    """PACKED uint32 (name-ref, value-ref) pairs → labels dict;
    ValueError on odd length / out-of-table refs (the 400 contract)."""
    if len(refs) % 2:
        raise ValueError("remote-write v2: odd labels_refs length")
    labels: dict = {}
    for i in range(0, len(refs), 2):
        try:
            labels[symbols[refs[i]]] = symbols[refs[i + 1]]
        except IndexError:
            raise ValueError(
                "remote-write v2: labels_ref outside the symbol table"
            ) from None
    return labels


def _packed_refs(v2, refs: "list[int]") -> None:
    """Append one labels_refs field occurrence (packed bytes or one
    unpacked varint — both legal proto3) to `refs`."""
    if isinstance(v2, int):
        refs.append(v2)
        return
    pos = 0
    while pos < len(v2):
        n, pos = _uvarint_decode(v2, pos)
        refs.append(n)


def parse_write_request_v2(
    payload: bytes, compressed: bool = True
) -> "list[tuple[dict, int, float]]":
    """One `io.prometheus.write.v2.Request` → [(labels incl.
    __name__, ts_ms, value)] (samples only; see
    parse_write_request_v2_full for the side data)."""
    return parse_write_request_v2_full(payload, compressed)[0]


def parse_write_request_v2_full(
    payload: bytes, compressed: bool = True
) -> "tuple[list, list, dict, list]":
    """One `io.prometheus.write.v2.Request` → (rows, exemplars,
    metadata, created) — the 2.0 wire (public spec): one interned
    `symbols` string table (field 4, symbols[0] = ""), TimeSeries
    (field 5) carrying PACKED uint32 `labels_refs` pairs (name-ref,
    value-ref) instead of inline Label messages, samples unchanged
    (value double=1, timestamp int64 ms=2) — PLUS the spec's side
    data, decoded into the engine's existing side-relation shapes:

    - ``exemplars`` (TimeSeries field 4: labels_refs=1, value
      double=2, timestamp int64 ms=3) → the `openmetrics_exemplars`
      schema rows (metric, label_user, le, trace_id, ex_value,
      ex_ts seconds) `/api/v1/query_exemplars` serves.
    - ``metadata`` (TimeSeries field 5: type enum=1, help_ref=3,
      unit_ref=4) → {metric: {"type", "help", "unit"}} for
      `/api/v1/metadata`.
    - ``created`` (TimeSeries field 6, int64 ms) → the
      `openmetrics_created` schema rows (metric, kind, label_user,
      created_s) — the `_created` side relation.

    Native-histogram fields (TimeSeries field 3) are skipped per
    proto semantics. Raises ValueError on odd or out-of-range refs —
    the receiver's public 400 contract."""
    body = snappy_decompress(payload) if compressed else payload
    symbols: list[str] = []
    series_bufs: list[bytes] = []
    for field, wt, v in pb_fields(body):
        if field == 4 and wt == 2:  # Request.symbols
            symbols.append(v.decode("utf-8"))
        elif field == 5 and wt == 2:  # Request.timeseries
            series_bufs.append(v)
    out: list[tuple[dict, int, float]] = []
    exemplars: list = []
    metadata: dict = {}
    created: list = []
    for ts_bytes in series_bufs:
        refs: list[int] = []
        samples: list[tuple[int, float]] = []
        ex_bufs: list[bytes] = []
        meta_buf: "bytes | None" = None
        created_ms: "int | None" = None
        for f2, wt2, v2 in pb_fields(ts_bytes):
            if f2 == 1 and wt2 in (0, 2):  # labels_refs
                _packed_refs(v2, refs)
            elif f2 == 2 and wt2 == 2:  # TimeSeries.samples
                val, ts_ms = float("nan"), 0
                for f3, _wt3, v3 in pb_fields(v2):
                    if f3 == 1:
                        val = v3
                    elif f3 == 2:
                        ts_ms = _u_to_int64(v3)
                samples.append((ts_ms, val))
            elif f2 == 4 and wt2 == 2:  # TimeSeries.exemplars
                ex_bufs.append(v2)
            elif f2 == 5 and wt2 == 2:  # TimeSeries.metadata
                meta_buf = v2
            elif f2 == 6 and wt2 == 0:  # created_timestamp (ms)
                created_ms = _u_to_int64(v2)
        labels = _refs_to_labels(refs, symbols)
        for ts_ms, val in samples:
            out.append((labels, ts_ms, val))
        metric = labels.get("__name__", "")
        if meta_buf is not None and metric:
            mtype, help_ref, unit_ref = 0, 0, 0
            for f3, wt3, v3 in pb_fields(meta_buf):
                if f3 == 1 and wt3 == 0:
                    mtype = v3
                elif f3 == 3 and wt3 == 0:
                    help_ref = v3
                elif f3 == 4 and wt3 == 0:
                    unit_ref = v3
            try:
                metadata[metric] = {
                    "type": _V2_METRIC_TYPES.get(mtype, "unknown"),
                    "help": symbols[help_ref],
                    "unit": symbols[unit_ref],
                }
            except IndexError:
                raise ValueError(
                    "remote-write v2: metadata ref outside the "
                    "symbol table"
                ) from None
        for ex in ex_bufs:
            ex_refs: list[int] = []
            ex_val, ex_ts_ms = float("nan"), 0
            for f3, wt3, v3 in pb_fields(ex):
                if f3 == 1 and wt3 in (0, 2):
                    _packed_refs(v3, ex_refs)
                elif f3 == 2 and wt3 == 1:
                    ex_val = v3
                elif f3 == 3 and wt3 == 0:
                    ex_ts_ms = _u_to_int64(v3)
            ex_labels = _refs_to_labels(ex_refs, symbols)
            exemplars.append(
                (
                    metric,
                    labels.get("user"),
                    labels.get("le"),
                    ex_labels.get("trace_id", ""),
                    float(ex_val),
                    ex_ts_ms / 1_000.0,
                )
            )
        if created_ms is not None and metric:
            kind = metadata.get(metric, {}).get("type", "counter")
            created.append(
                (
                    metric,
                    kind if kind != "unknown" else "counter",
                    labels.get("user"),
                    created_ms / 1_000.0,
                )
            )
    return out, exemplars, metadata, created


#: inverse of _V2_METRIC_TYPES for the encoder twin
_V2_TYPE_ENUM = {
    "counter": 1,
    "gauge": 2,
    "histogram": 3,
    "gaugehistogram": 4,
    "summary": 5,
    "info": 6,
    "stateset": 7,
    "unknown": 8,
}


def encode_write_request_v2(
    rows: "list[tuple[dict, int, float]]",
    compress: bool = True,
    metadata: "dict | None" = None,
    exemplars: "dict | None" = None,
    created: "dict | None" = None,
) -> bytes:
    """[(labels incl. __name__, ts_ms, value)] → one 2.0 Request:
    strings interned once in `symbols` (symbols[0] = "" per spec),
    consecutive same-label rows sharing a TimeSeries — the sender
    twin the round-trip tests drive the receiver with.

    Optional side data (the spec's remaining TimeSeries fields, the
    symmetric half of parse_write_request_v2_full):

    - ``metadata``: {metric: {"type", "help", "unit"}} — attached to
      every TimeSeries of that metric (field 5).
    - ``exemplars``: {sorted-label-items tuple: [(ex_labels dict,
      value, ts_ms), …]} per series (field 4).
    - ``created``: {sorted-label-items tuple: created_ms} per series
      (field 6).
    """
    symbols: list[str] = [""]
    index: dict[str, int] = {"": 0}

    def ref(s: str) -> int:
        if s not in index:
            index[s] = len(symbols)
            symbols.append(s)
        return index[s]

    series: list[bytes] = []
    cur_labels: dict | None = None
    cur_samples: list[bytes] = []

    def flush() -> None:
        if cur_labels is None:
            return
        packed = b"".join(
            _uvarint_encode(ref(k)) + _uvarint_encode(ref(v))
            for k, v in sorted(cur_labels.items())
        )
        parts = [
            pb_len(1, packed),
            b"".join(pb_len(2, s) for s in cur_samples),
        ]
        k = tuple(sorted(cur_labels.items()))
        for ex_labels, ex_val, ex_ts in (exemplars or {}).get(k, []):
            ex_packed = b"".join(
                _uvarint_encode(ref(n)) + _uvarint_encode(ref(v))
                for n, v in sorted(ex_labels.items())
            )
            parts.append(
                pb_len(
                    4,
                    pb_len(1, ex_packed)
                    + pb_double(2, float(ex_val))
                    + pb_varint(3, int(ex_ts)),
                )
            )
        meta = (metadata or {}).get(cur_labels.get("__name__", ""))
        if meta:
            parts.append(
                pb_len(
                    5,
                    pb_varint(
                        1,
                        _V2_TYPE_ENUM.get(
                            str(meta.get("type", "unknown")), 8
                        ),
                    )
                    + pb_varint(3, ref(str(meta.get("help", ""))))
                    + pb_varint(4, ref(str(meta.get("unit", "")))),
                )
            )
        if created and k in created:
            parts.append(pb_varint(6, int(created[k])))
        series.append(b"".join(parts))

    for labels, ts_ms, value in rows:
        if labels != cur_labels:
            flush()
            cur_labels, cur_samples = dict(labels), []
        cur_samples.append(pb_double(1, value) + pb_varint(2, ts_ms))
    flush()
    body = b"".join(
        pb_len(4, s.encode("utf-8")) for s in symbols
    ) + b"".join(pb_len(5, ts) for ts in series)
    return snappy_compress(body) if compress else body


def decode_write_requests(
    payloads: DataFrame, payload_col: str = "payload"
) -> DataFrame:
    """Distributed decode: a relation of remote-write payloads →
    the samples relation (metric from `__name__`, full label map
    without it, `label_user` flattened, ts µs). Arrow-batched
    `mapInPandas` — one Python pass per payload, never per-row
    Spark-side logic; a 100 TB payload corpus decodes with the scan's
    parallelism."""
    import pandas as pd

    def kernel(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = []
            for raw in pdf[payload_col]:
                for labels, ts_ms, value in parse_write_request(
                    bytes(raw)
                ):
                    lbls = dict(labels)
                    metric = lbls.pop("__name__", "")
                    rows.append(
                        (
                            metric,
                            lbls,
                            lbls.get("user"),
                            ts_ms * 1_000,
                            value,
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "metric",
                    "labels",
                    "label_user",
                    "ts_us",
                    "value",
                ],
            )

    return payloads.mapInPandas(kernel, DECODED_SCHEMA)


def encode_write_requests(
    samples: DataFrame,
    protocol: str = "1.0",
    external_labels: "dict | None" = None,
) -> DataFrame:
    """Distributed encode: the samples relation → one WriteRequest
    payload PER PARTITION (payload count = partition count; a
    pre-`repartition(metric)` caller controls payload sizing). Rows
    are series-sorted inside the kernel so each series becomes one
    TimeSeries message. `protocol="2.0"` emits the interned-symbols
    `io.prometheus.write.v2.Request` wire instead.

    `external_labels` (the config's `global.external_labels`):
    upstream's remote-write sender attaches them to every outgoing
    series whose label set lacks the name (a series' own label wins
    the conflict) — pure map expressions on the scan, no shuffle,
    the stored relation untouched."""
    import pandas as pd

    encode = (
        encode_write_request_v2
        if str(protocol).startswith("2")
        else encode_write_request
    )

    labels_col = F.col("labels")
    if external_labels:
        ext = F.create_map(
            *[
                F.lit(x)
                for kv in sorted(external_labels.items())
                for x in kv
            ]
        )
        labels_col = F.map_concat(
            F.map_filter(
                ext,
                lambda k, _v: ~F.array_contains(
                    F.map_keys(F.col("labels")), k
                ),
            ),
            F.col("labels"),
        )

    # FLOOR µs→ms (not `div`, which truncates toward zero): a pre-1970
    # negative timestamp must round the same way the decoder's
    # ms→µs*1000 expects, or the round trip shifts it by 1 ms.
    # (ts_us - pmod(ts_us, 1000)) is exactly divisible, so the long
    # `div` IS the floor — no double-precision detour.
    cols = samples.select(
        "metric",
        labels_col.alias("labels"),
        F.expr("(ts_us - pmod(ts_us, 1000)) div 1000").alias("ts_ms"),
        "value",
    )

    def kernel(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        rows = []
        for pdf in batches:
            for metric, labels, ts_ms, value in zip(
                pdf["metric"], pdf["labels"], pdf["ts_ms"], pdf["value"]
            ):
                lbls = dict(labels)
                lbls["__name__"] = metric
                rows.append((lbls, int(ts_ms), float(value)))
        if not rows:
            yield pd.DataFrame({"payload": pd.Series([], dtype=object)})
            return
        rows.sort(key=lambda r: (sorted(r[0].items()), r[1]))
        yield pd.DataFrame({"payload": [encode(rows)]})

    return cols.mapInPandas(kernel, "payload binary")


def push_write_requests(
    payloads: DataFrame,
    url: str,
    timeout_s: float = 30.0,
    retries: int = 2,
    payload_col: str = "payload",
    protocol: str = "1.0",
    extra_headers: "dict | None" = None,
) -> DataFrame:
    """The SEND half of the pairing: POST each WriteRequest payload
    to a remote-write endpoint from the EXECUTORS — one HTTP POST per
    payload inside an Arrow-batched kernel, so a 1000-partition
    relation pushes with the scan's parallelism and the driver never
    touches a byte. Returns (status, n_bytes, attempts) per payload.

    Retry semantics follow upstream's sender: 5xx and 429 retry with
    capped exponential backoff (`retries` additional attempts), other
    4xx are permanent (a malformed payload will not become well-formed
    by retrying) and connection failures report status -1. Delivery
    problems are DATA in the result relation, never task failures —
    a dead receiver must not fail a 100 TB export job.

    `protocol="2.0"` stamps the spec's 2.0 negotiation headers
    (`Content-Type: …;proto=io.prometheus.write.v2.Request`,
    `X-Prometheus-Remote-Write-Version: 2.0.0`) — pair with payloads
    from `encode_write_requests(…, protocol="2.0")`."""
    import pandas as pd

    v2 = str(protocol).startswith("2")
    headers = {
        "Content-Type": V2_CONTENT_TYPE
        if v2
        else "application/x-protobuf",
        "Content-Encoding": "snappy",
        "X-Prometheus-Remote-Write-Version": "2.0.0" if v2 else "0.1.0",
    }
    if extra_headers:
        # a config entry's Authorization / custom headers ride every
        # executor-side POST (they serialize with the closure, never
        # through a logged plan option)
        headers.update(extra_headers)

    def kernel(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import time as _time
        import urllib.error
        import urllib.request

        rows = []
        for pdf in batches:
            for raw in pdf[payload_col]:
                if raw is None:
                    continue
                body = bytes(raw)
                status, attempts = -1, 0
                for attempt in range(retries + 1):
                    attempts = attempt + 1
                    try:
                        req = urllib.request.Request(
                            url,
                            data=body,
                            headers=dict(headers),
                            method="POST",
                        )
                        with urllib.request.urlopen(
                            req, timeout=timeout_s
                        ) as resp:
                            status = resp.status
                    except urllib.error.HTTPError as exc:
                        status = exc.code
                    except Exception:  # noqa: BLE001 - report, not raise
                        status = -1
                    retryable = status == -1 or status == 429 or (
                        500 <= status < 600
                    )
                    if not retryable:
                        break
                    if attempt < retries:
                        _time.sleep(min(0.1 * (2**attempt), 1.0))
                rows.append((status, len(body), attempts))
        yield pd.DataFrame(
            rows, columns=["status", "n_bytes", "attempts"]
        )

    return payloads.mapInPandas(
        kernel, "status int, n_bytes long, attempts int"
    )


def push_samples(
    samples: DataFrame,
    url: str,
    timeout_s: float = 30.0,
    retries: int = 2,
    protocol: str = "1.0",
    external_labels: "dict | None" = None,
    extra_headers: "dict | None" = None,
) -> DataFrame:
    """Encode the samples relation into one WriteRequest per partition
    and push every payload executor-side — the engine as a
    remote-write SENDER (repartition first to control payload
    sizing; `protocol="2.0"` sends the interned 2.0 wire;
    `external_labels` attach to every outgoing series lacking the
    name, upstream's `global.external_labels` boundary semantics;
    `extra_headers` carry a config entry's Authorization/custom
    headers). Returns the per-payload delivery relation."""
    return push_write_requests(
        encode_write_requests(
            samples, protocol=protocol, external_labels=external_labels
        ),
        url,
        timeout_s,
        retries,
        protocol=protocol,
        extra_headers=extra_headers,
    )


def remote_write_sink(
    samples_stream: DataFrame,
    url: str,
    timeout_s: float = 30.0,
    retries: int = 2,
    external_labels: "dict | None" = None,
):
    """Streaming remote-write sender: a `foreachBatch` sink that
    encodes each micro-batch per partition and POSTs the payloads
    from the executors — the continuous push loop a paired server
    runs (scrape tick in, remote-write out). Returns a
    DataStreamWriter; call .option("checkpointLocation", …).start().

    The per-batch collect is payload-count-sized (one status row per
    partition), used only to surface delivery failures in the driver
    log — the payload bytes never leave the executors."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        statuses = push_samples(
            batch_df, url, timeout_s, retries,
            external_labels=external_labels,
        ).collect()
        failed = [r for r in statuses if not 200 <= r["status"] < 300]
        if failed:
            print(
                f"remote_write_sink batch {batch_id}: "
                f"{len(failed)}/{len(statuses)} payloads failed "
                f"(statuses {sorted({r['status'] for r in failed})})"
            )

    return samples_stream.writeStream.foreachBatch(handle)


def apply_write_policy(
    samples: DataFrame,
    entry,
    external_labels: "dict | None" = None,
) -> DataFrame:
    """One `remote_write:` entry's outgoing-sample policy, upstream's
    ordering: `global.external_labels` attach FIRST (a series' own
    label wins), THEN the entry's `write_relabel_configs` run through
    the same compiled chain as scrape relabeling — so the hop can
    rewrite or drop the external labels, and a keep/drop rule becomes
    a pushable plan filter. Pure column expressions on the scan, no
    shuffle."""
    df = samples
    if external_labels:
        ext = F.create_map(
            *[
                F.lit(x)
                for kv in sorted(external_labels.items())
                for x in kv
            ]
        )
        df = df.withColumn(
            "labels",
            F.map_concat(
                F.map_filter(
                    ext,
                    lambda k, _v: ~F.array_contains(
                        F.map_keys(F.col("labels")), k
                    ),
                ),
                F.col("labels"),
            ),
        )
    rules = getattr(entry, "write_relabel_configs", None) or []
    if rules:
        from shards_prometheus_spark.operators.relabel import (
            apply_relabel,
        )

        df = apply_relabel(df, rules)
    return df


def push_samples_for_config(samples: DataFrame, cfg) -> "dict[str, DataFrame]":
    """The config-driven send: one push per `remote_write:` entry of
    a loaded ScrapeConfig, each through its own write policy
    (external_labels + write_relabel_configs), protocol
    (protobuf_message → 1.0/2.0 wire), timeout, and auth headers.
    Returns {entry name or url: per-payload delivery relation} —
    delivery problems stay DATA, per the sender contract."""
    out: "dict[str, DataFrame]" = {}
    for entry in getattr(cfg, "remote_write", None) or []:
        shaped = apply_write_policy(
            samples, entry, getattr(cfg, "external_labels", None)
        )
        out[entry.name or entry.url] = push_samples(
            shaped,
            entry.url,
            timeout_s=entry.timeout_s,
            protocol=entry.protocol,
            extra_headers=entry.request_headers(),
        )
    return out


def _rows_to_arrow(
    rows: "list[tuple[dict, int, float]]", start: int
) -> pa.Table:
    """(labels incl. __name__, ts_ms, value) rows at global ingest
    positions start, start+1, … → one Arrow table (event_id long,
    metric string, labels map<string,string>, label_user string,
    ts_us long, value double). event_id is -(position + 1); the
    labels map keeps each row's own label order minus __name__, and
    label_user is its `user` label."""
    metrics, users, ts_us, values = [], [], [], []
    offsets, keys, items = [0], [], []
    for labels, ts_ms, value in rows:
        metric = ""
        for k, v in labels.items():
            if k == "__name__":
                metric = v
            else:
                keys.append(k)
                items.append(v)
        offsets.append(len(keys))
        metrics.append(metric)
        users.append(labels.get("user"))
        ts_us.append(ts_ms * 1_000)
        values.append(value)
    n = len(rows)
    return pa.Table.from_arrays(
        [
            pa.array(range(-start - 1, -start - n - 1, -1), pa.int64()),
            pa.array(metrics, pa.string()),
            pa.MapArray.from_arrays(
                pa.array(offsets, pa.int32()),
                pa.array(keys, pa.string()),
                pa.array(items, pa.string()),
            ),
            pa.array(users, pa.string()),
            pa.array(ts_us, pa.int64()),
            pa.array(values, pa.float64()),
        ],
        names=["event_id", "metric", "labels", "label_user", "ts_us", "value"],
    )


class RemoteWriteReceiver:
    """POST `/api/v1/write` endpoint: the push half of the paired
    server. `samples(spark)` renders the store as the engine's
    samples relation, pluggable into MetricsExposer's `samples_fn`
    so the full read API serves pushed data.

    Store layout — an append-only table of immutable parquet blocks,
    the paired server's head plus on-disk blocks:

    - **tuple tail**: `receive` / `ingest_rows` only append the parsed
      (labels, ts_ms, value) tuples under `_lock`. Ingest does no
      conversion, so a push costs its decode and a list extend,
      never a share of the store's size.
    - **blocks**: each `samples` call converts just the tail pushed
      since the previous call into one Arrow table, writes it as one
      parquet file in the receiver's block directory (made on the
      first render under the process temp dir), keeps the (table,
      file) pair as a new block, drops the converted tuples, and
      returns ONE file scan over the live blocks — so a read's
      `metric` and `ts_us` predicates reach the parquet reader.
    - **merge rule**: while the newest block has at least half the
      rows of the one before it, the two Arrow tables (kept in
      memory; no block is read back from disk) are concatenated and
      written as one new block (log-structured, no size setting).
      Block sizes therefore at least halve from oldest to newest, so
      a read lists O(log n) files and each row is rewritten at most
      log2 n times.
    - **snapshot rule**: a returned DataFrame is a snapshot that later
      pushes do not change, and it stays readable after later merges:
      a merged-away block's file stays on disk while the receiver
      lives (O(n log n) bytes over the store's life). `stop()` — or
      the receiver's finalizer, for one that is dropped unstopped —
      removes the directory; a read after `stop()` writes the live
      blocks again.

    `_render_lock` serialises renders. On a cluster the block
    directory must be readable by the executors, as the base store
    already must be."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0):
        self.host, self.port = host, port
        #: tuples pushed since the last render (the unconverted tail)
        self._rows: list[tuple[dict, int, float]] = []
        #: rows already converted into blocks
        self._n_done = 0
        #: (Arrow table, its parquet file), sizes halving oldest→newest
        self._blocks: list[tuple[pa.Table, str]] = []
        #: the block directory (None until the first render and after
        #: stop) and the finalizer that removes it
        self._dir: "str | None" = None
        self._remove_dir: "weakref.finalize | None" = None
        #: files written so far (names each new block)
        self._n_files = 0
        #: v2 side data (the 2.0 spec's metadata/exemplars/created
        #: fields), landed in the engine's existing side-relation
        #: shapes — see parse_write_request_v2_full
        self._exemplars: list = []
        self._metadata: dict = {}
        self._created: list = []
        self._lock = threading.Lock()
        self._render_lock = threading.Lock()
        self._httpd = None
        self._thread = None

    # -- ingest ----------------------------------------------------------
    def receive(
        self, payload: bytes, content_type: "str | None" = None
    ) -> "int | tuple[int, int]":
        """Ingest one WriteRequest body — 1.0 or, when the request's
        Content-Type names `io.prometheus.write.v2.Request`, the 2.0
        interned-symbols wire (side data — metadata, exemplars,
        created timestamps — stored beside the samples).

        Return shape is CONTENT-TYPE DEPENDENT: a 1.0 body returns
        the plain sample count (int); a 2.0 body returns the
        ``(samples, exemplars)`` pair the 2.0 response headers
        (X-Prometheus-Remote-Write-Samples/Exemplars-Written) report.
        Callers that only want a count should branch on
        ``isinstance(n, tuple)`` or use ``ingest_rows`` directly."""
        if is_v2_content_type(content_type):
            rows, exemplars, metadata, created = (
                parse_write_request_v2_full(payload)
            )
            with self._lock:
                self._exemplars.extend(exemplars)
                self._metadata.update(metadata)
                self._created.extend(created)
            return self.ingest_rows(rows), len(exemplars)
        return self.ingest_rows(parse_write_request(payload))

    def ingest_rows(self, rows: "list[tuple[dict, int, float]]") -> int:
        """Append already-parsed (labels, ts_ms, value) triples — the
        shared store entry point for the OTHER ingestion wires (the
        OTLP receiver decodes to the same triple shape)."""
        with self._lock:
            self._rows.extend(rows)
        return len(rows)

    @property
    def n_rows(self) -> int:
        with self._lock:
            return self._n_done + len(self._rows)

    @property
    def n_exemplars(self) -> int:
        with self._lock:
            return len(self._exemplars)

    def metadata(self) -> dict:
        """Pushed 2.0 per-family metadata: {metric: {type, help,
        unit}} — merged into `/api/v1/metadata` by the exposer."""
        with self._lock:
            return dict(self._metadata)

    def exemplars(self, spark: SparkSession) -> DataFrame:
        """Pushed 2.0 exemplars as the `openmetrics_exemplars` side
        relation (metric, label_user, le, trace_id, ex_value, ex_ts
        seconds) — what `/api/v1/query_exemplars` serves."""
        with self._lock:
            snapshot = list(self._exemplars)
        return spark.createDataFrame(
            snapshot,
            "metric string, label_user string, le string, "
            "trace_id string, ex_value double, ex_ts double",
        )

    def created(self, spark: SparkSession) -> DataFrame:
        """Pushed 2.0 created timestamps as the
        `openmetrics_created` side relation (metric, kind,
        label_user, created_s)."""
        with self._lock:
            snapshot = list(self._created)
        return spark.createDataFrame(
            snapshot,
            "metric string, kind string, label_user string, "
            "created_s double",
        )

    def samples(self, spark: SparkSession) -> DataFrame:
        """The pushed store as the §1.2 samples relation: the tail
        pushed since the last call becomes a new block (see the class
        docstring), and one parquet scan of the live blocks is
        returned.

        series_id comes from model.series_id_expr — the SAME canonical
        hash every base relation uses — so a push targeting an
        existing (metric, labels) series lands in the same window
        partition as the base rows instead of splitting one logical
        series in two. event_id is namespaced NEGATIVE (-1, -2, … in
        ingest order): the base corpus's event_ids are non-negative,
        so the (ts_us, event_id) LAG tiebreak in increase/rate folds
        stays deterministic across the union (pushed rows order
        before base rows at an equal timestamp)."""
        from shards_prometheus_spark.model import series_id_expr

        with self._render_lock:
            if self._dir is None and self._blocks:  # released by stop()
                self._blocks = [(t, self._write(t)) for t, _ in self._blocks]
            # the tail stays in _rows until its block exists, so
            # n_rows never dips and a failed write loses nothing
            with self._lock:
                tail, start = list(self._rows), self._n_done
            n = len(tail)
            if n or not self._blocks:
                table = _rows_to_arrow(tail, start)
                keep = list(self._blocks)
                while keep and 2 * table.num_rows >= keep[-1][0].num_rows:
                    older, _path = keep.pop()
                    table = pa.concat_tables([older, table])
                self._blocks = keep + [(table, self._write(table))]
                with self._lock:
                    del self._rows[:n]
                    self._n_done += n
            paths = [path for _t, path in self._blocks]
        return (
            spark.read.schema(BLOCK_SCHEMA)
            .parquet(*paths)
            .withColumn("series_id", series_id_expr("metric", "labels"))
        )

    def _write(self, table: pa.Table) -> str:
        """Write one block file (making the block directory first if
        there is none) and return its path."""
        if self._dir is None:
            self._dir = tempfile.mkdtemp(prefix="pushed-blocks-")
            self._remove_dir = weakref.finalize(
                self, shutil.rmtree, self._dir, ignore_errors=True
            )
        self._n_files += 1
        path = os.path.join(self._dir, f"block-{self._n_files:06d}.parquet")
        pq.write_table(table, path)
        return path

    # -- HTTP ------------------------------------------------------------
    def start(self) -> "RemoteWriteReceiver":
        import http.server

        outer = self

        class Handler(http.server.BaseHTTPRequestHandler):
            def do_POST(self):  # noqa: N802 - stdlib contract
                if self.path != "/api/v1/write":
                    self.send_error(404)
                    return
                handle_write_post(self, outer.receive)

            def log_message(self, *args):  # quiet
                pass

        self._httpd = http.server.ThreadingHTTPServer(
            (self.host, self.port), Handler
        )
        self.port = self._httpd.server_address[1]
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        """Stop the HTTP server (if started) and remove the block
        directory: frames returned before now stop being readable."""
        if self._httpd is not None:
            self._httpd.shutdown()
            self._httpd.server_close()
            self._httpd = None
        with self._render_lock:
            if self._remove_dir is not None:
                self._remove_dir()
                self._dir = self._remove_dir = None


def roundtrip_write_requests(samples: DataFrame) -> DataFrame:
    """Fused encode→decode wire round trip: each partition's rows are
    encoded into ONE WriteRequest payload and immediately parsed back
    inside the SAME Arrow-batched kernel — the identical byte path as
    `decode_write_requests(encode_write_requests(s))` (same encoder,
    same parser, same per-partition payload framing) with ONE
    JVM↔Python worker crossing per task instead of two (guide §4.2:
    keep the work per batch, halve the boundary crossings). The
    intermediate payload bytes exist only inside the kernel."""
    import pandas as pd

    cols = samples.select(
        "metric",
        "labels",
        F.expr("(ts_us - pmod(ts_us, 1000)) div 1000").alias("ts_ms"),
        "value",
    )

    def kernel(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        rows = []
        for pdf in batches:
            for metric, labels, ts_ms, value in zip(
                pdf["metric"], pdf["labels"], pdf["ts_ms"], pdf["value"]
            ):
                lbls = dict(labels)
                lbls["__name__"] = metric
                rows.append((lbls, int(ts_ms), float(value)))
        out = []
        if rows:
            rows.sort(key=lambda r: (sorted(r[0].items()), r[1]))
            payload = encode_write_request(rows)
            for labels, ts_ms, value in parse_write_request(payload):
                lbls = dict(labels)
                metric = lbls.pop("__name__", "")
                out.append(
                    (
                        metric,
                        lbls,
                        lbls.get("user"),
                        ts_ms * 1_000,
                        value,
                    )
                )
        yield pd.DataFrame(
            out,
            columns=["metric", "labels", "label_user", "ts_us", "value"],
        )

    return cols.mapInPandas(kernel, DECODED_SCHEMA)


def remote_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered parity query: the samples relation encoded into
    remote-write payloads (one per partition, DISTRIBUTED) and decoded
    back (DISTRIBUTED), then folded to per-series counter state —
    proving the wire codecs preserve every (series, timestamp, value)
    triple. Encode and decode run FUSED in one kernel
    (`roundtrip_write_requests` — same bytes, one Python worker round
    trip per task instead of two). The oracle computes the same fold
    straight off the events table (timestamps truncate to ms on the
    wire, so the fold compares at ms).

    Payload framing (one WriteRequest per partition) scales with the
    core count instead of a fixed 8: the kernel is a per-row Python
    loop, so a pinned width caps the encode at 8-way however large
    the relation (the sf1 rehearsal measured 3.3× at 10× data on the
    fixed framing) — the decoded fold is framing-invariant, so the
    result is unchanged at any width."""
    from shards_prometheus_spark.model import samples

    n_payloads = max(8, spark.sparkContext.defaultParallelism)
    s = samples(spark, sf_dir).repartition(
        n_payloads, "metric", "label_user"
    )
    decoded = roundtrip_write_requests(s)
    return (
        decoded.groupBy("metric", "label_user")
        .agg(
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.count(F.lit(1)).alias("n_samples"),
            F.max(F.expr("ts_us div 1000")).alias("last_ts_ms"),
        )
        .orderBy("metric", "label_user")
    )


QUERIES = {"remote_write_roundtrip": remote_write_roundtrip}


def _roundtrip_sql() -> str:
    from shards_prometheus_spark.model import SAMPLES_CTE, dround

    return (
        f"{SAMPLES_CTE} "
        "SELECT metric, label_user, "
        + dround("SUM(value)", 4)
        + " AS sum_value, COUNT(*) AS n_samples, "
        "MAX(ts_us // 1000) AS last_ts_ms "
        "FROM samples GROUP BY metric, label_user"
    )


ORACLES = {"remote_write_roundtrip": _roundtrip_sql()}
