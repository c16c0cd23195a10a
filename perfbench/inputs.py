"""Seeded input generators.

Everything the engine sees in a benchmark run is made here from the
run's seed: the events-schema parquet store (FIXTURES.md section B),
the documents/embeddings corpus with planted duplicates, and the
pre-encoded remote-write payloads. The encoders are the benchmark's
own (protobuf + snappy with copy elements, as real senders emit), so
the payloads do not change when the engine's encoder changes.
"""

from __future__ import annotations

import json
import os
import random
import struct
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: 2024-01-01T00:00:00Z in microseconds.
T0_US = 1_704_067_200 * 1_000_000
DAY_US = 86_400 * 1_000_000
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
LANGS = ("en", "en", "en", "de", "fr", "es", "zh")
WORDS = (
    "a the row key agg scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small customer query "
    "big stream filter group vector metric label series sample counter "
    "gauge bucket rate range shard node disk cache flush"
).split()


# -- events store ------------------------------------------------------
def write_events(
    path: str, rng: random.Random, n_rows: int, n_users: int, days: int
) -> dict:
    """events.parquet: event_id, ts (TIMESTAMP nanos), user_id,
    event_type, value, props ('{"k": K}'). Returns the time range."""
    ts_us = sorted(
        T0_US + rng.randrange(days * DAY_US) for _ in range(n_rows)
    )
    table = pa.table(
        {
            "event_id": pa.array(range(n_rows), pa.int64()),
            "ts": pa.array(
                [t * 1000 for t in ts_us], pa.timestamp("ns")
            ),
            "user_id": pa.array(
                [rng.randrange(n_users) for _ in range(n_rows)], pa.int64()
            ),
            "event_type": pa.array(
                [rng.choice(EVENT_TYPES) for _ in range(n_rows)]
            ),
            "value": pa.array(
                [
                    round(max(0.01, rng.expovariate(1 / 50.0)), 2)
                    for _ in range(n_rows)
                ],
                pa.float64(),
            ),
            "props": pa.array(
                [f'{{"k": {rng.randrange(100)}}}' for _ in range(n_rows)]
            ),
        }
    )
    pq.write_table(table, path)
    return {"t_min_us": ts_us[0], "t_max_us": ts_us[-1]}


# -- documents / embeddings corpus -------------------------------------
def write_documents(
    path: str, rng: random.Random, n_docs: int, dup_share: float
) -> dict:
    """documents.parquet with a planted share of exact and near
    duplicates. Returns the plant record: `exact` maps each copy's
    doc_id to its original, `near` lists (original, copy) pairs whose
    copy repeats one more word (unigram Jaccard 1, text not equal)."""
    texts: list[str] = []
    exact: dict[int, int] = {}
    near: list[tuple[int, int]] = []
    seen: set[str] = set()  # every text but the exact copies
    for doc_id in range(n_docs):
        if doc_id >= 10 and rng.random() < dup_share:
            src = rng.randrange(doc_id)
            while src in exact:
                src = exact[src]
            if rng.random() < 0.5:
                exact[doc_id] = src
                texts.append(texts[src])
                continue
            # repeat one of the doc's words at its end: a different
            # text (and md5) over the same token set, so the unigram
            # Jaccard is 1 and every MinHash band agrees
            text = texts[src] + " " + rng.choice(texts[src].split())
            if text not in seen:
                near.append((src, doc_id))
                texts.append(text)
                seen.add(text)
                continue
        n_words = rng.randrange(40, 90)
        texts.append(" ".join(rng.choice(WORDS) for _ in range(n_words)))
        seen.add(texts[-1])
    table = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array([rng.choice(LANGS) for _ in range(n_docs)]),
            "source": pa.array(
                [f"src{rng.randrange(20)}" for _ in range(n_docs)]
            ),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(table, path)
    return {"exact": exact, "near": near}


def write_embeddings(
    path: str, seed: int, n: int, dim: int = 64, n_labels: int = 10
) -> None:
    """embeddings.parquet: vec_id, embedding FLOAT[dim], label — label
    centroids plus noise, so neighbours mostly share a label."""
    # numpy takes only non-negative seeds; --seed may be any integer
    g = np.random.default_rng(seed % 2**64)
    centers = g.normal(0.0, 0.15, (n_labels, dim))
    labels = g.integers(0, n_labels, n)
    vecs = (centers[labels] + g.normal(0.0, 0.05, (n, dim))).astype(
        np.float32
    )
    table = pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32), pa.int32()),
        }
    )
    pq.write_table(table, path)


def make_store(
    root: str,
    seed: int,
    n_events: int,
    n_users: int = 150,
    days: int = 30,
    n_docs: int = 0,
    dup_share: float = 0.1,
    n_vecs: int = 0,
) -> dict:
    """Write one store directory under `root`; return its manifest
    (time range, planted duplicates), also saved as manifest.json
    beside the tables for inspection."""
    os.makedirs(root, exist_ok=True)
    rng = random.Random(seed)
    manifest: dict = {"seed": seed, "n_events": n_events}
    manifest.update(
        write_events(f"{root}/events.parquet", rng, n_events, n_users, days)
    )
    if n_docs:
        manifest["plants"] = write_documents(
            f"{root}/documents.parquet", rng, n_docs, dup_share
        )
    if n_vecs:
        write_embeddings(f"{root}/embeddings.parquet", seed, n_vecs)
    with open(f"{root}/manifest.json", "w") as f:
        json.dump(manifest, f)
    return manifest


# -- remote-write payloads ---------------------------------------------
def _uvarint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _pb_len(field_no: int, body: bytes) -> bytes:
    return _uvarint((field_no << 3) | 2) + _uvarint(len(body)) + body


#: Sample.value (field 1, fixed64 double); Sample.timestamp is field 2
_DOUBLE = struct.Struct("<d")


def _snappy_literal(out: bytearray, lit: bytes) -> None:
    n = len(lit) - 1
    if n < 0:
        return
    if n < 60:
        out.append(n << 2)
    else:
        nbytes = (n.bit_length() + 7) // 8
        out.append((59 + nbytes) << 2)
        out += n.to_bytes(nbytes, "little")
    out += lit


def _snappy_copy(out: bytearray, offset: int, length: int) -> None:
    while length > 0:
        n = min(length, 64)
        if offset < 1 << 16:
            out.append(((n - 1) << 2) | 2)
            out += offset.to_bytes(2, "little")
        else:
            out.append(((n - 1) << 2) | 3)
            out += offset.to_bytes(4, "little")
        length -= n


def snappy_pieces(pieces: "list[bytes]") -> bytes:
    """Snappy block stream of the concatenated pieces: a piece seen
    before becomes a copy element pointing at its first occurrence,
    others are literals. Valid for any snappy decoder; repeated label
    pairs compress the way a byte-level matcher would find them."""
    total = sum(len(p) for p in pieces)
    out = bytearray(_uvarint(total))
    seen: dict[bytes, int] = {}
    pos = 0
    pending = bytearray()
    for p in pieces:
        first = seen.get(p)
        if first is not None and len(p) >= 4:
            _snappy_literal(out, bytes(pending))
            pending.clear()
            _snappy_copy(out, pos - first, len(p))
        else:
            seen.setdefault(p, pos)
            pending += p
        pos += len(p)
    _snappy_literal(out, bytes(pending))
    return bytes(out)


@dataclass
class Payload:
    body: bytes
    n_samples: int
    #: samples per metric name, for the visibility checks
    per_metric: dict = field(default_factory=dict)
    #: sum of sample values, for the store-content check
    value_sum: float = 0.0


RW_METRICS = (
    "rw_http_requests_total",
    "rw_cpu_seconds_total",
    "rw_memory_bytes",
    "rw_queue_depth",
    "rw_gc_pauses_total",
)


def make_payloads(
    seed: int,
    n_payloads: int,
    series_per_payload: int = 250,
    samples_per_series: int = 4,
    n_instances: int = 40,
    t0_ms: int = (T0_US + 40 * DAY_US) // 1000,
) -> "list[Payload]":
    """Pre-encoded remote-write 1.0 WriteRequests of
    series_per_payload x samples_per_series samples each. Series are
    drawn from a pool of len(RW_METRICS) x n_instances x 8 label sets
    (seeded job/instance/path values); payload i stamps its samples
    after payload i-1's, so each series stays in time order."""
    rng = random.Random(seed ^ 0x5EED)
    jobs = [f"job{rng.randrange(1000)}" for _ in range(4)]
    pool = []
    for m in RW_METRICS:
        for inst in range(n_instances):
            for path_i in range(8):
                pool.append(
                    (
                        m,
                        (
                            ("__name__", m),
                            ("instance", f"10.0.{inst}.{rng.randrange(256)}:9100"),
                            ("job", jobs[inst % len(jobs)]),
                            ("path", f"/api/v{path_i}"),
                        ),
                    )
                )
    rng.shuffle(pool)
    # TimeSeries.labels (field 1) of Label{name = 1, value = 2}
    label_msgs = {
        lbls: [
            _pb_len(1, _pb_len(1, k.encode()) + _pb_len(2, v.encode()))
            for k, v in lbls
        ]
        for _m, lbls in pool
    }
    out = []
    cursor = 0
    step_ms = 15_000
    for i in range(n_payloads):
        base_ms = t0_ms + i * samples_per_series * step_ms
        # every series of a payload shares its timestamps: encode each
        # Sample's framing once per payload
        framing = []
        for j in range(samples_per_series):
            ts = b"\x10" + _uvarint(base_ms + j * step_ms)
            head = _uvarint(0x12) + _uvarint(9 + len(ts)) + b"\x09"
            framing.append((head, ts))
        values = [
            round(rng.uniform(0, 1000), 3)
            for _ in range(series_per_payload * samples_per_series)
        ]
        pieces: list[bytes] = []
        per_metric: dict[str, int] = {}
        for s_i in range(series_per_payload):
            metric, lbls = pool[cursor % len(pool)]
            cursor += 1
            vals = values[s_i * samples_per_series:(s_i + 1) * samples_per_series]
            samples = [
                head + _DOUBLE.pack(v) + ts
                for (head, ts), v in zip(framing, vals)
            ]
            size = sum(map(len, label_msgs[lbls])) + sum(map(len, samples))
            # WriteRequest.timeseries (field 1): header, labels, samples
            pieces.append(b"\x0a" + _uvarint(size))
            pieces.extend(label_msgs[lbls])
            pieces.extend(samples)
            per_metric[metric] = per_metric.get(metric, 0) + samples_per_series
        out.append(
            Payload(
                body=snappy_pieces(pieces),
                n_samples=series_per_payload * samples_per_series,
                per_metric=per_metric,
                value_sum=sum(values),
            )
        )
    return out
