"""The benchmark's four workloads.

A workload builds its inputs from the seed (`__init__`), sets the
engine up several times and keeps the median as setup_s (`setup`),
then measures once for the run length (`measure`, with or without a
tracer installed) and checks the engine's outputs (`check`). `measure`
returns a `Pass`: the timed operations, the figures the report needs,
and the checks' raw material.
"""

from __future__ import annotations

import http.client
import json
import math
import os
import random
import statistics
import threading
import time
from dataclasses import dataclass, field
from urllib.parse import quote

from perfbench import checks, inputs
from perfbench.trace import REQ_PARAM, Tracer

#: how many times a workload sets the engine up; setup_s is the median
SETUP_REPS = 5
#: HTTP client threads of the closed-loop dashboard readers
DASHBOARD_CLIENTS = 2
#: write-request latency limit a sustained ingest rate must meet at its
#: tail percentile, with no growing backlog
WRITE_LIMIT_MS = 100.0
#: open-loop ingest rates, in write requests of 1,000 samples per second
INGEST_RATES = (10, 30, 120)
#: push rate of ingest_with_reads, below the sustainable ingest rate
MIXED_PUSH_RATE = 3
#: write requests pushed into ingest_with_reads' store before its
#: measured window, so every read rebuilds a store of 30k+ samples
MIXED_PREFILL_PAYLOADS = 30
#: sender threads of the open-loop generators
SENDERS = 4
#: the registry queries of one pipeline_batch pass, in run order
PIPELINE_QUERIES = (
    "dedup_exact",
    "dedup_near",
    "dedup_ngram_jaccard",
    "similarity_topk",
    "text_quality_score",
    "pack_chunks",
    "contamination_ngram",
    "rollup_hourly",
    "recording_rules",
    "alert_rules_for",
)
#: pipeline_batch's corpus: the row counts of the engine's sf0.01 test
#: data (events over 30 days, ~300-character documents, 64-d vectors),
#: a tenth of the sf0.1 data; a cold pass at sf0.1 and its output check
#: take over two minutes on 4 cores, past the run budget
PIPELINE_SHAPE = {"n_events": 10_000, "n_users": 150, "n_docs": 500,
                  "n_vecs": 500}
REMOTE_WRITE_HEADERS = {
    "Content-Type": "application/x-protobuf",
    "Content-Encoding": "snappy",
    "X-Prometheus-Remote-Write-Version": "0.1.0",
}


@dataclass
class Op:
    kind: str
    due: float
    send: float
    done: float
    ok: bool
    nbytes: int = 0

    @property
    def latency_ms(self) -> float:
        return (self.done - self.due) * 1000.0


@dataclass
class Pass:
    """One measured pass of a workload."""

    ops: list
    #: the operations the end-to-end latency metrics are taken over
    gated: list
    #: operations per second the workload reports as its throughput
    ops_per_s: float
    peak_rss_mb: float
    detail: dict = field(default_factory=dict)


# -- helpers -----------------------------------------------------------
class Client:
    """One HTTP/1.0 request per call (the exposer's handler closes the
    connection after each reply). With a tracer, adds the request id
    parameter and records the round trip as a client span."""

    def __init__(self, host: str, port: int, tracer: "Tracer | None" = None):
        self.host, self.port, self.tracer = host, port, tracer

    def call(self, method: str, path: str, body: "bytes | None" = None,
             headers: "dict | None" = None) -> "tuple[int, bytes]":
        if self.tracer is None:
            return self._send(method, path, body, headers)
        req = self.tracer.new_request()
        sep = "&" if "?" in path else "?"
        with self.tracer.span("client.request", req=req):
            out = self._send(
                method, f"{path}{sep}{REQ_PARAM}={req}", body, headers
            )
        self.tracer.set_request(None)
        return out

    def _send(self, method, path, body, headers):
        conn = http.client.HTTPConnection(self.host, self.port, timeout=120)
        try:
            conn.request(method, path, body=body, headers=headers or {})
            resp = conn.getresponse()
            return resp.status, resp.read()
        finally:
            conn.close()


def percentile(values: "list[float]", p: float) -> float:
    """Nearest-rank percentile (p in 0..100)."""
    s = sorted(values)
    if not s:
        return float("nan")
    k = max(0, min(len(s) - 1, math.ceil(p / 100.0 * len(s)) - 1))
    return s[k]


def tail_summary(values: "list[float]") -> dict:
    """Median plus the highest of p99/p90/p75 that has at least ten
    samples beyond it, and the sample count."""
    n = len(values)
    out = {"n": n, "p50": percentile(values, 50)}
    for p in (99, 90, 75):
        if n * (1 - p / 100.0) >= 10:
            out[f"p{p}"] = percentile(values, p)
            break
    return out


def rss_mb() -> float:
    with open("/proc/self/statm") as f:
        pages = int(f.read().split()[1])
    return pages * os.sysconf("SC_PAGE_SIZE") / 2**20


class RssSampler:
    """Peak resident set size of this process (engine and pushed store)
    over a window."""

    def __init__(self, period_s: float = 0.05):
        self.peak = rss_mb()
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, args=(period_s,))

    def _run(self, period_s: float) -> None:
        while not self._stop.wait(period_s):
            self.peak = max(self.peak, rss_mb())

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join()
        self.peak = max(self.peak, rss_mb())


def start_exposer(spark, store: str, remote_write: bool = False):
    from shards_prometheus_spark.sources.exposition import MetricsExposer

    return MetricsExposer(spark, store, remote_write=remote_write).start()


def clear_caches(spark) -> int:
    from shards_prometheus_spark.operators.tierc_common import clear_caches

    return clear_caches(spark)


def api_ok(status: int, body: bytes) -> "dict | None":
    """The parsed JSON of a successful API reply, else None."""
    if status != 200:
        return None
    try:
        doc = json.loads(body)
    except ValueError:
        return None
    return doc if doc.get("status") == "success" else None


def _q(expr: str) -> str:
    return quote(expr, safe="")


def timed_median(reps: int, once) -> float:
    """Median seconds of `reps` calls of `once`; a callable it returns
    is a cleanup, run after the clock stops."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        cleanup = once()
        times.append(time.perf_counter() - t0)
        if cleanup is not None:
            cleanup()
    return statistics.median(times)


def _closed_loop(n_clients: int, seconds: float, body) -> float:
    """Run `body(i, deadline)`, which returns how many operations it
    completed, on n_clients threads. Returns the summed per-client
    rate: each client's operations over its own active time, so a
    client finishing its last refresh late does not stretch the
    others' window."""
    t0 = time.perf_counter()
    deadline = t0 + seconds
    rates = []

    def run(i):
        n = body(i, deadline)
        rates.append(n / (time.perf_counter() - t0))

    ts = [threading.Thread(target=run, args=(i,)) for i in range(n_clients)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    return sum(rates)


class Workload:
    name = ""
    setup_reps = SETUP_REPS

    def __init__(self, spark, seed: int, work: str, seconds: float):
        self.spark, self.seed, self.work = spark, seed, work
        self.seconds = seconds
        self.store = f"{work}/store"

    def setup(self) -> float:
        raise NotImplementedError

    def measure(self, tracer: "Tracer | None") -> Pass:
        raise NotImplementedError

    def check(self) -> "list[str]":
        return []

    def close(self) -> None:
        pass


# -- dashboard_read ----------------------------------------------------
WINDOW_S = {"6h": 21_600, "12h": 43_200, "1d": 86_400, "2d": 172_800}


def dashboard_cycle(rng: random.Random, man: dict) -> "list[tuple]":
    """One dashboard refresh: (kind, path, check) per request, metric,
    matchers and windows drawn from `rng`. `check` is None or the
    (function, metric, window_s, time_s) of a DuckDB-checked answer;
    the first request is the checked one."""
    t_lo = man["t_min_us"] // 1_000_000 + 3 * 86_400
    t_hi = man["t_max_us"] // 1_000_000
    m = rng.choice(inputs.EVENT_TYPES)
    w = rng.choice(sorted(WINDOW_S))
    t = rng.randrange(t_lo, t_hi)
    k = rng.randrange(3, 10)
    label = rng.choice(("user", "shard", "__name__"))
    shard = rng.randrange(10)
    fn = rng.choice(("sum_over_time", "count_over_time"))
    hq = f"histogram_quantile(0.9, sum by (le) (rate({m}_bucket[{w}])))"
    return [
        ("instant", f"/api/v1/query?query="
         f"{_q(f'sum by (shard) ({fn}({m}[{w}]))')}&time={t}",
         (fn, m, WINDOW_S[w], t)),
        ("instant", f"/api/v1/query?query="
         f"{_q(f'topk({k}, sum by (user) (rate({m}[{w}])))')}&time={t}",
         None),
        ("instant", f"/api/v1/query?query={_q(hq)}&time={t}", None),
        ("range", f"/api/v1/query_range?query="
         f"{_q(f'sum by (shard) (rate({m}[1h]))')}"
         f"&start={t - 86_400}&end={t}&step=3600", None),
        ("series", "/api/v1/series?match[]="
         + _q(m + '{shard="%d"}' % shard)
         + f"&start={t - WINDOW_S[w]}&end={t}", None),
        ("labels", f"/api/v1/label/{label}/values", None),
        ("scrape", "/metrics", None),
    ]


class DashboardRead(Workload):
    """Closed loop of DASHBOARD_CLIENTS clients over HTTP, each walking
    its own seeded sequence of dashboard refreshes until the deadline."""

    name = "dashboard_read"

    def __init__(self, *a):
        super().__init__(*a)
        self.manifest = inputs.make_store(self.store, self.seed, 20_000)
        self.answers: list = []
        self.exposer = None

    def setup(self) -> float:
        self._warm_up()
        first = dashboard_cycle(random.Random(self.seed), self.manifest)[0][1]
        started = []

        def once():
            clear_caches(self.spark)
            ex = start_exposer(self.spark, self.store)
            started.append(ex)
            if api_ok(*Client(ex.host, ex.port).call("GET", first)) is None:
                raise RuntimeError("first dashboard request failed")

        try:
            return timed_median(self.setup_reps, once)
        finally:
            # the last set-up's exposer serves the measured pass
            self.exposer = started.pop() if started else None
            for ex in started:
                ex.stop()

    def _warm_up(self) -> None:
        """One untimed refresh on a throwaway exposer, drawn from an rng
        no measured client uses, its requests sent at once. It has the
        JVM compile its code for every request shape; without it the
        first measured refresh runs up to twice as slow as the next."""
        ex = start_exposer(self.spark, self.store)
        cl = Client(ex.host, ex.port)
        ts = [
            threading.Thread(target=cl.call, args=("GET", path))
            for _kind, path, _check in dashboard_cycle(
                random.Random(-1), self.manifest
            )
        ]
        try:
            for t in ts:
                t.start()
            for t in ts:
                t.join()
        finally:
            ex.stop()

    def measure(self, tracer):
        cl = Client(self.exposer.host, self.exposer.port, tracer)
        ops: list[Op] = []
        refreshes: list[Op] = []
        lock = threading.Lock()
        base = (self.seed + 1) * DASHBOARD_CLIENTS

        def client(i, deadline):
            # refresh after refresh, no new request after the deadline
            # once one refresh is whole: the window holds at most one
            # partial refresh per client, which counts in the request
            # figures only
            rng = random.Random(base + i)
            n = whole = 0
            while True:
                r0 = time.perf_counter()
                r_ok = True
                for kind, path, check in dashboard_cycle(rng, self.manifest):
                    if whole and time.perf_counter() >= deadline:
                        return n
                    n += 1
                    t0 = time.perf_counter()
                    status, body = cl.call("GET", path)
                    t1 = time.perf_counter()
                    if kind == "scrape":
                        doc = None
                        ok = status == 200 and body.startswith(b"# ")
                    else:
                        doc = api_ok(status, body)
                        ok = doc is not None
                    r_ok &= ok
                    with lock:
                        ops.append(Op(kind, t0, t0, t1, ok, len(body)))
                        if check is not None and ok:
                            self.answers.append((check, doc["data"]))
                whole += 1
                with lock:
                    refreshes.append(Op("refresh", r0, r0, t1, r_ok))

        with RssSampler() as rss:
            rate = _closed_loop(DASHBOARD_CLIENTS, self.seconds, client)
        # latency is gated per refresh, the wait a dashboard user sees;
        # one request's latency depends on which request shape it is
        return Pass(ops, refreshes, rate, rss.peak)

    def check(self):
        return checks.dashboard_answers(self.store, self.answers)

    def close(self):
        if self.exposer is not None:
            self.exposer.stop()


# -- open-loop remote-write sender -------------------------------------
class Pusher:
    """Sends pre-encoded payloads in order and remembers which were
    acknowledged (HTTP 204) and when."""

    def __init__(self, payloads: list):
        self.payloads = payloads
        self.cursor = 0
        self.lock = threading.Lock()
        self.client: "Client | None" = None
        #: (payload index, ack time) of this pusher's acknowledged sends
        self.acked: list = []

    def push_next(self) -> "tuple[bool, float]":
        with self.lock:
            if self.cursor >= len(self.payloads):
                raise RuntimeError("ran out of pre-encoded payloads")
            idx = self.cursor
            self.cursor += 1
        status, _ = self.client.call(
            "POST", "/api/v1/write", self.payloads[idx].body,
            REMOTE_WRITE_HEADERS,
        )
        t = time.perf_counter()
        if status == 204:
            with self.lock:
                self.acked.append((idx, t))
        return status == 204, t

    def acked_payloads(self, since: int = 0) -> list:
        """Payloads acknowledged, from the `since`-th acknowledgement on."""
        with self.lock:
            return [self.payloads[i] for i, _ in self.acked[since:]]

    def phase(self, rate: float, seconds: float, threads: int = SENDERS) -> dict:
        """Open loop: slot i is due at start + i/rate and goes out on
        the next free sender thread, however late. The phase takes no
        slot after its end; slots due but unsent by then are its
        backlog. Latency is timed from the due time."""
        start = time.perf_counter()
        end = start + seconds
        slots = iter(range(1 << 62))
        ops: list[Op] = []
        lock = threading.Lock()
        backlog = [0]

        def sender():
            while True:
                with lock:
                    i = next(slots)
                due = start + i / rate
                if due >= end:
                    return
                now = time.perf_counter()
                if now >= end:
                    with lock:
                        backlog[0] += 1
                    continue
                if due > now:
                    time.sleep(due - now)
                t_send = time.perf_counter()
                ok, t_done = self.push_next()
                with lock:
                    ops.append(Op("write", due, t_send, t_done, ok))

        ts = [threading.Thread(target=sender) for _ in range(threads)]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        return {"rate": rate, "start": start, "end": end, "ops": ops,
                "backlog": backlog[0]}


def phase_summary(ph: dict, samples_per_payload: int) -> dict:
    ops = ph["ops"]
    good = [o for o in ops if o.ok]
    late = [(o.send - o.due) * 1000.0 for o in ops]
    span = ph["end"] - ph["start"]
    lat = tail_summary([o.latency_ms for o in ops])
    out = {
        "rate_samples_per_s": ph["rate"] * samples_per_payload,
        "attempted": len(ops),
        "failed": len(ops) - len(good),
        "backlog_unsent": ph["backlog"],
        "acked_samples_per_s": len(good) * samples_per_payload / span,
        "write_latency_ms": lat,
        "generator_late_ms": {
            "p50": percentile(late, 50),
            "max": max(late, default=0.0),
        },
    }
    # a growing backlog shows as late sends in the phase's last third
    last_third = ph["start"] + span * 2 / 3
    late_end = max(
        ((o.send - o.due) * 1000.0 for o in ops if o.due >= last_third),
        default=0.0,
    )
    tail = lat[max(k for k in lat if k != "n")]
    out["meets_limit"] = (
        not ph["backlog"]
        and not out["failed"]
        and tail <= WRITE_LIMIT_MS
        and late_end <= WRITE_LIMIT_MS
    )
    return out


class PushWorkload(Workload):
    """A workload that pushes its pre-encoded payloads to a
    remote-write exposer; each set-up and the measured pass get a fresh
    exposer, and payloads are never sent twice."""

    #: a set-up (new exposer, first push) takes ~20 ms, where scheduling
    #: noise is large; nine keep its median steady
    setup_reps = 9

    def __init__(self, *a):
        super().__init__(*a)
        self.cursor = 0
        #: the measured pass's exposer and pusher
        self.exposer = self.pusher = None

    def _fresh(self, tracer=None):
        """A new exposer with an empty pushed store and its pusher."""
        ex = start_exposer(self.spark, self.store, remote_write=True)
        p = Pusher(self.payloads)
        p.cursor = self.cursor
        p.client = Client(ex.host, ex.port, tracer)
        return ex, p

    def close(self):
        if self.exposer is not None:
            self.exposer.stop()


# -- remote_write_ingest ------------------------------------------------
class RemoteWriteIngest(PushWorkload):
    """Open loop at each of INGEST_RATES in turn, no reads."""

    name = "remote_write_ingest"

    def __init__(self, *a):
        super().__init__(*a)
        inputs.make_store(self.store, self.seed, 1_000)
        n = int(sum(INGEST_RATES) * self.seconds / len(INGEST_RATES))
        self.payloads = inputs.make_payloads(
            self.seed, self.setup_reps + n + 16
        )

    def setup(self) -> float:
        def once():
            ex, p = self._fresh()
            ok, _ = p.push_next()
            self.cursor = p.cursor
            if not ok:
                ex.stop()
                raise RuntimeError("first push was not acknowledged")
            return ex.stop

        return timed_median(self.setup_reps, once)

    def measure(self, tracer):
        self.exposer, self.pusher = self._fresh(tracer)
        p = self.pusher
        per_phase = self.seconds / len(INGEST_RATES)
        with RssSampler() as rss:
            phases = [p.phase(r, per_phase) for r in INGEST_RATES]
        self.cursor = p.cursor
        spp = self.payloads[0].n_samples
        sums = [phase_summary(ph, spp) for ph in phases]
        met = [s["rate_samples_per_s"] for s in sums if s["meets_limit"]]
        ops = [o for ph in phases for o in ph["ops"]]
        pushed = sum(x.n_samples for x in p.acked_payloads())
        return Pass(
            ops,
            # latency is gated at the middle rate, below capacity; the
            # top rate saturates the receiver and gives the throughput
            phases[len(phases) // 2]["ops"],
            sums[-1]["acked_samples_per_s"] / spp,
            rss.peak,
            {
                "phases": sums,
                "ingest_samples_per_s": sums[-1]["acked_samples_per_s"],
                "sustained_ingest_samples_per_s": max(met, default=0),
                "write_limit_ms": WRITE_LIMIT_MS,
                # a fresh exposer: its store holds just this pass's pushes
                "store_rows": pushed,
                "pushed_samples": pushed,
            },
        )

    def check(self):
        return checks.pushed_visible(
            self.exposer.read_samples(), self.pusher.acked_payloads()
        )


# -- ingest_with_reads --------------------------------------------------
class IngestWithReads(PushWorkload):
    """Open-loop pushes at MIXED_PUSH_RATE beside one closed-loop reader
    that alternates a count over a pushed metric with a checked
    base-store query; every read must see every push acknowledged
    before it. The measured exposer's store is filled with
    MIXED_PREFILL_PAYLOADS pushes before the window opens."""

    name = "ingest_with_reads"

    def __init__(self, *a):
        super().__init__(*a)
        self.manifest = inputs.make_store(self.store, self.seed, 20_000)
        n = (self.setup_reps + MIXED_PREFILL_PAYLOADS
             + int(MIXED_PUSH_RATE * self.seconds + 16))
        self.payloads = inputs.make_payloads(self.seed, n)
        rng = random.Random(self.seed)
        self.metric = rng.choice(inputs.RW_METRICS)
        # pushed samples start 40 days after the base store; a 30-day
        # window ending at day 60 holds every one of them
        self.count_time = inputs.T0_US // 1_000_000 + 60 * 86_400
        self.reads: list = []  # (pusher, sent, done, observed count)
        self.answers: list = []

    def _count_path(self) -> str:
        q = f"sum(count_over_time({self.metric}[30d]))"
        return f"/api/v1/query?query={_q(q)}&time={self.count_time}"

    def _read(self, cl, p, rng: "random.Random | None") -> Op:
        """One read: with no rng a count over the pushed metric, else a
        checked base-store query drawn from rng. Both rebuild the pushed
        store, which dominates their latency, so alternating them does
        not split the latency distribution."""
        sent = time.perf_counter()
        if rng is None:
            status, body = cl.call("GET", self._count_path())
            doc = api_ok(status, body)
            if doc is not None:
                res = doc["data"]["result"]
                n = float(res[0]["value"][1]) if res else 0.0
                self.reads.append((p, sent, time.perf_counter(), n))
        else:
            _kind, path, check = dashboard_cycle(rng, self.manifest)[0]
            status, body = cl.call("GET", path)
            doc = api_ok(status, body)
            if doc is not None:
                self.answers.append((check, doc["data"]))
        return Op("read", sent, sent, time.perf_counter(), doc is not None,
                  len(body))

    def setup(self) -> float:
        def once():
            ex, p = self._fresh()
            ok, _ = p.push_next()
            self.cursor = p.cursor
            if not ok:
                ex.stop()
                raise RuntimeError("first push was not acknowledged")
            return ex.stop

        t = timed_median(self.setup_reps, once)
        self._prefill()
        return t

    def _prefill(self) -> None:
        """The measured pass's exposer, its store filled untimed and
        untraced, then one untimed read of each shape: it has the JVM
        compile the read path, which would otherwise slow the first
        measured read several times over."""
        self.exposer, self.pusher = self._fresh()
        for _ in range(MIXED_PREFILL_PAYLOADS):
            ok, _ = self.pusher.push_next()
            if not ok:
                raise RuntimeError("a prefill push was not acknowledged")
        cl = self.pusher.client
        for rng in (None, random.Random(-1)):
            if not self._read(cl, self.pusher, rng).ok:
                raise RuntimeError("a warm-up read failed")
        self.reads.clear()
        self.answers.clear()

    def measure(self, tracer):
        p = self.pusher
        cl = p.client = Client(self.exposer.host, self.exposer.port, tracer)
        mark = len(p.acked)
        reads: list[Op] = []
        rng = random.Random(self.seed * 31 + 1)

        def reader(_i, deadline):
            while time.perf_counter() < deadline:
                reads.append(self._read(cl, p, rng if len(reads) % 2 else None))
            return len(reads)

        box = {}

        def writer():
            box["ph"] = p.phase(MIXED_PUSH_RATE, self.seconds, threads=2)

        with RssSampler() as rss:
            w = threading.Thread(target=writer)
            w.start()
            rate = _closed_loop(1, self.seconds, reader)
            w.join()
        self.cursor = p.cursor
        spp = self.payloads[0].n_samples
        ws = phase_summary(box["ph"], spp)
        return Pass(
            reads + box["ph"]["ops"],
            reads,
            rate,
            rss.peak,
            {
                "read_latency_ms": tail_summary([o.latency_ms for o in reads]),
                "push": ws,
                "store_rows": sum(x.n_samples for x in p.acked_payloads()),
                "pushed_samples": sum(
                    x.n_samples for x in p.acked_payloads(mark)
                ),
            },
        )

    def check(self):
        problems = checks.reads_see_acked(self.reads, self.metric)
        problems += checks.dashboard_answers(self.store, self.answers)
        return problems


# -- pipeline_batch ----------------------------------------------------
class PipelineBatch(Workload):
    """One cold pass over PIPELINE_QUERIES: clear_caches, then each
    query planned (its call, with any eager memo actions) and executed
    with count(). The pass runs to completion whatever the run length:
    a batch runs once per corpus, so only its first pass is measured.
    The corpus is PIPELINE_SHAPE."""

    name = "pipeline_batch"

    def __init__(self, *a):
        super().__init__(*a)
        self.manifest = inputs.make_store(self.store, self.seed, **PIPELINE_SHAPE)
        from shards_prometheus_spark.registry import all_queries

        self.queries = {q: all_queries()[q] for q in PIPELINE_QUERIES}

    def setup(self) -> float:
        from shards_prometheus_spark.model import load_table

        def once():
            # cold engine to first scan of every input table
            clear_caches(self.spark)
            for t in ("events", "documents", "embeddings"):
                load_table(self.spark, self.store, t).schema

        return timed_median(self.setup_reps, once)

    def measure(self, tracer):
        from shards_prometheus_spark.session import prepare_session

        prepare_session(self.spark)
        sc = self.spark.sparkContext
        ops: list[Op] = []
        per_q: dict = {}
        with RssSampler() as rss:
            clear_caches(self.spark)
            p0 = time.perf_counter()
            for q, fn in self.queries.items():
                if tracer is not None:
                    req = tracer.new_request()
                    sc.setJobGroup(f"bench-{req}", "bench")
                    tracer.set_request(req)
                t0 = time.perf_counter()
                df = fn(self.spark, self.store)
                t1 = time.perf_counter()
                df.count()
                t2 = time.perf_counter()
                per_q[q] = {"plan_s": t1 - t0, "exec_s": t2 - t1}
                ops.append(Op("query", t0, t0, t2, True))
            p1 = time.perf_counter()
        if tracer is not None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # the Tier C relations the pass memoized, counted by `check`
        self.detail = {"batch_s": p1 - p0, "per_query": per_q,
                       "cache_entries": 0}
        return Pass(
            ops,
            # latency is the pass: the batch time a user waits for
            [Op("pass", p0, p0, p1, True)],
            len(ops) / (p1 - p0),
            rss.peak,
            self.detail,
        )

    def check(self):
        # the caches the pass left make the check's queries run warm;
        # the check reuses the pass's memo keys, so what it then
        # releases is what the pass memoized
        problems = checks.pipeline_outputs(
            self.spark, self.store, self.queries, self.manifest["plants"]
        )
        self.detail["cache_entries"] = clear_caches(self.spark)
        return problems


WORKLOADS = {
    w.name: w
    for w in (DashboardRead, RemoteWriteIngest, IngestWithReads, PipelineBatch)
}
