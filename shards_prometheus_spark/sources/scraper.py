"""Live scrape-loop ingestion source — the periodic HTTP pull.

The reference's exposer is only useful because an external Prometheus
server periodically GETs its `/metrics` endpoint and stamps what it
reads (prometheus.cpp:47 — the 127.0.0.1:9090 pairing — :73, :80; the
0.2 s tick model of test.edn:8).  This module is that operational hop,
Spark-native: a PySpark Python streaming **DataSource**
(``prometheus_scrape``) whose micro-batches ARE scrape ticks.

Architecture (designed for a fleet, tested on one exposer):

- **Offsets are scrape ticks.**  ``latestOffset`` advances by one per
  micro-batch, so each batch performs exactly one scrape round; the
  query's processing-time trigger is the scrape interval (upstream's
  ``scrape_interval``).  A slow consumer does NOT replay missed ticks
  — like upstream, a skipped scrape is skipped, the next one reads
  current state (an HTTP endpoint is not a replayable log).
- **One input partition per target.**  ``partitions(start, end)``
  returns one ``_ScrapeTarget`` per configured endpoint, so the HTTP
  GET runs on EXECUTORS and a 10k-target fleet fans out across the
  cluster instead of serializing through the driver.  Per-partition
  work is one GET + registry-sized text: bounded, no skew.
- **Honest stamping.**  Every emitted line carries ``scrape_ts_us``
  taken at GET time on the scraping task (upstream stamps samples with
  the scrape timestamp, not the exposer's), plus the tick index and
  target URL as labels-to-be.
- **Parsing stays JVM-side.**  The source emits RAW text lines; the
  ``scraped_samples`` transform classifies them with
  ``exposition.classify_lines`` — pure regexp codegen, zero shuffles,
  streaming-safe.  Python touches one string per scrape (the payload
  split), never per-sample logic.

Batch one-shot reads work too: ``spark.read.format("prometheus_scrape")
.option("url", …).load()`` performs a single scrape round (executor-
side, one partition per target) — the ad-hoc twin of the loop.
"""

from __future__ import annotations

import time
import urllib.request
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

#: One row per payload line per scrape: the raw exposition line plus
#: provenance (which target, which tick, when read, what dialect the
#: target served — OpenMetrics exposes epoch-SECOND timestamps where
#: the classic format uses milliseconds).
SCRAPE_SCHEMA = (
    "target string, scrape_idx long, scrape_ts_us long, line string, "
    "content_type string"
)

#: The per-scrape synthetic family upstream's scraper appends to
#: EVERY target's samples (scrape.go's report(): `up` 1/0,
#: `scrape_duration_seconds`, `scrape_samples_scraped`). Synthesized
#: here as ordinary exposition lines on the scraping task, so a dead
#: target still produces its tick — `up == 0` becomes queryable, the
#: staleness timeline sees the failed tick, and downstream transforms
#: need no special cases. Upstream exempts these from
#: metric_relabel_configs; `scraped_samples` mirrors that.
SYNTHETIC_METRICS = frozenset(
    {"up", "scrape_duration_seconds", "scrape_samples_scraped"}
)


class BodyLimitExceeded(Exception):
    """The target's payload overran body_size_limit — upstream fails
    the scrape (up 0) rather than buffer an unbounded body."""


#: Upstream's scrape Accept header (content negotiation): OpenMetrics
#: preferred, classic text accepted, anything tolerated — the q-graded
#: list Prometheus sends with its default scrape_protocols
#: (OpenMetricsText1.0.0 > OpenMetricsText0.0.1 > PrometheusText0.0.4).
ACCEPT_HEADER = (
    "application/openmetrics-text;version=1.0.0;q=0.6,"
    "application/openmetrics-text;version=0.0.1;q=0.5,"
    "text/plain;version=0.0.4;q=0.4,*/*;q=0.1"
)


def _scrape_headers(
    timeout_s: float,
    extra: "dict | None" = None,
    compression: bool = True,
) -> dict:
    """The standard per-scrape request headers upstream sends: content
    negotiation (`Accept`), the advisory
    `X-Prometheus-Scrape-Timeout-Seconds` (a well-behaved exporter can
    bound its own collection work by it), and — unless the job sets
    `enable_compression: false` — `Accept-Encoding: gzip`, plus the
    job's auth/custom headers."""
    h = {
        "Accept": ACCEPT_HEADER,
        "Accept-Encoding": "gzip" if compression else "identity",
        "X-Prometheus-Scrape-Timeout-Seconds": f"{timeout_s:g}",
    }
    if extra:
        h.update(extra)
    return h


def _tls_context(url: str, tls: "dict | None"):
    """The job's `tls_config` → an ssl.SSLContext for an https
    target (None for plain http): `ca_file` pins the trust root
    (self-signed exporter fleets), `cert_file`/`key_file` present the
    client pair (mTLS), `insecure_skip_verify` disables verification
    — upstream's knobs. A verification failure surfaces as a failed
    GET → `up` 0, like any other target death."""
    if not url.startswith("https"):
        return None
    import ssl

    if tls and tls.get("insecure_skip_verify"):
        # the stable public spelling of "no verification" (the
        # private ssl._create_unverified_context does the same)
        ctx = ssl.create_default_context()
        ctx.check_hostname = False
        ctx.verify_mode = ssl.CERT_NONE
    else:
        ctx = ssl.create_default_context(
            cafile=(tls or {}).get("ca_file") or None
        )
    if tls and tls.get("cert_file"):
        ctx.load_cert_chain(
            tls["cert_file"], tls.get("key_file") or None
        )
    return ctx


class _NoRedirect(urllib.request.HTTPRedirectHandler):
    """`follow_redirects: false` — upstream refuses to chase a 3xx
    answer; surfacing it as an HTTPError fails the scrape (`up` 0)."""

    def redirect_request(self, req, fp, code, msg, headers, newurl):
        return None


def _fetch_lines(
    url: str,
    timeout_s: float,
    body_limit: int = 0,
    headers: "dict | None" = None,
    tls: "dict | None" = None,
    compression: bool = True,
    follow_redirects: bool = True,
    proxy_url: "str | None" = None,
) -> "tuple[list[str], str]":
    """One HTTP GET of a `/metrics` endpoint → (non-empty payload
    lines, Content-Type).  Runs on the scraping TASK (executor
    side). `body_limit` (upstream body_size_limit, bytes, 0 =
    unlimited) caps what is ever BUFFERED — the read stops at
    limit+1, it does not download an oversized body to count it; a
    gzip payload is capped at the same limit COMPRESSED and again
    UNCOMPRESSED after inflating (upstream bounds the decompressed
    body). `headers` ride the GET verbatim (negotiation + auth — a
    secured exporter answers 401 to a bare request, which the caller
    records as a failed scrape, `up` 0); `tls` is the job's
    tls_config for https targets. `compression` (upstream
    enable_compression, default true) advertises gzip and inflates a
    gzip answer; `follow_redirects` false turns any 3xx into a failed
    scrape."""
    req = urllib.request.Request(
        url, headers=_scrape_headers(timeout_s, headers, compression)
    )
    ctx = _tls_context(url, tls)
    handlers: list = [
        urllib.request.HTTPSHandler(context=ctx)
        if ctx
        else urllib.request.HTTPHandler()
    ]
    if not follow_redirects:
        handlers.insert(0, _NoRedirect())
    if proxy_url:
        # upstream `proxy_url`: route the GET through an HTTP proxy
        # (both schemes map to it, upstream's http client behavior)
        handlers.insert(
            0,
            urllib.request.ProxyHandler(
                {"http": proxy_url, "https": proxy_url}
            ),
        )
    opener = urllib.request.build_opener(*handlers)
    with opener.open(req, timeout=timeout_s) as resp:
        ctype = resp.headers.get("Content-Type") or ""
        cenc = (resp.headers.get("Content-Encoding") or "").lower()
        if body_limit:
            raw = resp.read(body_limit + 1)
            if len(raw) > body_limit:
                raise BodyLimitExceeded(
                    f"body exceeds {body_limit} bytes"
                )
        else:
            raw = resp.read()
        if cenc == "gzip":
            import gzip as _gzip

            raw = _gzip.decompress(raw)
            if body_limit and len(raw) > body_limit:
                raise BodyLimitExceeded(
                    f"decompressed body exceeds {body_limit} bytes"
                )
        text = raw.decode("utf-8", errors="replace")
    return [ln for ln in text.splitlines() if ln], ctype


def _line_label_violation(
    line: str,
    label_limit: int,
    name_len_limit: int,
    value_len_limit: int,
) -> bool:
    """True if one exposition sample line violates an enabled label
    guard — the payload-level transposition of upstream's
    verify-label-limits step (which counts the sample's final label
    set; here the EXPOSED pairs are counted, the engine-added
    __name__/job/instance are not). `label_limit` bounds the pair
    count; the length limits bound each exposed label name / each
    exposed (unescaped) label value, with the metric name checked as
    __name__'s value like upstream."""
    if line.startswith("#"):
        return False
    brace = line.find("{")
    metric = line.split("{", 1)[0].split(" ", 1)[0] if brace != -1 else (
        line.split(" ", 1)[0]
    )
    if value_len_limit and len(metric) > value_len_limit:
        return True
    if brace == -1:
        return False
    n_pairs = 0
    i = brace + 1
    n = len(line)
    while i < n and line[i] != "}":
        j = i
        while j < n and line[j] not in '="}':
            j += 1
        name = line[i:j].strip().rstrip("=")
        q = line.find('"', j)
        if q == -1:
            break
        k = q + 1
        val_len = 0
        while k < n:
            c = line[k]
            if c == "\\" and k + 1 < n:
                k += 2
                val_len += 1
                continue
            if c == '"':
                break
            k += 1
            val_len += 1
        n_pairs += 1
        if name_len_limit and len(name) > name_len_limit:
            return True
        if value_len_limit and val_len > value_len_limit:
            return True
        i = k + 1
        if i < n and line[i] == ",":
            i += 1
    return bool(label_limit) and n_pairs > label_limit


@dataclass
class _ScrapeTarget(InputPartition):
    url: str
    tick: int
    timeout_s: float
    #: upstream scrape_config sample_limit (0 = unlimited)
    sample_limit: int = 0
    #: upstream body_size_limit in bytes (0 = unlimited)
    body_limit: int = 0
    #: extra request headers (auth, custom) — serialized with the
    #: partition so the GET on the executor carries them
    headers: "dict | None" = None
    #: the job's tls_config (ca_file / cert_file / key_file /
    #: insecure_skip_verify) for https targets
    tls: "dict | None" = None
    #: the job's remaining guard knobs in one non-secret map:
    #: label_limit / label_name_length_limit /
    #: label_value_length_limit (0 = unlimited; a violating payload
    #: fails its scrape like sample_limit), compression (false =
    #: no Accept-Encoding: gzip), follow_redirects (false = a 3xx
    #: answer fails the scrape), pool_failed (true = the job's
    #: target_limit was exceeded — report `up` 0 WITHOUT fetching,
    #: upstream's mark-failed-without-scraping semantics)
    limits: "dict | None" = None


#: secret stash files created by _stash_json, removed at exit
_SECRET_FILES: "list[str]" = []


def _stash_json(obj, prefix: str = "scrape_hdrs_") -> str:
    """Write a JSON-serializable object (typically request headers
    carrying an `Authorization` credential, or an SD spec embedding
    one) to a 0600 driver-local file and return its path — the
    OUT-OF-BAND channel for scrape credentials.

    DataSource option VALUES surface in the Spark UI, `.explain()`
    output, and event logs, so a credential passed inline via the
    `headers` option would leak into logs (upstream masks every
    secret as `<secret>`). The `headers_file` option instead carries
    only this path; the stream/batch reader — constructed on the
    DRIVER — reads the file in `__init__` and ships the values to
    executors inside the pickled partition objects, which are never
    rendered into plans or logs. The file lives for the process (a
    checkpoint-restarted query re-creates its reader from the same
    options) and is deleted at interpreter exit."""
    import atexit
    import json
    import os
    import tempfile

    fd, path = tempfile.mkstemp(prefix=prefix, suffix=".json")
    try:
        os.fchmod(fd, 0o600)
        with os.fdopen(fd, "w") as f:
            json.dump(obj, f)
    except BaseException:
        os.close(fd)
        raise
    if not _SECRET_FILES:
        atexit.register(
            lambda: [
                os.path.exists(p) and os.unlink(p)
                for p in _SECRET_FILES
            ]
        )
    _SECRET_FILES.append(path)
    return path


def _opt_headers(options: dict) -> "dict | None":
    """Extra request headers: `headers_file` (the secure out-of-band
    channel — a driver-readable JSON file path, see _stash_json)
    preferred; the inline `headers` JSON option remains accepted for
    non-secret headers but its value is VISIBLE in Spark UI/plan/log
    output, so credentials must use the file channel."""
    import json

    path = options.get("headers_file")
    if path:
        with open(path) as f:
            return {str(k): str(v) for k, v in json.load(f).items()}
    raw = options.get("headers")
    if not raw:
        return None
    return {str(k): str(v) for k, v in json.loads(raw).items()}


def _opt_tls(options: dict) -> "dict | None":
    """The `tls` option: a JSON object of tls_config knobs."""
    raw = options.get("tls")
    if not raw:
        return None
    import json

    return dict(json.loads(raw))


def _opt_limits(options: dict) -> "dict | None":
    """The `limits` option: a JSON object of the non-secret guard
    knobs (label limits, compression, follow_redirects, pool_failed)
    — safe on the logged options channel, unlike credentials."""
    raw = options.get("limits")
    if not raw:
        return None
    import json

    return dict(json.loads(raw))


def _targets(options: dict) -> list[str]:
    raw = options.get("targets") or options.get("url") or ""
    urls = [u.strip() for u in raw.replace(";", ",").split(",") if u.strip()]
    if not urls and not options.get("http_sd_file"):
        raise ValueError(
            "prometheus_scrape requires option 'url' or 'targets' "
            "(comma-separated /metrics endpoint URLs) or an http_sd "
            "discovery spec"
        )
    return urls


def _opt_http_sd(options: dict) -> "list[dict]":
    """The `http_sd_file` option: a stashed JSON list of HTTP SD
    specs ({url, refresh_s, headers?, tls?}) — upstream's
    http_sd_configs, the generic discovery mechanism Consul/K8s
    bridges speak. File-stashed like auth headers (a spec may embed
    an Authorization credential for the SD endpoint)."""
    import json

    path = options.get("http_sd_file")
    if not path:
        return []
    with open(path) as f:
        return [dict(spec) for spec in json.load(f)]


def _http_sd_fetch(spec: dict, timeout_s: float) -> "list[str]":
    """One HTTP SD refresh: GET the spec's url (the public contract —
    a JSON array of `{"targets": [...], "labels": {...}}` groups,
    Content-Type application/json) and return the target ADDRESSES.
    Raises on failure — the caller keeps the previous target set,
    exactly upstream's refresh semantics."""
    import json

    req = urllib.request.Request(
        spec["url"],
        headers=_scrape_headers(timeout_s, spec.get("headers")),
    )
    with urllib.request.urlopen(
        req, timeout=timeout_s, context=_tls_context(
            spec["url"], spec.get("tls")
        )
    ) as resp:
        groups = json.loads(resp.read().decode("utf-8"))
    return [
        str(a) for st in groups for a in st.get("targets") or []
    ]


def _read_target(part: _ScrapeTarget):
    """One target's scrape: payload lines + the synthetic report
    family. Target death is DATA, never a task failure — upstream's
    scraper records `up`=0 and moves on, so one dead endpoint in a
    10k-target fleet costs that target's payload for the tick, not
    the micro-batch (a raised error here would be retried against
    the same dead endpoint and then fail the whole batch).

    `sample_limit` (upstream's per-job guard): a payload carrying
    more samples than the limit FAILS the scrape — the whole payload
    is dropped (never partially ingested), `up` reports 0, and
    `scrape_samples_scraped` still reports the observed count,
    exactly upstream's sample-limit semantics. The label guards
    (label_limit / label_name_length_limit /
    label_value_length_limit, via `part.limits`) fail the scrape the
    same way; a pool whose target_limit was exceeded reports `up` 0
    for every member WITHOUT fetching (`pool_failed`)."""
    lim = part.limits or {}
    ts_us = time.time_ns() // 1_000
    if lim.get("pool_failed"):
        for syn in (
            "up 0",
            "scrape_duration_seconds 0.000000",
            "scrape_samples_scraped 0",
        ):
            yield (part.url, part.tick, ts_us, syn, "")
        return
    t0 = time.perf_counter()
    try:
        lines, ctype = _fetch_lines(
            part.url,
            part.timeout_s,
            part.body_limit,
            part.headers,
            part.tls,
            compression=bool(lim.get("compression", True)),
            follow_redirects=bool(lim.get("follow_redirects", True)),
            proxy_url=lim.get("proxy_url") or None,
        )
        up = 1
    except Exception:  # noqa: BLE001 - refused/timeout/DNS/over-limit
        lines, ctype, up = [], "", 0
    duration_s = time.perf_counter() - t0
    n_samples = sum(1 for ln in lines if not ln.startswith("#"))
    if part.sample_limit and n_samples > part.sample_limit:
        lines, up = [], 0
    ll = int(lim.get("label_limit") or 0)
    lnl = int(lim.get("label_name_length_limit") or 0)
    lvl = int(lim.get("label_value_length_limit") or 0)
    if (ll or lnl or lvl) and any(
        _line_label_violation(ln, ll, lnl, lvl) for ln in lines
    ):
        lines, up = [], 0
    for ln in lines:
        yield (part.url, part.tick, ts_us, ln, ctype)
    for syn in (
        f"up {up}",
        f"scrape_duration_seconds {duration_s:.6f}",
        f"scrape_samples_scraped {n_samples}",
    ):
        yield (part.url, part.tick, ts_us, syn, ctype)


class _ScrapeStreamReader(DataSourceStreamReader):
    """Tick-offset stream reader: one scrape round per micro-batch."""

    def __init__(self, options: dict):
        self._urls = _targets(options)
        self._timeout_s = float(options.get("timeout_s", 30.0))
        self._sample_limit = int(options.get("sample_limit", 0))
        self._body_limit = int(options.get("body_limit", 0))
        self._headers = _opt_headers(options)
        self._tls = _opt_tls(options)
        self._limits = _opt_limits(options)
        # HTTP service discovery (upstream http_sd_configs): the
        # target list re-resolves PER TICK (time-gated by each spec's
        # refresh_interval) on the driver — a config-sized GET, the
        # same place upstream's discovery manager runs — so mutating
        # the served list adds/removes scrape partitions mid-loop
        # and removed targets stale out downstream.
        self._sd = _opt_http_sd(options)
        self._sd_scheme = options.get("sd_scheme", "http")
        self._sd_path = options.get("sd_path", "/metrics")
        self._sd_cache: dict = {}  # spec url -> [addr]
        self._sd_last: dict = {}  # spec url -> monotonic stamp
        # optional self-limit: after max_ticks scrapes by THIS reader
        # instance the offset stops advancing and the query idles
        # (tests; bounded rehearsals)
        self._max_ticks = int(options.get("max_ticks", 0))
        self._tick = 0
        self._served = 0

    def _current_urls(self) -> "list[str]":
        """Static targets plus the http_sd fleet as of now. A failed
        SD refresh keeps the spec's previous target set (upstream
        logs and keeps serving the old groups); refresh_s gates how
        often each spec is re-queried."""
        if not self._sd:
            return self._urls
        urls = list(self._urls)
        seen = set(urls)
        for spec in self._sd:
            key = spec["url"]
            now = time.monotonic()
            refresh_s = float(spec.get("refresh_s", 60.0))
            last = self._sd_last.get(key)
            if last is None or now - last >= refresh_s:
                try:
                    self._sd_cache[key] = _http_sd_fetch(
                        spec, self._timeout_s
                    )
                    self._sd_last[key] = now
                except Exception:  # noqa: BLE001 - keep previous set
                    self._sd_last.setdefault(key, now)
            for addr in self._sd_cache.get(key, []):
                u = f"{self._sd_scheme}://{addr}{self._sd_path}"
                if u not in seen:
                    seen.add(u)
                    urls.append(u)
        return urls

    def initialOffset(self) -> dict:
        return {"tick": 0}

    def latestOffset(self) -> dict:
        if not self._max_ticks or self._served < self._max_ticks:
            self._tick += 1
            self._served += 1
        return {"tick": self._tick}

    def partitions(self, start: dict, end: dict):
        # a restarted query resumes from its CHECKPOINTED offset while
        # this (fresh) reader's counter restarts at 0 — fast-forward
        # to the checkpoint so the next latestOffset advances past it
        # instead of emitting empty catch-up batches for `start` ticks
        # (the first post-restart batch may still be empty once)
        self._tick = max(self._tick, start["tick"])
        # a batch spanning several ticks (restart/slow consumer)
        # still scrapes ONCE, at the latest tick — upstream skips
        # missed scrapes rather than replaying them
        if end["tick"] <= start["tick"]:
            return []
        urls = self._current_urls()
        lim = self._limits
        # upstream target_limit: a pool that resolves MORE targets
        # than the cap is marked failed without scraping — checked
        # per tick so a discovery service growing past the cap flips
        # (and shrinking back restores) the pool mid-loop
        if lim and lim.get("target_limit") and len(urls) > int(
            lim["target_limit"]
        ):
            lim = {**lim, "pool_failed": True}
        return [
            _ScrapeTarget(
                u,
                end["tick"],
                self._timeout_s,
                self._sample_limit,
                self._body_limit,
                self._headers,
                self._tls,
                lim,
            )
            for u in urls
        ]

    def read(self, partition: _ScrapeTarget):
        return _read_target(partition)

    def commit(self, end: dict) -> None:
        pass


class _ScrapeBatchReader(DataSourceReader):
    """One scrape round as a batch relation (tick 0)."""

    def __init__(self, options: dict):
        self._urls = _targets(options)
        self._timeout_s = float(options.get("timeout_s", 30.0))
        self._sample_limit = int(options.get("sample_limit", 0))
        self._body_limit = int(options.get("body_limit", 0))
        self._headers = _opt_headers(options)
        self._tls = _opt_tls(options)
        self._limits = _opt_limits(options)

    def partitions(self):
        lim = self._limits
        if lim and lim.get("target_limit") and len(self._urls) > int(
            lim["target_limit"]
        ):
            lim = {**lim, "pool_failed": True}
        return [
            _ScrapeTarget(
                u, 0, self._timeout_s, self._sample_limit,
                self._body_limit, self._headers, self._tls, lim,
            )
            for u in self._urls
        ]

    def read(self, partition: _ScrapeTarget):
        return _read_target(partition)


class PrometheusScrapeDataSource(DataSource):
    """``spark.readStream.format("prometheus_scrape")`` — the scrape
    loop as a first-class Spark source.  Options: ``url`` (one
    endpoint) or ``targets`` (comma-separated fleet), ``timeout_s``,
    ``max_ticks`` (0 = unbounded)."""

    @classmethod
    def name(cls) -> str:
        return "prometheus_scrape"

    def schema(self) -> str:
        return SCRAPE_SCHEMA

    def streamReader(self, schema: StructType) -> _ScrapeStreamReader:
        return _ScrapeStreamReader(self.options)

    def reader(self, schema: StructType) -> _ScrapeBatchReader:
        return _ScrapeBatchReader(self.options)


def register(spark: SparkSession) -> None:
    """Register the source with this session (idempotent)."""
    spark.dataSource.register(PrometheusScrapeDataSource)


def scrape_stream(
    spark: SparkSession,
    targets: "str | list[str]",
    timeout_s: float = 30.0,
    max_ticks: int = 0,
    sample_limit: int = 0,
    body_limit: int = 0,
    headers: "dict | None" = None,
    tls: "dict | None" = None,
    http_sd: "list[dict] | None" = None,
    sd_scheme: str = "http",
    sd_path: str = "/metrics",
    limits: "dict | None" = None,
) -> DataFrame:
    """Streaming raw-lines relation over one or more `/metrics`
    endpoints: one micro-batch per scrape tick, one task per target.
    `sample_limit` / `body_limit` (upstream's sample_limit and
    body_size_limit guards): an over-limit payload fails its scrape —
    up 0, payload dropped, never partially ingested. `headers`: extra
    request headers (a job's basic_auth/authorization compile to one
    Authorization entry here) sent with every GET, on top of the
    standard Accept + X-Prometheus-Scrape-Timeout-Seconds pair.
    `tls`: the job's tls_config for https targets. Headers travel
    via the `headers_file` secret stash (never the logged options
    channel — see _stash_json). `http_sd`: upstream http_sd_configs
    specs ({url, refresh_s, headers?, tls?}) — the target list then
    re-resolves per tick on the driver (time-gated per spec), so a
    discovery service can add/remove targets mid-loop; discovered
    addresses scrape at `sd_scheme`://addr`sd_path`. `limits`: the
    non-secret guard map (label_limit / label_name_length_limit /
    label_value_length_limit / compression / follow_redirects /
    pool_failed — see _ScrapeTarget.limits)."""
    import json

    register(spark)
    if isinstance(targets, str):
        targets = [targets]
    reader = (
        spark.readStream.format("prometheus_scrape")
        .option("targets", ",".join(targets))
        .option("timeout_s", str(timeout_s))
        .option("max_ticks", str(max_ticks))
        .option("sample_limit", str(sample_limit))
        .option("body_limit", str(body_limit))
    )
    if headers:
        reader = reader.option("headers_file", _stash_json(headers))
    if tls:
        reader = reader.option("tls", json.dumps(tls))
    if limits:
        reader = reader.option("limits", json.dumps(limits))
    if http_sd:
        reader = (
            reader.option(
                "http_sd_file", _stash_json(http_sd, "scrape_sd_")
            )
            .option("sd_scheme", sd_scheme)
            .option("sd_path", sd_path)
        )
    return reader.load()


def scrape_once(
    spark: SparkSession,
    targets: "str | list[str]",
    timeout_s: float = 30.0,
    sample_limit: int = 0,
    body_limit: int = 0,
    headers: "dict | None" = None,
    tls: "dict | None" = None,
    limits: "dict | None" = None,
) -> DataFrame:
    """One scrape round as a batch relation (the ad-hoc twin).
    Headers travel via the `headers_file` secret stash (never the
    logged options channel — see _stash_json)."""
    import json

    register(spark)
    if isinstance(targets, str):
        targets = [targets]
    reader = (
        spark.read.format("prometheus_scrape")
        .option("targets", ",".join(targets))
        .option("timeout_s", str(timeout_s))
        .option("sample_limit", str(sample_limit))
        .option("body_limit", str(body_limit))
    )
    if headers:
        reader = reader.option("headers_file", _stash_json(headers))
    if tls:
        reader = reader.option("tls", json.dumps(tls))
    if limits:
        reader = reader.option("limits", json.dumps(limits))
    return reader.load()


def scraped_samples(
    lines: DataFrame,
    drop_created: bool = True,
    metric_relabel_configs: "list | None" = None,
    honor_timestamps: bool = True,
    timestamp_unit: str = "ms",
    fallback_protocol: str = "",
) -> DataFrame:
    """Scraped raw lines → the live-registry samples relation:
    (metric, kind, stat, label_user, le, value, ts_us, target,
    scrape_idx), stamped at SCRAPE time.

    `exposition.classify_lines` does the parse as pure per-row regexp
    codegen — no joins, no state — so this composes with any
    streaming output mode and any sink.  Counter totals read off a
    scrape are CUMULATIVE (the exposition format serves running
    totals), so the registry twin of `counter_sum` is the LAST
    scrape's total per series, and of `gauge_last` the last scrape's
    gauge reading — see `registry_from_scrapes`.

    `drop_created` (default on): `*_created`-suffixed names are
    treated as OpenMetrics creation-timestamp METADATA and filtered
    (the streaming path cannot do the batch parser's header-join
    discrimination — that would be a stream-stream self-join); a
    fleet whose registries legitimately name a gauge family
    `*_created` passes False.

    `metric_relabel_configs`: an upstream-shaped rule list (dicts or
    relabel.RelabelRule) applied between classification and the
    registry — exactly upstream's metric relabeling hop. Compiled to
    pure column expressions (operators.relabel), so the scrape path
    stays zero-shuffle and streaming-safe; `drop`/`keep` rules prune
    whole families before they ever reach the registry.

    `honor_timestamps` (upstream's per-job scrape_config knob,
    default true): a sample line carrying the grammar's OPTIONAL
    trailing timestamp keeps it as the sample time; lines without
    one — and the False setting, the config knob for misbehaving
    targets — stamp at scrape time. `timestamp_unit`: "ms" (the
    classic text format) or "s" (OpenMetrics serves epoch seconds);
    when the scrape log carries the source's `content_type` column,
    the unit is selected PER ROW from the target's served dialect
    (an OpenMetrics Content-Type → seconds), so a mixed fleet parses
    each target correctly without per-job overrides. The raw
    `scrape_ts_us` wall stamp survives alongside the honored `ts_us`
    — the staleness timeline keys on scrape time (upstream stamps
    markers at scrape wall time), so one series exposing an
    out-of-band timestamp cannot skew a tick's markers. Exemplar
    suffixes are stripped before classification (an OM target's
    `… # {trace_id=…}` annotations must never reach the value
    parse).

    The synthetic report family (`SYNTHETIC_METRICS`, emitted by the
    scrape source every tick) is exempt from metric_relabel_configs
    — upstream appends its report samples AFTER metric relabeling,
    so a family-wide `drop` rule can never delete `up`."""
    from shards_prometheus_spark.sources.exposition import (
        _EXEMPLAR_RE,
        classify_lines,
    )

    lines = lines.withColumn(
        "line", F.regexp_replace("line", _EXEMPLAR_RE, "$1")
    )
    # with_labels: the FULL parsed label map rides along, so a
    # multi-label target (its own exposition_lines_multi families,
    # node_exporter-style exporters) keeps distinct series distinct
    out = classify_lines(lines, with_timestamps=True, with_labels=True)
    if honor_timestamps:
        base_scale = {"ms": 1_000, "s": 1_000_000}[timestamp_unit]
        # `fallback_scrape_protocol` (public 3.x knob): the dialect
        # ASSUMED for a target that omits/mangles Content-Type — an
        # OpenMetrics fallback parses its blank-typed exposed
        # timestamps as epoch seconds (this engine stays lenient
        # where 3.x would fail the scrape without the knob; the
        # fallback picks WHICH dialect the lenient parse assumes,
        # default classic/ms)
        blank_scale = (
            1_000_000
            if "openmetrics" in fallback_protocol.lower()
            else base_scale
        )
        if "content_type" in out.columns:
            ctype = F.lower(F.coalesce("content_type", F.lit("")))
            scale = (
                F.when(
                    ctype.contains("openmetrics"), F.lit(1_000_000)
                )
                .when(ctype == "", F.lit(blank_scale))
                .otherwise(F.lit(base_scale))
            )
        else:
            scale = F.lit(base_scale)
        ts = F.coalesce(
            (F.col("exposed_ts") * scale).cast("long"),
            F.col("scrape_ts_us"),
        )
    else:
        ts = F.col("scrape_ts_us")
    out = out.withColumn("ts_us", ts).drop("exposed_ts", "content_type")
    if drop_created:
        out = out.filter(~F.col("metric").endswith("_created"))
    if metric_relabel_configs:
        from shards_prometheus_spark.operators.relabel import (
            lift_labels,
            relabel_scraped,
        )

        synth = F.col("metric").isin(*SYNTHETIC_METRICS)
        # two filters of the same scan + union — no shuffle, no
        # state, streaming-safe; synthetics keep their lifted label
        # map so both branches share one schema
        out = relabel_scraped(
            out.filter(~synth), metric_relabel_configs
        ).unionByName(lift_labels(out.filter(synth)))
    return out


#: Series identity within one target's scrape stream — what upstream
#: diffs tick-over-tick to decide a series went away.
_STALE_KEY = ["target", "metric", "kind", "stat", "label_user", "le"]
_NULL_SENTINEL = "\x00"


def _series_str_expr(df: DataFrame) -> "F.Column":
    """Canonical series-identity string for one scraped row: the
    injective `label_str` rendering of the FULL label map when the
    relation carries one (a MAP column cannot itself key a groupBy /
    join), falling back to the flattened `user`/`le` pair — which IS
    `label_str` of that two-key map, so flat-only rows (stale
    markers, legacy logs) land in the same group as their map-bearing
    originals. A row already carrying a `_series_str` column (a
    marker emitted by `stale_markers`) keeps it verbatim."""
    from shards_prometheus_spark.functions.labelset import label_str

    flat = F.map_filter(
        F.create_map(
            F.lit("user"),
            F.col("label_user"),
            F.lit("le"),
            F.col("le"),
        ),
        lambda _k, v: v.isNotNull(),
    )
    if "labels" in df.columns:
        computed = label_str(F.coalesce(F.col("labels"), flat))
    else:
        computed = label_str(flat)
    if "_series_str" in df.columns:
        return F.coalesce(F.col("_series_str"), computed)
    return computed


def stale_markers(scraped: DataFrame) -> DataFrame:
    """Upstream staleness markers, synthesized from the scrape log.

    Prometheus's scraper appends an explicit stale sample (StaleNaN)
    at scrape time T for every series that was present at the
    target's previous scrape but absent from this one; instant
    selectors then drop the series IMMEDIATELY instead of serving the
    dead sample for the rest of the 5m lookback. This is that
    tick-over-tick presence diff as a relational transform:

    - ``presence``: distinct (target, series, tick) — one shuffle
      keyed by series, linear in the scrape log.
    - ``timeline``: each target's tick → scrape timestamp (lead() over
      a per-target window; tick-count-sized, tiny). When the log
      carries the source's raw ``scrape_ts_us`` wall stamp, the
      timeline keys on THAT (upstream stamps markers at scrape wall
      time) — one series exposing an out-of-band `honor_timestamps`
      value can then never skew the tick's markers or post-date them
      behind the dead series' final honored sample.
    - a marker for every (series present at tick t) whose key is
      absent at the target's NEXT tick t+1 (left_anti on the same
      presence relation), stamped at tick t+1's scrape time.

    Spark canonicalizes NaN payloads, so upstream's StaleNaN bit
    pattern (0x7ff0000000000002) cannot ride in the value column —
    the marker is an explicit ``stale`` BOOLEAN column instead (value
    is plain NaN). Selectors key on the column, not the payload.
    """
    enc = [
        F.coalesce(F.col(c).cast("string"), F.lit(_NULL_SENTINEL)).alias(c)
        if c in ("label_user", "le")
        else F.col(c)
        for c in _STALE_KEY
    ]
    # a labels-bearing log keys the diff on the canonical full-map
    # rendering too, so series differing only in a third label die
    # (and revive) independently; the marker carries the key out so
    # the registry fold can land it in exactly the group it kills
    key_names = list(_STALE_KEY)
    has_labels = "labels" in scraped.columns
    if has_labels:
        enc.append(_series_str_expr(scraped).alias("_series_str"))
        key_names.append("_series_str")
        # carry the FULL label map through the presence fold (groupBy
        # + first == the same one series×tick-keyed shuffle a distinct
        # costs; a MAP column cannot itself be a distinct/grouping
        # key) so the marker row emits the true map: downstream
        # lift_labels then reconstructs the dead series' exact
        # identity and the marker's series_id hashes into the group
        # it kills — NOT into an unrelated flat series sharing the
        # user label
        presence = (
            scraped.select(*enc, "scrape_idx", "labels")
            .groupBy(*key_names, "scrape_idx")
            .agg(F.first("labels", ignorenulls=True).alias("labels"))
        )
    else:
        presence = scraped.select(*enc, "scrape_idx").distinct()
    w = Window.partitionBy("target").orderBy("scrape_idx")
    # explicit disambiguating aliases: presence/timeline/present_next
    # are three readings of the SAME input plan, and an
    # attribute-level self-join over a streaming-sink scan otherwise
    # trips Catalyst's conflicting-reference resolution
    wall = (
        "scrape_ts_us" if "scrape_ts_us" in scraped.columns else "ts_us"
    )
    timeline = (
        scraped.groupBy("target", "scrape_idx")
        .agg(F.max(wall).alias("_tick_ts"))
        .select(
            F.col("target").alias("_tl_target"),
            F.col("scrape_idx").alias("_tl_idx"),
            F.lead("scrape_idx").over(w).alias("_next_idx"),
            F.lead("_tick_ts").over(w).alias("_next_ts"),
        )
        .filter(F.col("_next_idx").isNotNull())
    )
    # the timeline is (targets × ticks)-sized — config-sized, never
    # corpus-sized — so its join against the series-sized presence
    # relation is always broadcastable
    cand = presence.join(
        F.broadcast(timeline),
        (F.col("target") == F.col("_tl_target"))
        & (F.col("scrape_idx") == F.col("_tl_idx")),
    ).drop("_tl_target", "_tl_idx")
    present_next = presence.select(
        *[F.col(c).alias(f"_pn_{c}") for c in key_names],
        F.col("scrape_idx").alias("_pn_idx"),
    )
    gone = cand.join(
        present_next,
        [F.col(c) == F.col(f"_pn_{c}") for c in key_names]
        + [F.col("_next_idx") == F.col("_pn_idx")],
        "left_anti",
    )
    return gone.select(
        "target",
        F.col("_next_idx").alias("scrape_idx"),
        F.col("_next_ts").alias("ts_us"),
        "metric",
        "kind",
        "stat",
        F.nullif(F.col("label_user"), F.lit(_NULL_SENTINEL)).alias(
            "label_user"
        ),
        F.nullif(F.col("le"), F.lit(_NULL_SENTINEL)).alias("le"),
        F.lit(float("nan")).alias("value"),
        F.lit(True).alias("stale"),
        *(
            [F.col("labels"), F.col("_series_str")]
            if has_labels
            else []
        ),
    )


def scraped_with_staleness(scraped: DataFrame) -> DataFrame:
    """The scrape log plus its synthesized stale markers — the
    relation upstream's TSDB actually stores. Real samples carry
    ``stale = false``; every downstream selector
    (`registry_from_scrapes`, `MetricsRegistry.instant`, the PromQL
    evaluator's instant-selector pick) keys on the column when present."""
    base = scraped
    if "stale" not in base.columns:
        base = base.withColumn("stale", F.lit(False))
    return base.unionByName(
        stale_markers(scraped), allowMissingColumns=True
    )


def registry_from_scrapes(scraped: DataFrame) -> DataFrame:
    """Latest-scrape state per series from an accumulated scrape log:
    (metric, kind, stat, label_user, le, value) at each series' most
    recent scrape — the scraped registry's answer to the direct
    registry's counter/gauge/histogram state reads.

    Exposition totals are cumulative, so "state" = the newest sample
    per (metric, stat, label_user, le, target): one window-free
    max-struct aggregate, shuffle keyed by series — registry-sized
    state, unbounded scrape count.

    If the log carries a ``stale`` column (`scraped_with_staleness`),
    a series whose NEWEST sample is a stale marker is dropped from
    the registry — upstream's "the target stopped serving it, it is
    gone now", not "serve the dead value until the lookback ages
    out".

    A log carrying the full ``labels`` map keys series identity on
    its canonical `label_str` rendering (injective, sorted — a MAP
    column itself cannot be a grouping key), so series differing only
    in a THIRD label stay distinct; the map rides through the fold
    and out. Stale-marker rows (null map) fall back to the flattened
    pair encoding — `stale_markers` emits the same `_series_str` key,
    so a marker lands in exactly the series group it kills."""
    key = ["target", "metric", "kind", "stat", "label_user", "le"]
    has_stale = "stale" in scraped.columns
    has_labels = "labels" in scraped.columns
    stale_field = (
        [F.coalesce(F.col("stale"), F.lit(False)).alias("s")]
        if has_stale
        else []
    )
    key_cols = [
        F.coalesce(F.col(c).cast("string"), F.lit("\x00")).alias(c)
        if c in ("label_user", "le")
        else F.col(c)
        for c in key
    ]
    label_agg = []
    if has_labels:
        key_cols.append(_series_str_expr(scraped).alias("_series_str"))
        # ignorenulls: marker rows from legacy/flat logs carry a null
        # map; all map-bearing rows of a series share one identical map
        label_agg = [
            F.first("labels", ignorenulls=True).alias("labels")
        ]
    picked = (
        scraped.groupBy(*key_cols)
        .agg(
            F.max(
                F.struct(
                    F.col("ts_us").alias("t"),
                    F.col("scrape_idx").alias("i"),
                    F.col("value").alias("v"),
                    *stale_field,
                )
            ).alias("last"),
            *label_agg,
        )
        .select(
            "target",
            "metric",
            "kind",
            "stat",
            F.nullif(F.col("label_user"), F.lit("\x00")).alias(
                "label_user"
            ),
            F.nullif(F.col("le"), F.lit("\x00")).alias("le"),
            F.col("last.v").alias("value"),
            F.col("last.t").alias("ts_us"),
            F.col("last.i").alias("scrape_idx"),
            *([F.col("labels")] if has_labels else []),
            *([F.col("last.s").alias("_stale")] if has_stale else []),
        )
    )
    if has_stale:
        picked = picked.filter(~F.col("_stale")).drop("_stale")
    return picked


def scraped_as_samples(scraped: DataFrame) -> DataFrame:
    """The classified scrape log as the §1.2 samples relation the
    PromQL evaluator consumes: (event_id, series_id, metric,
    labels MAP, ts_us, value) plus the `stale` column when present
    (the evaluator's instant/grid paths honor markers). Labels lift
    through `relabel.lift_labels` — the full parsed map with
    `instance` := the scrape target — and series_id is the canonical
    `model.series_id_expr` hash every base relation uses, so scraped
    series co-partition with any unioned store. event_id is the
    scrape tick (unique per series per tick by construction — one
    sample per series per scrape), keeping the LAG tiebreak in
    increase/rate folds deterministic.

    Metric names reconstruct the EXPOSITION form — what upstream's
    TSDB actually stores: a counter family `beat` queries as
    `beat_total`, histogram children as `h_bucket{le=…}`/`h_sum`/
    `h_count` — so the `_sum`/`_count` siblings of one family are
    distinct series instead of colliding on identical (name, labels)
    identity, and a Prometheus user's existing queries work verbatim.

    This is what makes `up == 0` — the single most common alert in
    real deployments — a one-liner over the scrape log:
    ``PromQLEvaluator(scraped_as_samples(scraped_with_staleness(log)))
    .eval('up == 0')``."""
    from shards_prometheus_spark.model import series_id_expr
    from shards_prometheus_spark.operators.relabel import lift_labels

    lifted = lift_labels(scraped)
    suffix = (
        F.when(F.col("stat") == "total", F.lit("_total"))
        .when(F.col("stat") == "bucket", F.lit("_bucket"))
        .when(F.col("stat") == "sum", F.lit("_sum"))
        .when(F.col("stat") == "count", F.lit("_count"))
        .otherwise(F.lit(""))
    )
    lifted = lifted.withColumn("metric", F.concat("metric", suffix))
    keep = [
        F.col("scrape_idx").alias("event_id"),
        series_id_expr("metric", "labels").alias("series_id"),
        "metric",
        "labels",
        "ts_us",
        "value",
    ]
    for opt in ("stale", "_series_str"):
        if opt in lifted.columns:
            keep.append(opt)
    return lifted.select(*keep)


# --- registered parity query ------------------------------------------------


def stale_markers_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered parity row for the staleness diff: treat each hour
    of the events corpus as one scrape tick of a single target and
    synthesize the stale markers — a marker per (metric, user) series
    present in hour t but absent in hour t+1, stamped at hour t+1's
    newest sample time. Exercises `stale_markers`' presence diff,
    per-target tick timeline, and anti-join end to end against a
    batch-SQL oracle (the scrape-loop twin is pinned by
    tests/test_staleness.py over real micro-batches)."""
    from shards_prometheus_spark.model import samples

    s = samples(spark, sf_dir)
    log = s.select(
        F.lit("events").alias("target"),
        F.expr("ts_us div 3600000000").alias("scrape_idx"),
        "ts_us",
        "metric",
        F.lit("gauge").alias("kind"),
        F.lit("last").alias("stat"),
        "label_user",
        F.lit(None).cast("string").alias("le"),
        "value",
    )
    return (
        stale_markers(log)
        .select(
            "metric",
            "label_user",
            "scrape_idx",
            F.expr("ts_us div 1000000").alias("marker_ts_s"),
        )
        .orderBy("metric", "label_user", "scrape_idx")
    )


def scrape_up_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered parity row for the synthetic scrape-report family:
    treat each metric family of the events corpus as one TARGET and
    each hour as one scrape TICK, and derive upstream's per-scrape
    report — `up` 1/0 plus `scrape_samples_scraped` — over the full
    target × tick grid: a (target, tick) cell with no samples is a
    FAILED scrape (`up` 0, zero samples), exactly the row the live
    source synthesizes when a GET dies (scraper._read_target; the
    real failure path — dead endpoint mid-loop, micro-batch
    survives, series stale out — is pinned by
    tests/test_scraper.py::test_dead_target_does_not_fail_the_batch).

    Scale shape: one groupBy over the corpus (series-keyed shuffle,
    partial-aggregated), then ALL grid work happens on the
    (targets × ticks)-sized presence relation — the global-bounds
    window and the sequence explosion are config-sized, never
    corpus-sized, and the final join is broadcastable by size."""
    from shards_prometheus_spark.model import samples

    s = samples(spark, sf_dir)
    pres = s.groupBy(
        F.col("metric").alias("target"),
        F.expr("ts_us div 3600000000").alias("tick"),
    ).agg(F.count(F.lit(1)).alias("n"))
    # global tick bounds as a 1-row aggregate broadcast-joined onto
    # the distinct-target relation — no single-partition window
    # anywhere in the plan (the r14 nit): the agg's partial/final
    # fold is the canonical global-min/max shape at any scale
    bounds = pres.agg(
        F.min("tick").alias("lo"), F.max("tick").alias("hi")
    )
    grid = (
        pres.select("target")
        .distinct()
        .join(F.broadcast(bounds))
        .select(
            "target", F.explode(F.sequence("lo", "hi")).alias("tick")
        )
    )
    return (
        grid.join(pres, ["target", "tick"], "left")
        .select(
            "target",
            "tick",
            F.when(F.col("n").isNotNull(), F.lit(1))
            .otherwise(F.lit(0))
            .alias("up"),
            F.coalesce("n", F.lit(0)).alias("samples_scraped"),
        )
        .orderBy("target", "tick")
    )


QUERIES = {
    "stale_markers_hourly": stale_markers_hourly,
    "scrape_up_family": scrape_up_family,
}


def _stale_markers_sql() -> str:
    from shards_prometheus_spark.model import SAMPLES_CTE

    return (
        f"{SAMPLES_CTE}, "
        "log AS (SELECT metric, label_user, ts_us, "
        "ts_us // 3600000000 AS tick FROM samples), "
        "tl AS (SELECT tick, LEAD(tick) OVER (ORDER BY tick) AS next_tick, "
        "LEAD(tick_ts) OVER (ORDER BY tick) AS next_ts "
        "FROM (SELECT tick, MAX(ts_us) AS tick_ts FROM log GROUP BY tick)), "
        "presence AS (SELECT DISTINCT metric, label_user, tick FROM log) "
        "SELECT p.metric, p.label_user, t.next_tick AS scrape_idx, "
        "t.next_ts // 1000000 AS marker_ts_s "
        "FROM presence p JOIN tl t ON p.tick = t.tick "
        "AND t.next_tick IS NOT NULL "
        "WHERE NOT EXISTS (SELECT 1 FROM presence q "
        "WHERE q.metric = p.metric AND q.label_user = p.label_user "
        "AND q.tick = t.next_tick) "
        "ORDER BY metric, label_user, scrape_idx"
    )


def _scrape_up_family_sql() -> str:
    from shards_prometheus_spark.model import SAMPLES_CTE

    return (
        f"{SAMPLES_CTE}, "
        "pres AS (SELECT metric AS target, ts_us // 3600000000 AS tick, "
        "COUNT(*) AS n FROM samples GROUP BY 1, 2), "
        "b AS (SELECT MIN(tick) AS lo, MAX(tick) AS hi FROM pres), "
        "ticks AS (SELECT unnest(generate_series(lo, hi)) AS tick "
        "FROM b), "
        "grid AS (SELECT t.target, ticks.tick "
        "FROM (SELECT DISTINCT target FROM pres) t, ticks) "
        "SELECT grid.target, grid.tick, "
        "CAST(CASE WHEN pres.n IS NULL THEN 0 ELSE 1 END AS INTEGER) "
        "AS up, COALESCE(pres.n, 0) AS samples_scraped "
        "FROM grid LEFT JOIN pres "
        "ON grid.target = pres.target AND grid.tick = pres.tick "
        "ORDER BY grid.target, grid.tick"
    )


ORACLES = {
    "stale_markers_hourly": _stale_markers_sql(),
    "scrape_up_family": _scrape_up_family_sql(),
}
