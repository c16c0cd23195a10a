"""In-memory span tracing from the benchmark's side of the engine's
public functions.

`Tracer.install()` wraps the public entry points of each engine layer
(and the stdlib HTTP handler, to carry the client's request id into the
server thread) with span recorders; `uninstall()` restores them. A span
is (id, name, start, end, parent, request id, thread); spans stay in
memory and `dump()` writes them as JSON lines when the run ends.

A layer's self time is its span's duration minus the time its child
spans cover. The server's first engine span on a request thread takes
the client's round-trip span as parent, so the client span's self time
is the HTTP overhead around the engine call.
"""

from __future__ import annotations

import functools
import http.server
import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from urllib.parse import parse_qs, urlsplit

#: query parameter that carries the request id from client to server
REQ_PARAM = "bench_req"


def _owner(cls, attr: str):
    """The class in cls's MRO that defines attr (the session's concrete
    DataFrame class overrides the generic one)."""
    return next(c for c in cls.__mro__ if attr in c.__dict__)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        #: request id -> client span id, for cross-thread parents
        self._client_span: dict[int, int] = {}
        self._patches: list[tuple] = []
        self._spark = None
        self._reqs = itertools.count(1)
        self.requests = 0

    def new_request(self) -> int:
        """A fresh request id (shared by every client thread)."""
        self.requests = next(self._reqs)
        return self.requests

    # -- recording -----------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, req: "int | None" = None):
        st = self._stack()
        sid = next(self._ids)
        if req is not None:
            self._local.req = req
        req = getattr(self._local, "req", None)
        parent = st[-1] if st else self._client_span.get(req)
        if name == "client.request":
            self._client_span[req] = sid
            parent = None
        st.append(sid)
        t0 = time.perf_counter()
        try:
            yield sid
        finally:
            t1 = time.perf_counter()
            st.pop()
            self.spans.append(
                (sid, name, t0, t1, parent, req, threading.get_ident())
            )

    def set_request(self, req: "int | None") -> None:
        self._local.req = req

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return traced

    # -- installation --------------------------------------------------
    def _patch(self, owner, attr: str, new) -> None:
        self._patches.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def install(self, spark) -> None:
        """Wrap every traced entry point; `uninstall` restores them."""
        from shards_prometheus_spark.functions import promql_parser as pp
        from shards_prometheus_spark.sources import exposition as ex
        from shards_prometheus_spark.sources import query_api as qa
        from shards_prometheus_spark.sources import remote_write as rw

        self._spark = spark
        plain = [
            (pp, "parse", "promql_parser.parse"),
            (qa, "parse", "promql_parser.parse"),
            (pp.PromQLEvaluator, "__init__", "promql_parser.evaluator"),
            (pp.PromQLEvaluator, "eval_instant_map", "promql_parser.plan"),
            (pp.PromQLEvaluator, "eval_range_map_at", "promql_parser.plan"),
            (_owner(type(spark.range(1)), "collect"), "collect", "spark.collect"),
            (qa, "handle_api_request", "query_api.handle"),
            (qa, "instant_data", "query_api.render"),
            (qa, "range_data", "query_api.render"),
            (ex.MetricsExposer, "handle_api", "exposition.handle_api"),
            (ex.MetricsExposer, "collect_text", "exposition.collect_text"),
            (rw, "parse_write_request", "remote_write.decode"),
            (rw.RemoteWriteReceiver, "receive", "remote_write.receive"),
            (rw.RemoteWriteReceiver, "samples", "remote_write.store_render"),
        ]
        for owner, attr, name in plain:
            self._patch(owner, attr, self._wrap(getattr(owner, attr), name))
        from_dir = pp.PromQLEvaluator.__dict__["from_dir"].__func__
        self._patch(
            pp.PromQLEvaluator,
            "from_dir",
            classmethod(self._wrap(from_dir, "promql_parser.evaluator")),
        )

        orig_parse_request = http.server.BaseHTTPRequestHandler.parse_request
        tracer = self

        def parse_request(handler):
            ok = orig_parse_request(handler)
            vals = parse_qs(urlsplit(handler.path).query).get(REQ_PARAM)
            if ok and vals:
                req = int(vals[0])
                tracer.set_request(req)
                tracer._stack().clear()
                spark.sparkContext.setJobGroup(f"bench-{req}", "bench")
            return ok

        self._patch(
            http.server.BaseHTTPRequestHandler, "parse_request", parse_request
        )

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- analysis ------------------------------------------------------
    def self_times(self) -> "dict[str, float]":
        """Total self seconds per span name."""
        child: dict[int, float] = defaultdict(float)
        for _sid, _n, t0, t1, parent, _r, _t in self.spans:
            if parent is not None:
                child[parent] += t1 - t0
        out: dict[str, float] = defaultdict(float)
        for sid, name, t0, t1, *_rest in self.spans:
            out[name] += max(0.0, (t1 - t0) - child[sid])
        return dict(out)

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s[1] == name)

    def spark_work(self, groups: "list[str]") -> "tuple[int, int, int]":
        """(jobs, stages, tasks) Spark ran under the given job groups."""
        st = self._spark.sparkContext.statusTracker()
        jobs = stages = tasks = 0
        for g in groups:
            for jid in st.getJobIdsForGroup(g):
                jobs += 1
                info = st.getJobInfo(jid)
                for stage_id in info.stageIds if info else ():
                    stages += 1
                    si = st.getStageInfo(stage_id)
                    tasks += si.numTasks if si else 0
        return jobs, stages, tasks

    def dump(self, path: str) -> None:
        keys = ("id", "name", "start", "end", "parent", "req", "thread")
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(dict(zip(keys, s))) + "\n")
