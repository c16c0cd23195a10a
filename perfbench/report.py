"""Turns a measured pass into the reported metrics.

End-to-end metrics (the gated set in BENCHMARK.json) are the same four
names on every workload; what an "operation" is differs per workload and is
listed in perfbench/README.md. `detail_lines` prints each workload's
figures under the names a user of that workload would look for
(read_p50_ms, write_p99_ms, ingest_samples_per_s, batch_s, ...).
"""

from __future__ import annotations

import statistics

from perfbench.workloads import PIPELINE_QUERIES, percentile, tail_summary


def _m(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def end_to_end(setup_s: float, p) -> dict:
    lat = [o.latency_ms for o in p.gated]
    return {
        "setup_s": _m(setup_s, "s"),
        # interpolated: a run holds only a handful of gated operations
        "latency_p50_ms": _m(statistics.median(lat), "ms"),
        "throughput_ops_per_s": _m(p.ops_per_s, "1/s"),
        "peak_rss_mb": _m(p.peak_rss_mb, "MB"),
    }


def _error_rate(ops) -> float:
    return sum(not o.ok for o in ops) / len(ops) if ops else 0.0


def _fmt_tail(prefix: str, summary: dict, unit: str = "ms") -> "list[str]":
    out = [f"{prefix}_p50_{unit} = {summary['p50']:.3f} (n={summary['n']})"]
    for k, v in summary.items():
        if k not in ("n", "p50"):
            out.append(f"{prefix}_{k}_{unit} = {v:.3f} (n={summary['n']})")
    return out


def detail_lines(workload: str, setup_s: float, p) -> "list[str]":
    lines = [f"setup_s = {setup_s:.4f} s"]
    d = p.detail
    if workload == "dashboard_read":
        lines += _fmt_tail("read", tail_summary([o.latency_ms for o in p.ops]))
        lines.append(f"read_qps = {p.ops_per_s:.3f} 1/s")
        lines += _fmt_tail(
            "refresh", tail_summary([o.latency_ms for o in p.gated])
        )
        for kind in sorted({o.kind for o in p.ops}):
            sub = [o.latency_ms for o in p.ops if o.kind == kind]
            lines.append(
                f"  {kind}: p50 {percentile(sub, 50):.1f} ms, n={len(sub)}"
            )
    elif workload == "remote_write_ingest":
        for ph in d["phases"]:
            lat = ph["write_latency_ms"]
            lines.append(
                f"rate {ph['rate_samples_per_s']:.0f} samples/s: "
                + ", ".join(_fmt_tail("write", lat))
                + f", acked {ph['acked_samples_per_s']:.0f} samples/s"
                + f", backlog {ph['backlog_unsent']}"
                + f", generator late p50 {ph['generator_late_ms']['p50']:.2f}"
                + f" max {ph['generator_late_ms']['max']:.2f} ms"
                + f", meets {d['write_limit_ms']:.0f} ms limit: "
                + str(ph["meets_limit"])
            )
        mid = tail_summary([o.latency_ms for o in p.gated])
        lines += _fmt_tail("write", mid)
        lines.append(
            f"ingest_samples_per_s = {d['ingest_samples_per_s']:.1f} samples/s"
        )
        lines.append(
            "sustained_ingest_samples_per_s = "
            f"{d['sustained_ingest_samples_per_s']:.0f} samples/s"
        )
        lines.append(f"store_rows = {d['store_rows']}")
    elif workload == "ingest_with_reads":
        lines += _fmt_tail("read", d["read_latency_ms"])
        lines.append(f"read_qps = {p.ops_per_s:.3f} 1/s")
        ws = d["push"]
        lines += _fmt_tail("write", ws["write_latency_ms"])
        lines.append(
            f"acked_samples_per_s = {ws['acked_samples_per_s']:.1f} samples/s"
            f" at a fixed {ws['rate_samples_per_s']:.0f}"
            f", generator late p50 {ws['generator_late_ms']['p50']:.2f}"
            f" max {ws['generator_late_ms']['max']:.2f} ms"
        )
        lines.append(
            f"store_rows = {d['store_rows']}"
            f" ({d['pushed_samples']} pushed in the window)"
        )
    elif workload == "pipeline_batch":
        lines += _fmt_tail("query", tail_summary([o.latency_ms for o in p.ops]))
        lines.append(f"batch_s = {d['batch_s']:.3f} s (one cold pass)")
        for q, v in d["per_query"].items():
            lines.append(
                f"  {q}: plan {v['plan_s']:.3f} s, exec {v['exec_s']:.3f} s"
            )
    lines.append(f"error_rate = {_error_rate(p.ops):.4f} (n={len(p.ops)})")
    lines.append(f"peak_rss_mb = {p.peak_rss_mb:.1f} MB")
    return lines


def per_layer(tracer, p, untraced: dict) -> dict:
    """Per-layer metrics of a traced pass. Read-side times are per read
    operation (HTTP read, or query on pipeline_batch), write-side times
    per write request."""
    st = tracer.self_times()
    reads = [o for o in p.ops if o.kind != "write"]
    writes = [o for o in p.ops if o.kind == "write"]
    n_r, n_w = len(reads), len(writes)

    def per(name: str, n: int) -> float:
        return st.get(name, 0.0) * 1000.0 / n if n else 0.0

    api = [o.nbytes for o in reads if o.kind not in ("scrape", "query")]
    scrapes = [o.nbytes for o in reads if o.kind == "scrape"]
    jobs, stages, tasks = tracer.spark_work(
        [f"bench-{r}" for r in range(1, tracer.requests + 1)]
    )
    decode_s = st.get("remote_write.decode", 0.0)
    pushed = p.detail.get("pushed_samples", 0)
    n_http = tracer.count("client.request")
    out = {
        "promql_parser.parse_ms": _m(per("promql_parser.parse", n_r), "ms"),
        "promql_parser.evaluator_ms": _m(per("promql_parser.evaluator", n_r), "ms"),
        "promql_parser.plan_ms": _m(per("promql_parser.plan", n_r), "ms"),
        "spark.collect_ms": _m(per("spark.collect", n_r), "ms"),
        "spark.jobs_per_request": _m(jobs / n_r if n_r else 0, "count"),
        "spark.stages_per_request": _m(stages / n_r if n_r else 0, "count"),
        "spark.tasks_per_request": _m(tasks / n_r if n_r else 0, "count"),
        "query_api.handle_ms": _m(per("query_api.handle", n_r), "ms"),
        "query_api.render_ms": _m(per("query_api.render", n_r), "ms"),
        "query_api.response_bytes": _m(
            sum(api) / len(api) if api else 0, "bytes"
        ),
        "exposition.http_overhead_ms": _m(per("client.request", n_http), "ms"),
        "remote_write.decode_ms": _m(per("remote_write.decode", n_w), "ms"),
        "remote_write.decode_samples_per_s": _m(
            pushed / decode_s if decode_s else 0, "1/s"
        ),
        "remote_write.receive_ms": _m(per("remote_write.receive", n_w), "ms"),
        "remote_write.store_rows": _m(p.detail.get("store_rows", 0), "count"),
        "remote_write.store_render_ms": _m(
            per("remote_write.store_render", n_r), "ms"
        ),
    }
    if scrapes:
        # only dashboard_read scrapes; the gated workloads' per-layer
        # set in BENCHMARK.json leaves these out
        out["exposition.scrape_render_ms"] = _m(
            per("exposition.collect_text", len(scrapes)), "ms"
        )
        out["exposition.scrape_bytes"] = _m(sum(scrapes) / len(scrapes), "bytes")
    per_q = p.detail.get("per_query", {})
    for q in PIPELINE_QUERIES:
        v = per_q.get(q, {})
        out[f"operators.{q}.plan_s"] = _m(v.get("plan_s", 0), "s")
        out[f"operators.{q}.exec_s"] = _m(v.get("exec_s", 0), "s")
    out["tierc_common.cache_entries"] = _m(
        p.detail.get("cache_entries", 0), "count"
    )
    traced = end_to_end(0.0, p)
    for k in ("latency_p50_ms", "throughput_ops_per_s"):
        base = untraced[k]["value"]
        delta = traced[k]["value"] - base
        unit = untraced[k]["unit"]
        out[f"trace_overhead.{k}"] = _m(delta, unit)
        out[f"trace_overhead.{k}_pct"] = _m(
            100.0 * delta / base if base else 0, "%"
        )
    return out
