"""Dump `.explain("formatted")` for named queries to plans/<round>/.

Usage:
    python tools/dump_plans.py <suffix> query [query ...]
    python tools/dump_plans.py <suffix> --read NAME TIME_S EXPR [--read ...]
        [--seed N]

A registry query is dumped as planned. A `--read` is a PromQL instant
query at TIME_S (unix seconds) over a remote-write exposer's read
relation: the base store is perfbench's 20k-event store and the pushed
store holds the 30 1,000-sample write requests ingest_with_reads pushes
before its window, both made from `--seed`. The read is collected
first, so its dump is the executed plan (AQE's final plan, with any
cache stages it ran).

Writes plans/$SPARK_GRAFT_PLANS_ROUND/<name>_<suffix>.txt for each
(round defaults to r16).
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def read_plans(spark, reads, seed: int):
    """(name, executed plan) of each (name, time_s, expr) read over a
    base ∪ pushed store built from `seed`."""
    from perfbench import inputs
    from perfbench.workloads import MIXED_PREFILL_PAYLOADS
    from shards_prometheus_spark.functions.promql_parser import (
        PromQLEvaluator,
    )
    from shards_prometheus_spark.plans import formatted_plan
    from shards_prometheus_spark.sources.exposition import MetricsExposer

    store = tempfile.mkdtemp(prefix="dump-plans-store-")
    exposer = None
    try:
        inputs.make_store(store, seed, 20_000)
        exposer = MetricsExposer(spark, store, remote_write=True).start()
        for payload in inputs.make_payloads(seed, MIXED_PREFILL_PAYLOADS):
            exposer.receive_remote_write(payload.body)
        out = []
        for name, time_s, expr in reads:
            t_us = int(time_s) * 1_000_000
            ev = PromQLEvaluator(exposer.read_samples(), t_us)
            df = ev.eval_instant_map(expr)
            df.collect()
            out.append((name, formatted_plan(df)))
        return out
    finally:
        if exposer is not None:
            exposer.stop()
        shutil.rmtree(store, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("suffix")
    ap.add_argument("queries", nargs="*", help="registry query names")
    ap.add_argument("--read", nargs=3, action="append", default=[],
                    metavar=("NAME", "TIME_S", "EXPR"))
    ap.add_argument("--seed", type=int, default=0)
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from shards_prometheus_spark.plans import formatted_plan
    from shards_prometheus_spark.registry import all_queries
    from shards_prometheus_spark.session import get_spark

    rnd = os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r16")
    spark = get_spark("dump-plans")
    queries = all_queries()
    plans = [(q, formatted_plan(queries[q](spark, sf_dir))) for q in args.queries]
    if args.read:
        plans += read_plans(spark, args.read, args.seed)
    os.makedirs(f"plans/{rnd}", exist_ok=True)
    for name, txt in plans:
        path = f"plans/{rnd}/{name}_{args.suffix}.txt"
        with open(path, "w") as fh:
            fh.write(txt)
        print(f"wrote {path} ({len(txt.splitlines())} lines)")


if __name__ == "__main__":
    main()
