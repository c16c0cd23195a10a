"""Correctness checks. Each returns a list of problems (empty = pass).

Expected answers come from DuckDB over the generated parquet files and
from the benchmark's own record of what it planted or pushed, never
from the engine.
"""

from __future__ import annotations

import math

from perfbench import inputs


def _close(a: float, b: float, rel: float = 1e-9) -> bool:
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    return abs(a - b) <= rel * max(1.0, abs(a), abs(b))


def _duck(store: str, tables=("events",)):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{store}/{t}.parquet'"
        )
    return con


def dashboard_answers(store: str, answers: list) -> "list[str]":
    """`sum by (shard) (sum|count_over_time(m[w]))` at time t must equal
    the per-shard sum/count of m's values in (t - w, t]."""
    if not answers:
        return []
    con = _duck(store)
    want: dict = {}
    problems = []
    for key, data in answers:
        if key not in want:
            fn, metric, w_s, t_s = key
            agg = "SUM(value)" if fn == "sum_over_time" else "COUNT(*)"
            rows = con.execute(
                "SELECT CAST(CAST(json_extract_string(props, '$.k') AS BIGINT)"
                f" % 10 AS VARCHAR), {agg} FROM events WHERE event_type = ?"
                " AND epoch_us(ts) > ? AND epoch_us(ts) <= ? GROUP BY 1",
                [metric, (t_s - w_s) * 1_000_000, t_s * 1_000_000],
            ).fetchall()
            want[key] = {s: float(v) for s, v in rows}
        got = {
            r["metric"].get("shard"): float(r["value"][1])
            for r in data.get("result", [])
        }
        exp = want[key]
        if set(got) != set(exp) or not all(
            _close(got[s], exp[s]) for s in exp
        ):
            problems.append(f"dashboard answer {key}: got {got}, want {exp}")
    return problems[:5]


def pushed_visible(samples, acked: list) -> "list[str]":
    """Every acknowledged push is in the exposer's samples relation:
    per-metric sample counts match exactly, value sums closely."""
    from pyspark.sql import functions as F

    want_n: dict = {}
    for p in acked:
        for m, n in p.per_metric.items():
            want_n[m] = want_n.get(m, 0) + n
    want_sum = sum(p.value_sum for p in acked)
    rows = (
        samples.filter(F.col("metric").isin(list(inputs.RW_METRICS)))
        .groupBy("metric")
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
        .collect()
    )
    got_n = {r["metric"]: r["n"] for r in rows}
    got_sum = sum(r["s"] for r in rows)
    problems = []
    if got_n != want_n:
        problems.append(f"pushed samples visible {got_n}, acknowledged {want_n}")
    if not _close(got_sum, want_sum, 1e-9):
        problems.append(f"pushed value sum {got_sum}, acknowledged {want_sum}")
    return problems


def reads_see_acked(reads: list, metric: str) -> "list[str]":
    """Each count read (pusher, sent, done, observed) observes at least
    the samples of `metric` acknowledged before it was sent, and no
    more than the pusher had taken by the end."""
    problems = []
    for pusher, sent, _done, n in reads:
        with pusher.lock:
            acked = list(pusher.acked)
            taken = pusher.payloads[: pusher.cursor]
        lo = sum(
            pusher.payloads[i].per_metric.get(metric, 0)
            for i, t in acked
            if t <= sent
        )
        hi = sum(p.per_metric.get(metric, 0) for p in taken)
        if not (lo <= n <= hi):
            problems.append(
                f"read sent at {sent:.3f} saw {n} samples of {metric}; "
                f"acknowledged before it: {lo}, sent in all: {hi}"
            )
    return problems[:5]


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def key(v):
        if v is None:
            return (0, "")
        if isinstance(v, (bool, int, float)):
            f = float(v)
            return (2, f"{f:.9f}") if math.isfinite(f) else (2, str(f))
        return (3, str(v))

    canon = [tuple(r[i] for i in order) for r in rows]
    return sorted(canon, key=lambda row: tuple(key(v) for v in row))


def _same(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return _close(float(a), float(b))
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return str(a) == str(b)


def oracle_match(name: str, cols: list, rows: list, con, sql: str) -> "list[str]":
    """Spark output (column names, rows) equals the DuckDB oracle:
    column set, row count, order-insensitive values."""
    cur = con.execute(sql)
    o_cols = [d[0] for d in cur.description]
    o_rows = [tuple(r) for r in cur.fetchall()]
    if sorted(cols) != sorted(o_cols):
        return [f"{name}: columns {sorted(cols)} vs oracle {sorted(o_cols)}"]
    if len(rows) != len(o_rows):
        return [f"{name}: {len(rows)} rows vs oracle {len(o_rows)}"]
    bad = sum(
        not all(_same(a, b) for a, b in zip(x, y))
        for x, y in zip(_canon(rows, cols), _canon(o_rows, o_cols))
    )
    return [f"{name}: {bad} rows differ from the oracle"] if bad else []


def pipeline_outputs(spark, store: str, queries: dict, plants: dict) -> "list[str]":
    """Every pipeline query matches its registry oracle in DuckDB, and
    the dedup queries find the planted duplicates."""
    from shards_prometheus_spark.registry import all_oracles

    oracles = all_oracles()
    con = _duck(store, ("events", "documents", "embeddings"))
    problems = []
    out: dict = {}
    for name, fn in queries.items():
        df = fn(spark, store)
        out[name] = [r.asDict() for r in df.collect()]
        problems += oracle_match(
            name, df.columns, [tuple(r.values()) for r in out[name]], con,
            oracles[name],
        )

    exact = {int(k): v for k, v in plants["exact"].items()}
    groups = [r for r in out["dedup_exact"] if r["n_copies"] > 1]
    if sum(r["n_copies"] - 1 for r in groups) != len(exact) or {
        r["keep_id"] for r in groups
    } != set(exact.values()):
        problems.append(
            f"dedup_exact: {len(groups)} duplicate groups do not match "
            f"{len(exact)} planted copies"
        )
    pairs = {(r["doc_a"], r["doc_b"]) for r in out["dedup_near"]}
    missed = [
        (a, b) for a, b in plants["near"] if (min(a, b), max(a, b)) not in pairs
    ]
    if missed:
        problems.append(
            f"dedup_near missed {len(missed)} of {len(plants['near'])} "
            f"planted near duplicates, e.g. {missed[:3]}"
        )
    return problems
