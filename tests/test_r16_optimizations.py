"""Focused equivalence tests for the r16 optimization round.

Each test pins an optimization that changed an operator's internals to
the semantics of the form it replaced:

- the grid lag-spine hash-aggregate fold (promql_parser._range_fold
  over `_lagged` scans) vs hand-computed windowed-lag values, with a
  predecessor OUTSIDE the window (the boundary case the `_pts > _wlo`
  validity condition exists for);
- the fused alert threshold batch (rules._eval_threshold_batch) vs
  the per-rule eval_range reference pipeline it vectorizes;
- the fused wire round trips (encode→decode in ONE kernel) vs the
  chained two-kernel forms;
- parallelism_floor's byte gate (no-op below 32 MB and above one
  split per core; an exchange in between).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from shards_prometheus_spark.functions.promql_parser import (
    PromQLEvaluator,
    Subquery,
)
from tests.conftest import SF_SMOKE

H = 3_600_000_000  # 1h in µs


def _grid_ev(spark):
    """Counter with resets: value 5,1,4,2,8,3 at t = 1h..6h."""
    vals = [5.0, 1.0, 4.0, 2.0, 8.0, 3.0]
    rows = [
        (i + 1, 1, "m", {"user": "a"}, (i + 1) * H, v)
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, series_id long, metric string, "
        "labels map<string,string>, ts_us long, value double",
    )
    return PromQLEvaluator(df)


def test_grid_increase_excludes_out_of_window_predecessor(spark):
    # window (t-2h, t] on instants 3h..6h: each window holds exactly
    # two samples; the earlier one's GLOBAL predecessor sits on/before
    # the window start and must not contribute a pair
    got = sorted(
        (r["ts_us"], r["value"])
        for r in _grid_ev(spark)
        .eval_range("increase(m[2h])", 4 * H, H)
        .collect()
    )
    assert got == [
        (3 * H, 3.0),   # 1 -> 4
        (4 * H, 2.0),   # 4 -> 2 reset: clamp to 2
        (5 * H, 6.0),   # 2 -> 8
        (6 * H, 3.0),   # 8 -> 3 reset: clamp to 3
    ]


def test_grid_irate_last_pair_validity(spark):
    got = sorted(
        (r["ts_us"], r["value"])
        for r in _grid_ev(spark)
        .eval_range("irate(m[2h])", 2 * H, H)
        .collect()
    )
    assert got == [(5 * H, 6.0), (6 * H, 3.0)]


def test_grid_instant_leaf_last_sample_pick(spark):
    # bare selector on the grid: newest sample within the 5m lookback
    # of each instant — the max-struct hash-agg pick
    ev = _grid_ev(spark)
    got = sorted(
        (r["ts_us"], r["value"])
        for r in ev.eval_range("m", 3 * H, H).collect()
    )
    assert got == [(4 * H, 2.0), (5 * H, 8.0), (6 * H, 3.0)]


def _per_rule_alerts(ev, rules):
    """The per-rule eval_range pipeline (the old eval_alert_for_group
    body, kept here as the reference semantics), as sorted
    (alertname, labels, value) rows."""
    parts = []
    for name, expr, for_us, step_us in rules:
        span_us = for_us + step_us
        g = ev.eval_range(expr, span_us, step_us)
        ng = len(ev.grid_points_py(Subquery(None, span_us, step_us)))
        parts.append(
            g.groupBy("labels")
            .agg(
                F.count(F.lit(1)).alias("_n"),
                F.max(F.struct("ts_us", "value")).alias("_last"),
            )
            .filter(F.col("_n") == F.lit(ng))
            .select(
                F.lit(name).alias("alertname"),
                "labels",
                F.col("_last.value").alias("value"),
            )
        )
    ref = parts[0]
    for p in parts[1:]:
        ref = ref.unionByName(p)
    return _alert_rows(ref)


def _alert_rows(df):
    k = lambda r: (r["alertname"], r["labels"], r["value"])  # noqa: E731
    return sorted(map(k, df.collect()))


def test_fused_threshold_batch_matches_per_rule_reference(spark):
    """The vectorized alert batch must reproduce the per-rule
    eval_range pipeline row for row."""
    from shards_prometheus_spark.operators.rules import (
        ALERT_FOR_RULES,
        eval_alert_for_group,
    )

    ev = PromQLEvaluator.from_dir(spark, SF_SMOKE)
    got = _alert_rows(eval_alert_for_group(ev, ALERT_FOR_RULES, "alertname"))
    want = _per_rule_alerts(ev, ALERT_FOR_RULES)
    assert got == want and len(want) > 0


def test_threshold_rules_on_one_metric_are_not_fused(spark):
    """An above-average and a below-average alert on the SAME metric
    share the fused batch key, but the fused path keys on metric and
    so cannot tell them apart (it ORed both comparisons and named
    every row after the first rule): such a batch must evaluate per
    rule."""
    from shards_prometheus_spark.operators.rules import (
        eval_alert_for_group,
    )

    # click counters at 1h steps: users a and b grow faster than the
    # per-instant average, c slower
    rates = {"a": 9.0, "b": 6.0, "c": 0.0}
    rows = [
        (i * 3 + j, j, "click", {"user": u}, (i + 1) * H, i * r)
        for i in range(12)
        for j, (u, r) in enumerate(rates.items())
    ]
    ev = PromQLEvaluator(
        spark.createDataFrame(
            rows,
            "event_id long, series_id long, metric string, "
            "labels map<string,string>, ts_us long, value double",
        )
    )
    lhs = "sum by (user) (increase(click[2h]))"
    rules = [
        ("ClicksAbove", f"{lhs} > scalar(avg({lhs}))", 3 * H, H),
        ("ClicksBelow", f"{lhs} < scalar(avg({lhs}))", 3 * H, H),
    ]
    got = _alert_rows(eval_alert_for_group(ev, rules, "alertname"))
    want = _per_rule_alerts(ev, rules)
    assert got == want
    assert [(r[0], r[1]) for r in want] == [
        ("ClicksAbove", "user=a"),
        ("ClicksAbove", "user=b"),
        ("ClicksBelow", "user=c"),
    ]


def test_grid_points_py_matches_grid_before_epoch(spark):
    """grid_points_py is the driver-side twin of _grid: with an offset
    larger than t_max the anchor `t_max - offset` is negative, where
    SQL `div` truncates toward zero and Python `//` floors — the
    twin must divide the SQL way."""
    ev = _grid_ev(spark)
    for off in (10 * H, 7 * H + 1, 6 * H + 1_234_567, 0):
        for at in (None, 2 * H + 5):
            sub = Subquery(None, 3 * H, H, off, at)
            want = [r["_ets"] for r in ev._grid(sub).collect()]
            assert ev.grid_points_py(sub) == sorted(want, reverse=True)


def test_fused_write_roundtrip_matches_chained(spark):
    from shards_prometheus_spark.model import samples
    from shards_prometheus_spark.sources.remote_write import (
        decode_write_requests,
        encode_write_requests,
        roundtrip_write_requests,
    )

    s = samples(spark, SF_SMOKE).repartition(4, "metric", "label_user")
    k = lambda r: (  # noqa: E731
        r["metric"], r["label_user"], r["ts_us"], r["value"]
    )
    got = sorted(map(k, roundtrip_write_requests(s).collect()))
    want = sorted(
        map(k, decode_write_requests(encode_write_requests(s)).collect())
    )
    assert got == want and len(want) > 0


def test_fused_otlp_roundtrip_matches_chained(spark):
    from shards_prometheus_spark.model import samples
    from shards_prometheus_spark.sources.otlp import (
        decode_otlp_requests,
        encode_otlp_requests,
        roundtrip_otlp_requests,
    )

    s = samples(spark, SF_SMOKE).repartition(4, "metric", "label_user")
    k = lambda r: (  # noqa: E731
        r["metric"], r["label_user"], r["ts_us"], r["value"]
    )
    got = sorted(map(k, roundtrip_otlp_requests(s).collect()))
    want = sorted(
        map(k, decode_otlp_requests(encode_otlp_requests(s)).collect())
    )
    assert got == want and len(want) > 0


def test_kmeans_empty_centroid_drops_out(spark, tmp_path):
    """ADVICE r15 (medium): two identical seed vectors tie every
    assignment to the smaller cent_id, emptying the other — the lazy
    relational chain must drop the empty centroid (NULL wide
    coefficients → NULL dist² → skipped by least/when), not crash."""
    import shards_prometheus_spark.operators.similarity as sim

    rows = [
        (1, [1.0, 0.0], "a"),
        (2, [1.0, 0.0], "a"),   # identical to seed 1 → centroid 2 empties
        (3, [0.0, 1.0], "b"),
        (4, [-1.0, 0.0], "c"),
        (5, [0.9, 0.1], "a"),
        (6, [0.1, 0.9], "b"),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string"
    )
    d = str(tmp_path / "kmeans_empty")
    import os

    os.makedirs(d, exist_ok=True)
    df.coalesce(1).write.parquet(f"{d}/embeddings.parquet")
    out = {
        r["cent_id"]: r["n_members"]
        for r in sim.similarity_kmeans(spark, d).collect()
    }
    assert 2 not in out            # the emptied centroid dropped out
    assert sum(out.values()) == 6  # every vector still assigned


def test_mask_words_jaccard_matches_pair_jaccard(spark):
    """The multi-word bitmask verify (vocab > 62, the sf1+ regime the
    oracle SFs never reach) must produce the exact pair_jaccard values
    — same sets, different encoding."""
    from shards_prometheus_spark.operators.dedup import (
        _mask_words_jaccard,
    )
    from shards_prometheus_spark.operators.tierc_common import (
        clear_caches,
        pair_jaccard,
    )

    # token ids spanning several 64-bit words (vocab ~ 300)
    docs = {
        1: [1, 64, 65, 130, 200, 299],
        2: [1, 64, 65, 130, 200],        # subset of 1
        3: [2, 63, 127, 128, 256, 300],
        4: [1, 64, 65, 130, 200, 299],   # identical to 1
        5: [299, 300],
    }
    dset = spark.createDataFrame(
        [(d, t) for d, ts in docs.items() for t in ts],
        "doc_id long, token_id long",
    )
    cands = spark.createDataFrame(
        [(a, b) for a in docs for b in docs if a < b],
        "doc_a long, doc_b long",
    )
    import uuid

    key = f"/nonexistent/maskwords-{uuid.uuid4()}"  # memo key only
    got = {
        (r["doc_a"], r["doc_b"]): round(r["jaccard_raw"], 9)
        for r in _mask_words_jaccard(cands, dset, key, 300).collect()
    }
    want = {
        (r["doc_a"], r["doc_b"]): round(r["jaccard_raw"], 9)
        for r in pair_jaccard(cands, dset).collect()
    }
    clear_caches(spark)
    assert got == want and got[(1, 4)] == 1.0 and got[(1, 2)] == round(
        5 / 6, 9
    )


def test_parallelism_floor_byte_gate(spark, monkeypatch):
    import os as _os

    from shards_prometheus_spark.model import (
        parallelism_floor,
        samples_multi,
    )

    df = samples_multi(spark, SF_SMOKE)

    def plan(d):
        return d._jdf.queryExecution().optimizedPlan().toString()

    # below 32 MB: identity — the serial plan unchanged
    monkeypatch.setattr(_os.path, "getsize", lambda p: 2 * 1024 * 1024)
    assert parallelism_floor(spark, SF_SMOKE, df) is df

    # middle band: an exchange to core width
    monkeypatch.setattr(_os.path, "getsize", lambda p: 100 * 1024 * 1024)
    out = parallelism_floor(spark, SF_SMOKE, df)
    assert out is not df and "Repartition" in plan(out)

    # enough splits already: identity
    monkeypatch.setattr(
        _os.path, "getsize", lambda p: 1024 * 1024 * 1024 * 1024
    )
    assert parallelism_floor(spark, SF_SMOKE, df) is df


def test_parallelism_floor_split_count_gate(spark, tmp_path):
    """A directory table of many mid-size parts already scans in
    cores/2 splits or more, so the floor adds no round-robin exchange;
    one large part alone, in a directory or as a single file, still
    gets the floor, at 2 cores too. The parts are sparse files: only
    their sizes matter to the gate, and only the core count matters of
    the session, so `cores` stands in for it."""
    import os as _os
    from types import SimpleNamespace

    from shards_prometheus_spark.model import (
        parallelism_floor,
        samples_multi,
    )
    from shards_prometheus_spark.plans import formatted_plan

    df = samples_multi(spark, SF_SMOKE)
    mb = 1024 * 1024

    def sparse(path, size):
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "wb") as f:
            _os.truncate(f.fileno(), size)

    def floored(sf_dir, n_cores):
        cores = SimpleNamespace(
            sparkContext=SimpleNamespace(defaultParallelism=n_cores)
        )
        out = parallelism_floor(cores, str(sf_dir), df)
        return "RoundRobinPartitioning" in formatted_plan(out)

    many = tmp_path / "many" / "events.parquet"
    for i in range(8):
        sparse(many / f"part-{i}.parquet", 100 * mb)
    assert not floored(tmp_path / "many", 8)

    sparse(tmp_path / "one" / "events.parquet" / "part-0.parquet", 100 * mb)
    assert floored(tmp_path / "one", 8)

    sparse(tmp_path / "file" / "events.parquet", 100 * mb)
    assert floored(tmp_path / "file", 8)
    assert floored(tmp_path / "file", 2)
