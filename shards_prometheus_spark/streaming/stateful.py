"""Custom stateful streaming operator: counter increase with resets.

The reference's runtime is an unbounded loop mutating per-series
accumulators in place (prometheus.cpp:178,212 — one atomic add per
sample). Its PromQL pairing derives `increase` from those counters with
reset clamping: a decrease means the process restarted, so the
post-reset value itself is the increase. The batch twin is a lag()
window (operators/counters.py); under *streaming* the lag must live in
a state store, because samples for one series arrive across
micro-batches.

This is the one operator whose semantics Spark's built-in streaming
aggregations can't express (sum/count are order-insensitive; increase
is order-DEPENDENT across batches), so it uses
``applyInPandasWithState``: per-series state = (last value, running
increase, sample count), updated per Arrow batch in event order.

Scale notes: state is one 3-field row per series — bounded by series
cardinality, like the reference's registry (prometheus.cpp:34-45). The
group key (metric, label_user) is the same shuffle key every other
series operator uses. For unbounded series cardinality both scale
levers are WIRED, not aspirational: ``use_rocksdb_state_store``
switches the session to the RocksDB provider (state off the JVM heap,
incremental checkpoints), and ``state_ttl`` arms event-time timeouts —
a series idle past the watermark horizon has its state evicted, so
churned-away series (redeployed pods, expired users) can't grow state
forever.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

INCREASE_OUTPUT_SCHEMA = StructType(
    [
        StructField("metric", StringType()),
        StructField("label_user", StringType()),
        StructField("total_increase", DoubleType()),
        StructField("n_samples", LongType()),
    ]
)

#: (last value seen, running increase, samples seen) per series.
INCREASE_STATE_SCHEMA = StructType(
    [
        StructField("last_value", DoubleType()),
        StructField("total_increase", DoubleType()),
        StructField("n_samples", LongType()),
    ]
)


def _make_update_increase(ttl_ms: int | None):
    """Build the per-series fold, optionally arming event-time TTL."""

    def update(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        """Fold one micro-batch of one series into the running increase.

        Rows are processed in (ts_us, event_id) order; the first-ever
        sample is the baseline (contributes no increase), matching the
        batch lag() form which drops the first row of each series.
        """
        if state.hasTimedOut:
            # watermark passed the series' TTL horizon with no new
            # samples: evict its state, emit nothing
            state.remove()
            return
        if state.exists:
            last, total, n = state.get
        else:
            last, total, n = 0.0, 0.0, 0
        # One series can span multiple Arrow chunks (>maxRecordsPerBatch
        # rows): concatenate BEFORE sorting so ordering holds across
        # chunk boundaries, then fold vectorized — a reset (v < prev)
        # contributes the post-reset value itself, otherwise the delta.
        batch = pd.concat(list(pdfs), ignore_index=True)
        if len(batch):
            batch = batch.sort_values(["ts_us", "event_id"])
            vals = batch["value"].to_numpy(dtype="float64")
            seq = np.concatenate(([last], vals)) if n > 0 else vals
            if len(seq) > 1:
                diffs = np.diff(seq)
                total += float(np.where(diffs >= 0, diffs, seq[1:]).sum())
            last = float(vals[-1])
            n += len(vals)
        state.update((last, total, n))
        if ttl_ms is not None:
            state.setTimeoutTimestamp(
                state.getCurrentWatermarkMs() + ttl_ms
            )
        yield pd.DataFrame(
            {
                "metric": [key[0]],
                "label_user": [key[1]],
                "total_increase": [total],
                "n_samples": [n],
            }
        )

    return update


#: RocksDB state store provider (ships with the Spark distribution).
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


def use_rocksdb_state_store(spark) -> None:
    """Back streaming state with RocksDB (read at query START, so set
    before `.start()`): state lives off-heap with incremental
    checkpointing — the provider an unbounded-cardinality deployment
    runs, vs the default HDFS-backed in-memory map."""
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER
    )


def _parse_duration_ms(duration: str) -> int:
    n, unit = duration.split()
    scale = {
        "second": 1_000, "seconds": 1_000,
        "minute": 60_000, "minutes": 60_000,
        "hour": 3_600_000, "hours": 3_600_000,
        "day": 86_400_000, "days": 86_400_000,
    }[unit]
    return int(n) * scale


def stateful_increase_stream(
    samples: DataFrame, state_ttl: str | None = None
) -> DataFrame:
    """Per-series running `increase` over an unbounded sample stream.

    With ``state_ttl`` (e.g. "30 days"), a watermark is applied on
    event_time and per-series state is evicted once the watermark
    passes last-activity + TTL — the retention policy that bounds
    state under series churn. Without it, state lives forever
    (reference registry semantics, prometheus.cpp:34-45).
    """
    if state_ttl is None:
        return (
            samples.select(
                "metric", "label_user", "ts_us", "event_id", "value"
            )
            .groupBy("metric", "label_user")
            .applyInPandasWithState(
                _make_update_increase(None),
                INCREASE_OUTPUT_SCHEMA,
                INCREASE_STATE_SCHEMA,
                "update",
                GroupStateTimeout.NoTimeout,
            )
        )
    return (
        samples.withWatermark("event_time", state_ttl)
        .select(
            "metric", "label_user", "ts_us", "event_id", "value",
            "event_time",
        )
        .groupBy("metric", "label_user")
        .applyInPandasWithState(
            _make_update_increase(_parse_duration_ms(state_ttl)),
            INCREASE_OUTPUT_SCHEMA,
            INCREASE_STATE_SCHEMA,
            "update",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Alert pending→firing state machine (the `for:` clause under streaming)
# ---------------------------------------------------------------------------

#: (alertname, labels, state, consec, active_since_us) per alert series.
ALERT_STATE_OUTPUT_SCHEMA = StructType(
    [
        StructField("alertname", StringType()),
        StructField("labels", StringType()),
        StructField("state", StringType()),
        StructField("consec", LongType()),
        StructField("active_since_us", LongType()),
    ]
)

ALERT_STATE_SCHEMA = StructType(
    [
        StructField("consec", LongType()),
        StructField("active_since_us", LongType()),
    ]
)


def _make_update_alert(for_n: int):
    """Per-(alertname, labels) fold of rule-evaluation ticks into the
    Prometheus alert state machine: inactive → pending on the first
    true evaluation (ActiveAt), pending → firing once `now - ActiveAt
    >= for` — i.e. after `for_n + 1` CONSECUTIVE true evaluations
    (`for:` = for_n × the evaluation interval; the activation tick
    itself is at hold 0, so for_n MORE ticks must pass), any false
    evaluation → inactive (the pending clock resets, public
    Prometheus semantics)."""

    def update(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            consec, since = state.get
        else:
            consec, since = 0, 0
        batch = pd.concat(list(pdfs), ignore_index=True)
        if len(batch):
            batch = batch.sort_values("ts_us")
            for ts, cond in zip(
                batch["ts_us"].to_numpy(), batch["cond"].to_numpy()
            ):
                if bool(cond):
                    if consec == 0:
                        since = int(ts)
                    consec += 1
                else:
                    consec, since = 0, 0
        state.update((int(consec), int(since)))
        st = (
            "inactive"
            if consec == 0
            else ("firing" if consec >= for_n + 1 else "pending")
        )
        yield pd.DataFrame(
            {
                "alertname": [key[0]],
                "labels": [key[1]],
                "state": [st],
                "consec": [int(consec)],
                "active_since_us": [int(since)],
            }
        )

    return update


#: keep-firing state: the consec run, its start, the first FALSE
#: evaluation since firing went false (upstream's KeepFiringSince;
#: 0 while the rule evaluates true), and whether the alert is firing.
ALERT_KEEP_STATE_SCHEMA = StructType(
    [
        StructField("consec", LongType()),
        StructField("active_since_us", LongType()),
        StructField("keep_since_us", LongType()),
        StructField("firing", LongType()),
    ]
)


def _make_update_alert_keep(for_n: int, keep_us: int):
    """The `for:` machine of `_make_update_alert` extended with
    `keep_firing_for` (public Prometheus since 2.42): when a FIRING
    alert first evaluates false, the countdown anchors THERE
    (upstream's KeepFiringSince) and the alert resolves at the first
    evaluation with `ts - keep_since >= keep_us`; any true evaluation
    while held clears the anchor — the alert keeps firing with no
    fresh `for:` run and a later false restarts the full grace. Exact
    for ANY keep/step ratio (the r8 last-true anchor resolved up to
    one step early on non-multiple configs — ADVICE r8). A PENDING
    alert gets no grace — false still resets it. Mirrors the batch
    closed form in rules.py:_alert_states (the one batch derivation of
    firing/pending); tests pin the two equal across micro-batch
    boundaries."""

    def update(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            consec, since, keep_since, firing = state.get
        else:
            consec, since, keep_since, firing = 0, 0, 0, 0
        batch = pd.concat(list(pdfs), ignore_index=True)
        if len(batch):
            batch = batch.sort_values("ts_us")
            for ts, cond in zip(
                batch["ts_us"].to_numpy(), batch["cond"].to_numpy()
            ):
                if bool(cond):
                    if consec == 0:
                        since = int(ts)
                    consec += 1
                    keep_since = 0
                    if consec >= for_n + 1:
                        firing = 1
                else:
                    consec, since = 0, 0
                    if firing:
                        if keep_since == 0:
                            keep_since = int(ts)
                        if int(ts) - keep_since >= keep_us:
                            firing, keep_since = 0, 0
        state.update((int(consec), int(since), int(keep_since), int(firing)))
        st = (
            "firing"
            if firing
            else ("pending" if consec > 0 else "inactive")
        )
        yield pd.DataFrame(
            {
                "alertname": [key[0]],
                "labels": [key[1]],
                "state": [st],
                "consec": [int(consec)],
                "active_since_us": [int(since)],
            }
        )

    return update


def alert_keep_state_stream(
    evals: DataFrame, for_n: int, keep_us: int
) -> DataFrame:
    """`for:` + `keep_firing_for:` as CROSS-MICRO-BATCH state — same
    tick-stream contract as `alert_state_stream`, state is four ints
    per alert series."""
    return (
        evals.select("alertname", "labels", "ts_us", "cond")
        .groupBy("alertname", "labels")
        .applyInPandasWithState(
            _make_update_alert_keep(for_n, keep_us),
            ALERT_STATE_OUTPUT_SCHEMA,
            ALERT_KEEP_STATE_SCHEMA,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )


def alert_state_stream(evals: DataFrame, for_n: int) -> DataFrame:
    """The `for:` hold clause as CROSS-MICRO-BATCH state: `evals` is
    the rule-evaluation tick stream (alertname, labels, ts_us, cond) —
    what a scheduler emits once per evaluation interval — and the
    output is each alert series' live state machine row. State is two
    ints per alert series (bounded like the reference's registry,
    prometheus.cpp:34-45); the group key (alertname, labels) is the
    natural shuffle key. The batch twin is the run test over the
    trailing grid in operators/rules.py:_alert_states — under
    streaming the consecutive-true run must live in a state store
    because evaluations for one alert arrive across micro-batches."""
    return (
        evals.select("alertname", "labels", "ts_us", "cond")
        .groupBy("alertname", "labels")
        .applyInPandasWithState(
            _make_update_alert(for_n),
            ALERT_STATE_OUTPUT_SCHEMA,
            ALERT_STATE_SCHEMA,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )
