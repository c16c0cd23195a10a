"""Benchmark harness (driver contract: one JSON line on stdout).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

followed by the per-query map again as minified parts of at most
1 KB each (`"part"`/`"parts"`), then a compact summary line
(`"summary_of": "previous_line"`) repeating the headline fields, so
the per-query figures and the total are recoverable from the
LAST bytes of stdout even under a fixed-size tail capture (the r9
artifact lost its head — "value" leads the object — to exactly that).

Each query is primed with ONE untimed execution, then executed REPS
times end-to-end (plan + execute + full count action); the reported
per-query number is the MEDIAN of the timed executions and the
headline total is the sum of medians. The reported quantity is
therefore STEADY-STATE latency: Tier C memoized signatures built,
codegen cached — the state r4's medians already de-facto measured
(its cache-backed dedup medians were warm), made explicit, because a
median-of-3 straddling the cold/warm cache boundary (dedup_near:
34 s cold vs 3 s steady) cannot keep any rerun bound. Cold
single-pass numbers are the scale rehearsal's job (BENCH_sf1.json).
A single cold sample proved non-reproducible on a loaded machine
(r03: 103.6 s artifact vs 63.4 s rerun), so the median is the
contract now — a rerun of this script must land within ±15% of the
artifact. Queries whose 3-rep median lands under SMALL_Q_SEC get
EXTRA_REPS more samples: sub-second queries are dominated by fixed
job-submission jitter (±0.1-0.3 s absolute ≈ ±30% relative), and
5-sample medians are what keeps the TOTAL inside the ±15% promise
(the r4 rerun missed at +16.8% purely on that jitter).

Between query *families* the Tier C memoized persist cache is released
(clear_caches) so timings are independent of suite ordering and memory
pressure does not accumulate across the 43-query pass.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

#: Executions per query; reported value is the median.
REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
#: Queries whose REPS-median is below this get EXTRA_REPS more
#: samples — sub-second medians are jitter-dominated otherwise.
SMALL_Q_SEC = 0.5
EXTRA_REPS = 2

#: Headline set grouped into families: spans scan-agg, window, join,
#: top-k, pairwise/LSH and text paths — the shapes that dominate at
#: 100 TB. The Tier C persist cache is cleared at family boundaries.
FAMILIES: list[tuple[str, list[str]]] = [
    (
        "metrics",
        [
            "counter_sum",
            "counter_rate",
            "gauge_last",
            "instant_vector",
            "agg_by_label",
            "topk",
            "range_agg_sliding",
            "histogram_buckets",
            "histogram_quantile",
            "agg_quantile",
            "rollup_hourly",
            "daily_from_rollup",
            "rollup_grid_sliding",
            "scrape_snapshot",
            "exposition_lines",
            "openmetrics_parse",
            # r11: the OM created-timestamp side relation and the
            # remote-write wire round trip (distributed encode+decode
            # through the vendored snappy/proto codecs)
            "openmetrics_created",
            "remote_write_roundtrip",
            # r12: scrape-time relabeling compiled to column
            # expressions, the staleness-marker presence diff, and
            # the remote-read wire round trip
            "relabel_chain",
            "stale_markers_hourly",
            "remote_read_roundtrip",
            # r13: the synthetic scrape-report family over the
            # target×tick grid, the multi-label classification
            # round trip (render → classify map parse → 2-label
            # fold), and the OTLP wire round trip (the 3.x receiver)
            "scrape_up_family",
            "scraped_multilabel_fold",
            "otlp_roundtrip",
            "vector_binop",
        ],
    ),
    ("joins", ["asof_join_demo", "range_join_demo"]),
    (
        "dedup",
        [
            "dedup_exact",
            "dedup_near",
            "dedup_simhash",
            "dedup_simhash_classes",
            "dedup_ngram_jaccard",
        ],
    ),
    ("similarity", ["similarity_topk", "similarity_lsh", "similarity_ivf"]),
    (
        "text",
        [
            "text_token_counts",
            "text_quality_score",
            "unigram_logprob",
            # r10: the PII scrub pass (codegen regexp, scan-speed)
            "text_pii_scrub",
        ],
    ),
    (
        "pipeline",
        [
            "pack_chunks",
            "contamination_ngram",
            "corpus_filter_chain",
            "domain_mix_weights",
            "global_shuffle",
        ],
    ),
    ("semantic", ["dedup_semantic", "similarity_kmeans"]),
    (
        "promql",
        [
            "subquery_max_rate",
            "promql_rate_by_user",
            "promql_range_hist_quantile",
            "promql_range_topk",
            "recording_rules",
            "rules_chained",
            "alert_rules",
            "alert_rules_for",
            "alert_rules_keep_firing",
            # r15: the ALERTS/ALERTS_FOR_STATE synthetic-series row
            "rules_alerts_series",
            "promql_range_subquery",
            "promql_subquery_rate",
            "promql_subquery_quantile",
            "promql_range_absent",
            "promql_range_timestamp",
        ],
    ),
    ("olap", ["user_sessions", "retention_cohorts"]),
    ("multimodal", ["multimodal_decode"]),
    (
        "tpch",
        [
            "tpch_q1",
            "tpch_q3",
            "tpch_q5",
            "tpch_q6",
            "tpch_q10",
            "tpch_q18",
            "tpch_q9",
            "tpch_q21",
        ],
    ),
]

#: JIT warmup scale: tiny data, same query shapes (codegen + shuffle
#: machinery warm; nothing about the measured sf_dir is cached).
WARMUP_SF_DIR = "/root/testdata/sf0.001"

#: Probe drift above this ratio (vs the run's FASTEST probe) marks the
#: family as load-contaminated in `env_flagged`.
PROBE_DRIFT_RATIO = 1.25
#: the Spark job-floor probe jitters more than the busy loops (it IS
#: a scheduler round trip — a quiet run spans ~0.08-0.19 s), so it
#: references the run's MEDIAN floor (robust to a few contaminated
#: families; the busy-loop probes use min) and flags at 2.5x — sized
#: against the ~2x+ floors of the r11 degraded windows without
#: false-flagging the quiet band
FLOOR_DRIFT_RATIO = 2.5


def _loadavg() -> list[float] | None:
    try:
        with open("/proc/loadavg") as fh:
            return [float(x) for x in fh.read().split()[:3]]
    except (OSError, ValueError):
        return None


def _calibration_probe() -> float:
    """A fixed ~200 ms single-core busy loop, timed (sized so OS
    scheduler jitter — ±20-30 ms absolute — stays under the 25% flag
    threshold; a 90 ms sizing false-flagged quiet families). Fixed
    WORK on one core means the measured duration moves with CPU
    contention and nothing else — so a loaded bench run self-identifies
    (r8's driver artifact was a 78.6 s loaded-machine outlier vs four
    52-62 s runs of identical code, and nothing inside the JSON could
    prove it; same for r3's 103.6 s vs 63.4 s)."""
    t0 = time.perf_counter()
    x = 0
    for i in range(3_000_000):
        x += i * i
    assert x >= 0
    return time.perf_counter() - t0


def _busy(_i: int) -> int:
    x = 0
    for i in range(3_000_000):
        x += i * i
    return x


def _spark_floor_probe(spark) -> float:
    """A fixed TINY Spark job (32-partition shuffle over 100k longs),
    wall-timed — the per-JOB floor probe. The r11 probes showed the
    failure mode the CPU probes cannot see: intermittent host windows
    where busy loops (serial AND multi-process) run full speed but
    every Spark job's scheduling floor roughly doubles, inflating a
    65-query pass from ~52 s to ~80 s. Fixed Spark work measures
    exactly that; at sf0.1 the pass is job-floor-dominated, so this
    probe moves with the thing that actually skews the timings."""
    t0 = time.perf_counter()
    (
        spark.range(100_000)
        .selectExpr("id % 53 AS k")
        .groupBy("k")
        .count()
        .count()
    )
    return time.perf_counter() - t0


def _parallel_probe(pool) -> float:
    """The MULTI-core twin of `_calibration_probe`: the same fixed
    busy loop fanned across a persistent process pool (16 workers),
    wall-timed. The r11 probes exposed a blind spot: two bench runs
    came back ~50% slow with PERFECT serial probes — hypervisor-level
    multicore steal throttled 32-thread Spark stages while a lone
    busy loop still got a full core. Fixed parallel work moves with
    exactly that; a family is contamination-flagged if EITHER probe
    drifts."""
    t0 = time.perf_counter()
    list(pool.map(_busy, range(16)))
    return time.perf_counter() - t0


#: byte budget of one per-query JSON line (a runner that keeps ~2 KB
#: of stdout's tail then holds two parts plus the summary)
_PART_BYTES = 1024


def _query_parts(
    timings: dict, total: float, sf, env_flagged: list
) -> list[str]:
    """The per-query map as minified JSON lines of <= `_PART_BYTES`
    bytes each, in map order; every line carries `part`/`parts` so a
    reader can tell which parts a truncated capture lost."""

    def line(queries: dict, i: int, n: int) -> str:
        return json.dumps(
            {
                "metric": "headline_queries_total_runtime",
                "value": total,
                "sf": sf,
                "part": i,
                "parts": n,
                "queries": queries,
                "env_flagged": env_flagged,
            },
            separators=(",", ":"),
        )

    chunks: list[dict] = [{}]
    for name, val in timings.items():
        # 99/99 stands in for the final part numbers (the widest they
        # can be while the map stays under a hundred parts)
        if chunks[-1] and len(line({**chunks[-1], name: val}, 99, 99)) > (
            _PART_BYTES
        ):
            chunks.append({})
        chunks[-1][name] = val
    return [line(c, i + 1, len(chunks)) for i, c in enumerate(chunks)]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = -1.0

    from shards_prometheus_spark.session import get_spark
    from shards_prometheus_spark.registry import all_queries
    from shards_prometheus_spark.operators.tierc_common import clear_caches

    spark = get_spark("bench")
    queries = all_queries()

    # Warmup: JVM, whole-stage codegen, shuffle & window machinery —
    # run representative query shapes at the tiny SF (different files
    # than the measured sf_dir, so no data caching leaks into timings),
    # then touch the measured dir's parquet footers.
    if os.path.isdir(WARMUP_SF_DIR) and os.path.abspath(
        WARMUP_SF_DIR
    ) != os.path.abspath(sf_dir):
        # multimodal_decode warms the Python/Arrow worker pool — the
        # only cold-start cost the JVM-side shapes don't cover
        for wname in (
            "counter_sum",
            "histogram_quantile",
            "tpch_q3",
            "multimodal_decode",
        ):
            wfn = queries.get(wname)
            if wfn is not None:
                wfn(spark, WARMUP_SF_DIR).count()
        clear_caches(spark)
    spark.read.parquet(f"{sf_dir}/events.parquet").count()

    load_start = _loadavg()
    from concurrent.futures import ProcessPoolExecutor

    pool = ProcessPoolExecutor(max_workers=16)
    _parallel_probe(pool)  # warm the worker pool (fork/spawn cost)
    _spark_floor_probe(spark)  # warm the probe's own codegen
    probes: dict[str, float] = {"start": round(_calibration_probe(), 4)}
    mp_probes: dict[str, float] = {
        "start": round(_parallel_probe(pool), 4)
    }
    floor_probes: dict[str, float] = {
        "start": round(_spark_floor_probe(spark), 4)
    }

    def run_family(
        names: list[str],
    ) -> tuple[float, float, float, dict[str, float]]:
        """One timed pass over a family: (serial probe, parallel
        probe, Spark job-floor probe, medians). The probes are timed
        FIRST so a load spike is attributable to the family it
        actually contaminated."""
        probe = round(_calibration_probe(), 4)
        mp_probe = round(_parallel_probe(pool), 4)
        floor = round(
            statistics.median(_spark_floor_probe(spark) for _ in range(3)),
            4,
        )
        out: dict[str, float] = {}
        for name in names:
            fn = queries.get(name)
            if fn is None:
                continue

            def one_sample() -> float:
                t0 = time.perf_counter()
                # Force full execution; count() alone can skip result
                # exprs, so the queries end in shapes count() can't
                # prune (aggregates / joins), making this end-to-end.
                df = fn(spark, sf_dir)
                n = df.count()
                assert n >= 0
                return time.perf_counter() - t0

            # One untimed PRIMING execution: the reported number is the
            # steady-state latency (Tier C memoized signatures built,
            # codegen cached) — the de-facto state r4's medians already
            # measured, made explicit. Without it the median-of-3 for
            # cache-backed queries straddles the cold/warm boundary
            # (dedup_near: 34 s cold vs 3 s steady on this machine) and
            # the ±15% rerun promise is structurally unkeepable. Cold
            # single-run numbers live in the sf1.0 rehearsal artifact.
            one_sample()
            samples = [one_sample() for _ in range(max(1, REPS))]
            if statistics.median(samples) < SMALL_Q_SEC:
                samples += [one_sample() for _ in range(EXTRA_REPS)]
            out[name] = round(statistics.median(samples), 4)
        # Release memoized corpus-sized relations so the next family
        # starts from the same memory state regardless of ordering.
        clear_caches(spark)
        return probe, mp_probe, floor, out

    timings: dict[str, float] = {}
    for family, names in FAMILIES:
        (
            probes[family],
            mp_probes[family],
            floor_probes[family],
            fam_times,
        ) = run_family(names)
        timings.update(fam_times)

    def _dirty(fam: str, ref: float, mp_ref: float, fl_ref: float) -> bool:
        return (
            probes[fam] > PROBE_DRIFT_RATIO * ref
            or mp_probes[fam] > PROBE_DRIFT_RATIO * mp_ref
            or floor_probes[fam] > FLOOR_DRIFT_RATIO * fl_ref
        )

    # Contamination retry (the calibration machinery's closing move):
    # a family whose serial OR parallel probe drifted past the flag
    # threshold ran under external load — re-run JUST that family (up
    # to twice) and keep the attempt with the cleanest probes, so a
    # transient spike doesn't become the round's artifact. A family
    # that stays contaminated across three attempts flags honestly
    # below.
    retries: dict[str, int] = {}
    ref = min(probes.values())
    mp_ref = min(mp_probes.values())
    fl_ref = statistics.median(floor_probes.values())
    for family, names in FAMILIES:
        for _attempt in range(2):
            if not _dirty(family, ref, mp_ref, fl_ref):
                break
            retries[family] = retries.get(family, 0) + 1
            probe, mp_probe, floor, fam_times = run_family(names)
            if floor + probe + mp_probe < (
                floor_probes[family] + probes[family] + mp_probes[family]
            ):
                probes[family] = probe
                mp_probes[family] = mp_probe
                floor_probes[family] = floor
                timings.update(fam_times)
            ref = min(ref, probe)
            mp_ref = min(mp_ref, mp_probe)
            fl_ref = min(fl_ref, statistics.median(floor_probes.values()))

    pool.shutdown(wait=False)
    total = round(sum(timings.values()), 4)
    ref = min(probes.values())
    mp_ref = min(mp_probes.values())
    fl_ref = statistics.median(floor_probes.values())
    env_flagged = sorted(
        k
        for k in probes
        if probes[k] > PROBE_DRIFT_RATIO * ref
        or mp_probes.get(k, 0.0) > PROBE_DRIFT_RATIO * mp_ref
        or floor_probes.get(k, 0.0) > FLOOR_DRIFT_RATIO * fl_ref
    )
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_runtime",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "reps": REPS,
                "aggregation": "median_per_query_sum_of_medians",
                "protocol": "steady_state_primed",
                # environment self-calibration (ARCHITECTURE §7.4):
                # a skewed artifact identifies itself — probes are a
                # fixed single-core busy loop timed per family, and a
                # family whose probe exceeds 1.25x the run's fastest
                # probe ran under external CPU load; discount it
                # before reading its timings as a regression.
                "loadavg_start": load_start,
                "loadavg_end": _loadavg(),
                "calibration_probes": probes,
                # the multicore twin: same fixed work across a
                # 16-worker process pool, wall-timed — catches
                # hypervisor steal that throttles parallel Spark
                # stages while a lone busy loop still runs full speed
                "parallel_probes": mp_probes,
                # the per-JOB floor probe (median of 3 tiny fixed
                # Spark shuffles): catches the host windows where CPU
                # probes stay clean but every Spark job's scheduling
                # floor doubles — the r11 failure mode
                "spark_floor_probes": floor_probes,
                # the CROSS-RUN comparator: on this box a quiet run's
                # floor median is ~0.10 s and totals scale roughly
                # linearly with it during host-degraded windows that
                # no per-family reference can see (uniform inflation);
                # adjudicate two runs of identical code by their
                # floor medians before reading the totals
                "floor_median": round(
                    statistics.median(floor_probes.values()), 4
                ),
                "env_flagged": env_flagged,
                # families re-run after a contamination flag (cleanest
                # attempt kept); a family still in env_flagged stayed
                # contaminated across all attempts
                "retried_families": retries,
            }
        )
    )
    # Tail-capture-proof PER-QUERY lines: the full artifact line above
    # is ~3.4 KB and a ~2 KB tail capture of stdout cuts its HEAD;
    # one compact ~2.1 KB line of the whole map still overflowed it.
    # Repeat the complete queries map — the SAME medians, byte-identical
    # values — as minified parts of at most 1 KB each, every part
    # self-describing (`part` of `parts`), so the per-query artifact is
    # recoverable from the final bytes of stdout part by part. The full
    # line above is unchanged; historical artifacts stay comparable.
    for part in _query_parts(timings, total, sf, env_flagged):
        print(part)
    # Tail-capture-proof summary LAST: BENCH_r09.json lost its own
    # headline total because the driver's fixed-size tail capture cut
    # the long JSON line's head ("value" leads the object). The totals
    # must be recoverable from the final bytes of stdout, so repeat
    # them in a compact line after the full artifact.
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_runtime",
                "value": total,
                "unit": "sec",
                "sf": sf,
                "env_flagged": env_flagged,
                "summary_of": "previous_line",
            }
        )
    )


if __name__ == "__main__":
    main()
