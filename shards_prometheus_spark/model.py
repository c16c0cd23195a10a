"""Canonical data model (SURVEY.md §1.2).

The reference organizes state as registry → family → series → float
sample (prometheus.cpp:32-45, :185-199). Our canonical form is one tall
``samples`` relation:

    series_id  LONG                 -- xxhash64(metric, labels)
    metric     STRING               -- family name (prometheus.cpp:185-188)
    labels     MAP<STRING,STRING>   -- generalized from the reference's
                                       single Label/Value pair
                                       (prometheus.cpp:105-110)
    label_user STRING               -- flattened primary label (oracle-
                                       friendly projection of labels)
    ts_us      LONG                 -- event time, int64 MICROSECONDS
    value      DOUBLE               -- only sample type in the reference
                                       (prometheus.cpp:98-99)

Timestamps: the reference carries no user timestamps (time enters at
scrape); the driver's events parquet has carried TIMESTAMP(NANOS)
(read as int64 nanos via legacy.parquet.nanosAsLong) in some rounds
and TIMESTAMP(MICROS) isAdjustedToUTC=false (read as TIMESTAMP_NTZ)
in others. Either way we standardize on int64 microseconds
(== DuckDB `epoch_us(ts)`) so both engines see identical values — no
timezone, no float error, total ordering. `_ts_us` dispatches on the
resolved type.

At 100 TB, ``samples`` is a date/metric-partitioned Parquet/Delta table;
`metric` partition pruning plus `ts_us` min/max row-group stats make
instant-vector and range queries read only the touched slice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from shards_prometheus_spark.session import prepare_session

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

MICROS_PER_SECOND = 1_000_000
MICROS_PER_HOUR = 3_600 * MICROS_PER_SECOND


#: Memoized LAZY DataFrames per (appId, sf_dir, kind). These are plan
#: objects only — no data is pinned and every action over them still
#: computes from the parquet inputs. The memo removes the repeated
#: driver-side cost every query build paid per table reference:
#: `spark.read.parquet` is ~84 ms of py4j + JVM file listing + footer
#: schema read, and the derived samples views rebuild deep expression
#: trees (xxhash64 over the sorted-label rendering) through dozens of
#: py4j round trips (guide §7.3 — planning is single-threaded driver
#: work). Keys are immutable data dirs (the Tier C memo convention);
#: `tierc_common.clear_caches` releases this map with every other memo,
#: so the rewrite-a-dir-in-place escape hatch stays `clear_caches()`.
_PLAN_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def _memo_plan(spark: SparkSession, sf_dir: str, kind: str, build) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir, kind)
    df = _PLAN_CACHE.get(key)
    if df is None:
        df = build()
        _PLAN_CACHE[key] = df
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver parquet table."""
    prepare_session(spark)
    return _memo_plan(
        spark,
        sf_dir,
        f"scan:{name}",
        lambda: spark.read.parquet(f"{sf_dir}/{name}.parquet"),
    )


#: Below this input size the serial kernel is cheaper than the floor's
#: exchange: r15 measured the floored relabel/render kernels ~0.2 s
#: faster at the median but with intermittent 2.8–6.9 s tails at bench
#: row counts (32 near-empty tasks amplify scheduler jitter), while a
#: ≥32 MB single-split regex/map kernel costs ≳1 s of one-core work —
#: an order of magnitude above the exchange's fixed cost.
_FLOOR_MIN_BYTES = 32 * 1024 * 1024


def parallelism_floor(
    spark: SparkSession, sf_dir: str, df: DataFrame, table: str = "events"
) -> DataFrame:
    """Parallelism floor for CPU-dense per-row kernels over a scan
    that cannot reach the core count. Single-row-group parquet gives
    ONE input split, so everything fused onto the scan (exposition
    render, regex parse, relabel map rewrites) serializes on one core
    while the rest idle; `minPartitionNum` cannot split a row group,
    so the floor must be an exchange (guide §2.5 input-layout skew,
    §6 split sizing).

    Byte-gated BOTH ways (r15 finding + r16 VERDICT item 7):

    - below `_FLOOR_MIN_BYTES` the kernel's one-core cost is smaller
      than the exchange's jitter amplification — plan unchanged (the
      r15 revert: 5.7–6.9 s tails at sf0.1 row counts for a ~0.2 s
      median win). The bench SFs stay on the serial plan,
      byte-identical.
    - above one split's worth per core the scan already parallelizes
      — plan unchanged (a 100 TB table yields thousands of splits).
      A directory table counts one split per file at least, so many
      mid-size parts leave the plan unchanged too.

    In between — a single-digit-GB single-file table, the sf3-scale
    rehearsal shape — round-robin repartition to the core count; the
    shuffled volume is bounded by the upper threshold itself.
    """
    import os

    sc = spark.sparkContext
    path = f"{sf_dir}/{table}.parquet"
    try:
        is_dir = os.path.isdir(path)
        if is_dir:
            # multi-file table (e.g. the rehearsal dirs): the lower gate
            # sizes the LARGEST part, the serial unit a single-split
            # kernel binds on
            sizes = [
                os.path.getsize(os.path.join(path, f))
                for f in os.listdir(path)
                if f.endswith(".parquet")
            ]
        else:
            sizes = [os.path.getsize(path)]
    except OSError:
        return df
    if max(sizes, default=0) < _FLOOR_MIN_BYTES:
        return df
    # one split per ~128 MB (the maxPartitionBytes default), and a
    # directory splits per file at least: if the scan cannot produce
    # cores/2 splits, the kernel is effectively serial — apply the floor
    splits = sum(sizes) / (128 * 1024 * 1024)
    if is_dir:
        splits = max(splits, len(sizes))
    if splits >= max(2, sc.defaultParallelism) / 2:
        return df
    return df.repartition(sc.defaultParallelism)


def series_id_expr(metric, labels) -> F.Column:
    """THE canonical series identity: xxhash64 over the metric name and
    the canonical sorted label rendering (labelset.label_str).

    Every producer of a samples relation — the batch views below, the
    streaming ingest projection, recording-rule write-back, and the
    remote-write receiver — derives series_id through this one
    expression, so a pushed/streamed/recorded series with the same
    (metric, labels) as a base series hashes to the SAME id and
    window folds (Window.partitionBy('series_id')) see one logical
    series, not two. Pure Catalyst (map_entries/array_sort/transform
    + xxhash64): codegen, no shuffle."""
    from shards_prometheus_spark.functions.labelset import label_str

    # a `labels` NAME reaches label_str as-is: its rendering Column is
    # cached per name, where a fresh F.col would rebuild the
    # higher-order transform on every call
    return F.xxhash64(metric, label_str(labels))


def _ts_us(df: DataFrame, col: str = "ts") -> F.Column:
    """Normalize the events timestamp column to int64 microseconds.

    The driver testdata has shipped two physical encodings across
    rounds — TIMESTAMP(NANOS) (read as int64 nanos via nanosAsLong)
    and TIMESTAMP(MICROS) isAdjustedToUTC=false (read as
    TIMESTAMP_NTZ) — so dispatch on the resolved Spark type:

    - int64 nanos → integer-divide by 1000;
    - TIMESTAMP_NTZ → cast to TIMESTAMP under the pinned UTC session
      zone (wall time == UTC instant), then unix_micros;
    - TIMESTAMP → unix_micros directly.

    All three yield the same int64 µs DuckDB's epoch_us(ts) sees.
    """
    dtype = dict(df.dtypes).get(col)
    if dtype in ("bigint", "long"):
        return F.expr(f"{col} div 1000")
    if dtype == "timestamp_ntz":
        return F.unix_micros(F.col(col).cast("timestamp"))
    return F.unix_micros(F.col(col))


def samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tall samples view derived from the driver's events table.

    Mapping (FIXTURES.md §B): metric := event_type,
    labels := map('user', user_id), value := value.
    """

    def build() -> DataFrame:
        ev = load_table(spark, sf_dir, "events")
        label_user = F.col("user_id").cast("string")
        labels = F.create_map(F.lit("user"), label_user)
        return ev.select(
            F.col("event_id"),
            series_id_expr(F.col("event_type"), labels).alias("series_id"),
            F.col("event_type").alias("metric"),
            labels.alias("labels"),
            label_user.alias("label_user"),
            _ts_us(ev).alias("ts_us"),
            F.col("value"),
        )

    return _memo_plan(spark, sf_dir, "samples", build)


def dround(expr: str, k: int) -> str:
    """Decimal-semantics ROUND for DuckDB oracle SQL.

    Spark's round() converts the double through its SHORTEST ROUND-TRIP
    decimal representation (Double.toString → BigDecimal) and applies
    HALF_UP: 0.14175's nearest double stringifies as "0.14175" and
    rounds UP to 0.1418, while an accumulated 0.35824999999999996
    stringifies as-is and rounds DOWN to 0.3582. DuckDB's plain ROUND
    works on the binary value and disagrees in the first case; a fixed
    12-digit decimal quantization disagrees in the second. Routing
    through VARCHAR (DuckDB also prints shortest round-trip form) →
    DECIMAL → ROUND reproduces Spark bit-for-bit for outputs whose
    doubles are identical across engines (pure IEEE expression chains,
    not accumulation-order-dependent sums).
    """
    return (
        f"CAST(ROUND(CAST(CAST(CAST({expr} AS DOUBLE) AS VARCHAR) "
        f"AS DECIMAL(38,18)), {k}) AS DOUBLE)"
    )


#: DuckDB CTE that mirrors `samples()` exactly — prefix for oracle SQL.
SAMPLES_CTE = (
    "WITH samples AS (SELECT event_id, event_type AS metric, "
    "CAST(user_id AS VARCHAR) AS label_user, epoch_us(ts) AS ts_us, value "
    "FROM events)"
)


def samples_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MULTI-label samples view: the full SURVEY §1.2 label model
    with ≥2 keys per series (generalizing the reference's single
    Label/Value pair, prometheus.cpp:105-110).

    labels = map('user' → user_id, 'shard' → k % 10) where k comes from
    the structured `props` metadata — the second label a real scraper
    would attach (instance/shard). Operators over this view MUST read
    labels via element_at(labels, key), never a flattened column, so
    they exercise the general map path.
    """
    def build() -> DataFrame:
        ev = load_table(spark, sf_dir, "events")
        label_user = F.col("user_id").cast("string")
        k = F.get_json_object("props", "$.k").cast("long")
        shard = (k % 10).cast("string")
        labels = F.create_map(
            F.lit("user"), label_user, F.lit("shard"), shard
        )
        return ev.filter(k.isNotNull()).select(
            F.col("event_id"),
            series_id_expr(F.col("event_type"), labels).alias("series_id"),
            F.col("event_type").alias("metric"),
            labels.alias("labels"),
            _ts_us(ev).alias("ts_us"),
            F.col("value"),
        )

    return _memo_plan(spark, sf_dir, "samples_multi", build)


#: DuckDB CTE mirroring `samples_multi()` — labels exposed as columns
#: (SQL has no map type worth the portability risk; the Spark side must
#: still go through element_at to produce these same values).
SAMPLES_MULTI_CTE = (
    "WITH samples_multi AS (SELECT event_id, event_type AS metric, "
    "CAST(user_id AS VARCHAR) AS l_user, "
    "CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 "
    "AS VARCHAR) AS l_shard, epoch_us(ts) AS ts_us, value "
    "FROM events "
    "WHERE json_extract_string(props, '$.k') IS NOT NULL)"
)
