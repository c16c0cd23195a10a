"""SparkSession construction and defensive session preparation.

The reference's Exposer (prometheus.cpp:27-93) owns a registry and
publishes it as a context variable; our analog is a SparkSession with
the engine's required SQL confs applied. ``prepare_session`` is
idempotent and safe to call on an externally provided session (the
driver harness owns the session in `__spark_entry__.py`).
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import SparkSession

#: Runtime-settable SQL confs every engine query assumes.
_RUNTIME_CONFS = {
    # Driver testdata writes TIMESTAMP(NANOS) parquet, which Spark only
    # reads as raw int64 nanoseconds. All engine time arithmetic is done
    # on int64 microseconds (ts div 1000) to match DuckDB's epoch_us().
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Deterministic time semantics regardless of host timezone.
    "spark.sql.session.timeZone": "UTC",
    # Runtime re-planning: partition coalescing, skew-join splitting —
    # essential at the 100 TB design point, harmless locally.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Start shuffles wide and let AQE coalesce down: a fixed
    # spark.sql.shuffle.partitions caps parallelism as data grows
    # (the sf1.0 rehearsal hit 60 M+ rows/partition at 32). A high
    # initial count is NOT free on small reads: every map task still
    # writes 256 shuffle blocks before AQE merges them, and a PromQL
    # read of a few tens of thousands of samples collected in
    # 374-417 ms at 256 against 254-301 ms at 4 (4-vCPU host,
    # local[4]). A count sized from the data would serve both ends.
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "256",
    # Arrow for any pandas-interop path (multimodal UDFs).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Cached plans otherwise pin their output partitioning BEFORE AQE
    # coalescing, so a .persist() of a wide-initial-partition plan
    # materializes thousands of tiny cache partitions (the exposition
    # payload cache hit 3.8k partitions for 15k rows). Letting the
    # optimizer change cached-plan output partitioning keeps AQE's
    # right-sizing inside caches too.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
}


#: Sessions already prepared, weakly referenced: every query entry
#: point calls prepare_session defensively and each conf set is a py4j
#: round trip, so skip the writes once this exact session object has
#: been prepared. A different Python wrapper of the same JVM session
#: merely re-sets the confs (the safe direction).
_PREPARED: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()


def prepare_session(spark: SparkSession) -> SparkSession:
    """Apply required runtime confs to an existing session (idempotent).

    Once a session object has been prepared the confs are NOT
    re-asserted: a caller that mutates one of `_RUNTIME_CONFS` on a
    prepared session between queries keeps its mutation (the memo is
    a py4j-round-trip saver for the defensive per-query call, not a
    conf enforcement mechanism)."""
    if spark in _PREPARED:
        return spark
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Conf not settable at runtime on this build — queries that
            # depend on it will surface a clear error instead.
            pass
    _PREPARED.add(spark)
    return spark


def get_spark(
    app_name: str = "shards-prometheus-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build a session tuned for the local harness.

    On a real cluster these become spark-submit confs; the partitioning
    story (see ARCHITECTURE.md) is what carries to 1000 executors, not
    these local numbers.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 4)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return prepare_session(builder.getOrCreate())
