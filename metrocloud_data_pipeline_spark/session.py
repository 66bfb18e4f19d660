"""SparkSession construction and runtime tuning.

The engine targets a multi-executor cluster reading ~100 TB; locally we
run ``local[N]``. Two layers of configuration:

- :func:`get_spark` — build-time confs (master, memory, serializer, and
  the static codegen-cache size below).
- :func:`tune` — runtime-mutable confs applied defensively at the top of
  every query builder, because the harness may hand us a session we did
  not build (session timezone must be UTC for TIMESTAMPTZ-parity with
  the reference, see SURVEY.md §7(f)).

Repeated queries (a dashboard refreshing the same panels) reuse work in
two places. The JVM's generated-class cache is sized to hold the whole
registry's classes (``CODEGEN_CACHE_MAX_ENTRIES``), so a query that ran
before compiles nothing. ``sources.star_schema.load`` memoizes each
table's scan, so it does not re-infer the schema on every call. The
cache size is a *static* conf, read once per JVM when it first
generates code: neither ``conf.set`` nor a session rebuilt in the same
JVM can raise it (measured: 173 of ~180 classes recompiled per pass
after rebuilding a default session with 4096). A session the engine
did not build keeps whatever size it was started with; :func:`tune`
warns once when that is smaller than ``CODEGEN_CACHE_MAX_ENTRIES``.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

_log = logging.getLogger(__name__)

# Shuffle partition count for the local harness. At cluster scale this
# would be set to ~2-3x total executor cores (or left to AQE's
# coalescing with a high initial value); 32 matches local[32].
DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Size of the JVM's generated-class (Janino) cache. Spark's default is
# 100 entries, fewer than one pass of the 12 IoT dashboard keys
# generates (~180 classes). The keys recur in a fixed order, so that
# LRU missed on every class: 179 compilations per warm pass. Measured
# on Spark 4.1.2, sf0.001, local[2], noop sink: one pass over all 221
# registry keys generates 2,756 classes; with the default 100 entries
# each pass compiled ~4,100, with 4096 a second pass compiled 78 (keys
# whose generated code differs per call). 4096 is the next power of
# two above the full registry, with ~50% headroom for new keys; it
# cost +0.5 GB peak JVM RSS on that full pass.
CODEGEN_CACHE_CONF = "spark.sql.codegen.cache.maxEntries"
CODEGEN_CACHE_MAX_ENTRIES = 4096

_small_cache_warned = False


def get_spark(app_name: str = "metrocloud-spark", cpus: int | None = None) -> SparkSession:
    """Build a local SparkSession with scale-appropriate defaults.

    AQE is on (runtime re-planning, skew-join splitting, partition
    coalescing); broadcast threshold is raised so every dimension table
    in the star schema broadcasts instead of shuffling. The codegen
    cache holds every class the registry generates, so re-running a
    query reuses its compiled code (``CODEGEN_CACHE_MAX_ENTRIES``).
    """
    n = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{n}]")
        .config("spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config(CODEGEN_CACHE_CONF, str(CODEGEN_CACHE_MAX_ENTRIES))
    )
    return builder.getOrCreate()


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-mutable confs to a session we may not have built.

    Idempotent and cheap; called at the top of every query builder so
    results are deterministic (UTC timestamps) regardless of who
    constructed the session. Logs one warning per process if the
    session's codegen cache is smaller than ``CODEGEN_CACHE_MAX_ENTRIES``
    (a static conf, so it can only be reported here, not fixed).
    """
    conf = spark.conf
    conf.set("spark.sql.session.timeZone", "UTC")
    conf.set("spark.sql.adaptive.enabled", "true")
    conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    # The driver's events.parquet carries TIMESTAMP(NANOS) which the
    # vectorized reader rejects; read as long and convert explicitly
    # (sources.star_schema normalizes back to TimestampType at micros).
    conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        conf.set("spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS))
    except Exception:
        pass  # static in some deployments; AQE coalescing still applies
    _warn_if_small_codegen_cache(spark)
    return spark


def _warn_if_small_codegen_cache(spark: SparkSession) -> None:
    global _small_cache_warned
    if _small_cache_warned:
        return
    size = int(spark.conf.get(CODEGEN_CACHE_CONF, "100"))
    if size < CODEGEN_CACHE_MAX_ENTRIES:
        _small_cache_warned = True
        _log.warning(
            "%s is %d, below the %d this engine's queries need; repeated "
            "queries will recompile their generated code. It is a static "
            "conf: set it when the session is built.",
            CODEGEN_CACHE_CONF, size, CODEGEN_CACHE_MAX_ENTRIES,
        )


def codegen_compilations(spark: SparkSession) -> int:
    """Generated classes compiled so far in this JVM (Spark's
    CodegenMetrics compilation-time histogram count). A codegen-cache
    hit compiles nothing, so the delta over a repeated query counts its
    cache misses."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
