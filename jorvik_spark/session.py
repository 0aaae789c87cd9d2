"""SparkSession construction with engine defaults.

The engine is designed for a large multi-executor cluster but tested on
``local[N]``. All scale-relevant settings are plain Spark SQL confs so the
same code runs unchanged on a 1000-executor cluster — only ``master`` and
the memory sizing change.

Defaults chosen for scale (SURVEY.md §4/§7):
  * AQE on (runtime re-plan: partition coalescing, skew-join splitting,
    broadcast demotion/promotion).
  * ``spark.sql.session.timeZone=UTC`` so timestamp semantics are stable
    and comparable with external engines (DuckDB oracle).
  * ``spark.sql.legacy.parquet.nanosAsLong=true`` — the test lake stores
    nanosecond timestamps which Spark 4.x otherwise refuses to read
    (FIXTURES.md); readers normalize to microsecond timestamps.
  * Arrow enabled for any pandas-UDF path.
  * ``spark.sql.codegen.cache.maxEntries=1024``. Spark keeps ONE compiled-
    class cache per JVM (``CodeGenerator``), a Guava cache whose bound is
    enforced per segment: with 4 segments the default 100 holds about 25
    classes each, so the 87 classes the six headline shapes generate (41
    for the ETL write path) can already evict, depending on the order
    the shapes run; one measured order recompiled ~10 classes with
    Janino on every pass. 1024 is >10× the largest working set measured.
    The cache is sized from the conf when the class first loads, so the
    value only takes effect through :func:`get_session`'s builder; on a
    host-built session it is a static conf and stays the host's.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

ENGINE_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # The lake's events.ts is physically timestamp[us] with no timezone;
    # Spark 4.x would infer TIMESTAMP_NTZ, which functions like unix_micros
    # reject. With the session tz pinned to UTC, reading it as TIMESTAMP is
    # exact and keeps one timestamp type across the whole engine.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    # local[N] has no network shuffle; on a real cluster this would be
    # sized ~2-3x total executor cores (or left to AQE coalescing).
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
    # Static: read once per JVM when the codegen cache is built (above).
    "spark.sql.codegen.cache.maxEntries": "1024",
}


def get_session(app_name: str = "jorvik_spark", master: str | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults applied."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    for k, v in ENGINE_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply engine confs that are runtime-settable onto an existing session.

    Used when the session is provided by a host (e.g. a notebook or a
    verification harness) whose builder we do not control. Static confs such as
    ``spark.sql.codegen.cache.maxEntries`` cannot change on a live session
    and are skipped: the host keeps its own value. Parallelism knobs the
    host may have tuned deliberately (``spark.sql.shuffle.partitions``)
    are left alone, since a live session cannot tell a deliberate value
    from the default.
    """
    _host_tuned = {"spark.sql.shuffle.partitions"}
    for k, v in ENGINE_CONFS.items():
        if k in _host_tuned:
            continue
        try:
            spark.conf.set(k, v)
        except Exception:  # pyspark raises AnalysisException CANNOT_MODIFY_CONFIG
            pass  # static conf on a live session — leave as-is
    return spark
