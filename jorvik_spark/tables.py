"""Loaders for the test-lake tables (TESTDATA.md).

Every query in the library reads through :func:`load_table` so the
nanosecond-timestamp normalization for ``events`` (FIXTURES.md) happens in
exactly one place, and so a future move from path-addressed parquet to a
catalog only touches this module.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def default_sf_dir(sf: str = "sf0.001") -> str:
    """Resolve a test-lake directory: the driver's `/root/testdata` when
    present (this sandbox), else the repo's checked-in `testdata/`
    fixtures (CI / a fresh clone). `SPARK_GRAFT_TESTDATA_ROOT` overrides
    the root for either layout."""
    root = os.environ.get("SPARK_GRAFT_TESTDATA_ROOT", "/root/testdata")
    cand = os.path.join(root, sf)
    if os.path.isdir(cand):
        return cand
    return os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "testdata", sf)


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


# (sf_dir, name) → (session, DataFrame): a DEFINITION cache, not a data
# cache — the DataFrame is an immutable logical-plan descriptor, so
# handing the same object to every caller is semantically identical to
# rebuilding it, minus the ~95 ms/call parquet-footer schema inference
# py4j round-trip (r17: audit_functional_dependencies spent 0.76 s of
# its 2.0 s warm wall re-reading 8 footers per invocation; bench.py
# rebuilds each query's DataFrame every timed run by design, so this
# cost recurred on every run of every query). Entries hold no persisted
# data and are dropped when a different session appears — mirrors the
# memo_df session-identity convention. Lake tables are immutable per
# sf_dir for a process lifetime (the driver's contract), which is what
# makes the cache sound.
_TABLE_CACHE: dict[tuple[str, str], tuple[SparkSession, DataFrame]] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one lake table; normalizes ``events.ts`` (ns → µs timestamp).

    Shared-object contract (r17 ADVICE): every caller gets the SAME
    DataFrame object per (sf_dir, name). A query that loads one table
    twice and joins the two results with column-object predicates
    (``df1.col == df2.col``) is therefore a same-object self-join and
    hits Spark's AMBIGUOUS_SELF_JOIN resolution — ``.alias()`` both
    sides and use qualified ``F.col("a.x")`` references (every current
    self-joining query does).
    """
    key = (sf_dir, name)
    hit = _TABLE_CACHE.get(key)
    if hit is not None and hit[0] is spark:
        return hit[1]
    df = _load_table_uncached(spark, sf_dir, name)
    for k in [k for k, (s, _) in _TABLE_CACHE.items() if s is not spark]:
        del _TABLE_CACHE[k]
    _TABLE_CACHE[key] = (spark, df)
    return df


def _load_table_uncached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.parquet stores INT64 TIMESTAMP(NANOS); Spark 4.x reads it
        # only as LongType under spark.sql.legacy.parquet.nanosAsLong.
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # Integer division (ts div 1000) matches DuckDB's truncating
            # CAST(TIMESTAMP_NS AS TIMESTAMP); float division would round
            # ~12.7% of values up by 1µs and break oracle value-hash parity.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type is not None and ts_type != "timestamp":
            # Absorb physical-type drift (e.g. timestamp[us] read as
            # TIMESTAMP_NTZ when inferTimestampNTZ can't be disabled on the
            # host session). Session tz is UTC, so the cast is exact.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}


# (sf_dir, name) → on-disk bytes. Lake tables are immutable per sf_dir
# for a process lifetime (same contract as _TABLE_CACHE), so one
# filesystem metadata call per table per process suffices.
_SOURCE_BYTES_CACHE: dict[tuple[str, str], int] = {}


def table_source_bytes(spark: SparkSession, sf_dir: str, name: str) -> int:
    """On-disk bytes of one lake table — pure filesystem METADATA (no
    job, no footer read), via the path's own Hadoop FileSystem so the
    same call works on local/HDFS/S3A. Used to size-gate scale-dependent
    plan choices (e.g. the corpus-proportional memo tier) on a
    deterministic, corpus-monotone signal.

    ``getContentSummary`` is a recursive listing, O(files) on an object
    store; the result is cached, so it runs once per (sf_dir, table) per
    process, and a table that changes later keeps its first size."""
    key = (sf_dir, name)
    hit = _SOURCE_BYTES_CACHE.get(key)
    if hit is not None:
        return hit
    path = f"{sf_dir}/{name}.parquet"
    sc = spark.sparkContext
    hpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(sc._jsc.hadoopConfiguration())
    nbytes = int(fs.getContentSummary(hpath).getLength())
    _SOURCE_BYTES_CACHE[key] = nbytes
    return nbytes


def spread_scan(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Round-robin-spread an under-split scan across all cores — only
    when the per-row work downstream is CPU-heavy enough to pay for the
    exchange (md5-per-replicate explodes, tokenize/shingle passes).

    The testdata ships one parquet file per table, so a single input
    split serializes such stages on one core; at 100 TB the source has
    thousands of splits and this is a no-op (the guard checks the
    planned split count, no job runs). Counterpart of
    ``text_analysis._repartitioned_docs`` for the events/fact tables.
    Measured discipline: apply ONLY where an A/B shows a win — for
    cheap per-row work the added exchange costs more than the
    single-task map stage it parallelizes (headline q1-q5 measured
    1.5-2x SLOWER with an unconditional spread at sf0.1).
    """
    n = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)
