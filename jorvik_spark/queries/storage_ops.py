"""Storage operators as verifiable queries (SURVEY.md §2B scans/sinks/MERGE).

Each query exercises the real BasicStorage surface end-to-end (write to a
scratch directory → read back → return the DataFrame), so the driver's
DuckDB comparison proves A1/A3/A5/A6 semantics, not just plan shapes.

The MERGE oracles reconstruct the post-merge state relationally (left join
for update-or-keep + anti-join for inserts) — the model the reference's
own expected-row tables use (/root/reference/test/storage/test_basic.py:137-146).

Scratch dirs are created per invocation (the returned DataFrame keeps
reading from them lazily, so they are not deleted here). That is a
deliberate bounded leak: reusing dirs across invocations would corrupt
the streaming queries (a reused checkpoint makes the second run a no-op)
and race concurrent processes; the cost is one table copy per query per
invocation in the OS temp dir, reclaimed by tmp cleaning.
"""

from __future__ import annotations

import contextlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jorvik_spark.queries.registry import dsum, query, spark_units, sql_dsum, sql_units
from jorvik_spark.storage.basic import BasicStorage
from jorvik_spark.tables import load_table, table_source_bytes


def _scratch(tag: str) -> str:
    return tempfile.mkdtemp(prefix=f"jorvik_spark_{tag}_")


# --- streaming drain state sizing (r18, r17 VERDICT #4) ----------------------
#
# A stateful streaming query instantiates one state-store per shuffle
# partition, and every micro-batch pays per-store checkpoint/delta-file
# IO — with the session's cluster-sized spark.sql.shuffle.partitions, a
# TINY-state drain spends a measurable fraction of its wall on empty
# state machinery (measured at sf0.1 going 32 → 8 partitions: the
# dedup-watermark drain dropped 1.89 → 1.25 s and the stateful drain
# 1.76 → 1.48 s, while 1 partition serialized the Python state worker
# 2×). So the drains size their
# state partitions from the SOURCE bytes (guide §2.2 "fewer, larger
# partitions", applied to state stores), with a parallelism floor and
# the session conf as the cap — at 100 TB the byte-derived count
# saturates the cap and this is exactly the cluster-sized setting.

_STREAM_STATE_TARGET_BYTES = 32 << 20  # source bytes per state partition
_STREAM_STATE_MIN_PARTS = 8  # keep the Python-state workers parallel


def _stream_state_partitions(spark: SparkSession, src_bytes: int) -> int:
    """State-store/shuffle partition count for one drain: source-bytes
    derived, floored at min(8, cores) (1 partition serializes the
    applyInPandas state worker — measured 2× the drain wall), then capped
    at the session's shuffle partitions (the cluster-sized conf), so a
    session set below the floor keeps its own setting."""
    session_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    floor = min(
        _STREAM_STATE_MIN_PARTS, spark.sparkContext.defaultParallelism
    )
    need = -(-src_bytes // _STREAM_STATE_TARGET_BYTES)
    return min(session_parts, max(floor, need))


@contextlib.contextmanager
def _scoped_sql_conf(spark: SparkSession, key: str, value) -> None:
    """Save/set/restore one session conf around a drain — the BPE-loop
    save/restore pattern (exception-safe; session-global for the scope's
    duration, same serial-execution assumption documented there)."""
    saved = spark.conf.get(key)
    spark.conf.set(key, str(value))
    try:
        yield
    finally:
        spark.conf.set(key, saved)


_ORDER_COLS = ["o_orderkey", "o_orderstatus", "o_totalprice"]


@query(
    "scan_parquet_roundtrip",
    oracle="SELECT * FROM orders",
)
def scan_parquet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 write + A1 read round-trip, parquet (reference test_basic.py:27-43)."""
    st = BasicStorage()
    target = _scratch("parquet") + "/t"
    st.write(load_table(spark, sf_dir, "orders"), target, "parquet", "overwrite")
    return st.read(target, "parquet")


@query(
    "scan_orc_roundtrip",
    oracle="SELECT * FROM orders",
)
def scan_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = BasicStorage()
    target = _scratch("orc") + "/t"
    st.write(load_table(spark, sf_dir, "orders"), target, "orc", "overwrite")
    return st.read(target, "orc")


@query(
    "scan_csv_roundtrip",
    oracle=f"SELECT {', '.join(_ORDER_COLS)} FROM orders",
)
def scan_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV round-trip on the columns that survive inference exactly; ints
    re-cast to long as the reference's own test does (test_basic.py:40-41)."""
    st = BasicStorage()
    target = _scratch("csv") + "/t"
    st.write(
        load_table(spark, sf_dir, "orders").select(*_ORDER_COLS),
        target, "csv", "overwrite",
    )
    out = st.read(target, "csv")
    return out.select(
        F.col("o_orderkey").cast("long"),
        "o_orderstatus",
        F.col("o_totalprice").cast("double"),
    )


@query(
    "scan_json_roundtrip",
    oracle=f"SELECT {', '.join(_ORDER_COLS)} FROM orders",
)
def scan_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = BasicStorage()
    target = _scratch("json") + "/t"
    st.write(
        load_table(spark, sf_dir, "orders").select(*_ORDER_COLS),
        target, "json", "overwrite",
    )
    out = st.read(target, "json")
    return out.select(
        F.col("o_orderkey").cast("long"),
        "o_orderstatus",
        F.col("o_totalprice").cast("double"),
    )


@query(
    "sink_partitioned_write",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
    FROM lineitem
    """,
)
def sink_partitioned_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitionBy write + partition-discovering read (A3).

    At 100 TB partitioning by a low-cardinality column like l_returnflag
    (3 values) gives partition pruning on the read side; the write itself
    is shuffle-free (each task writes its rows into per-value files).
    """
    st = BasicStorage()
    target = _scratch("part") + "/t"
    st.write(
        load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
        ),
        target, "parquet", "overwrite",
        partition_fields="l_returnflag",
    )
    return st.read(target, "parquet").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
    )


@query(
    "sink_dynamic_partition_overwrite",
    oracle="""
    WITH base AS (
        SELECT o_orderpriority,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        FROM orders),
    final AS (
        -- replaced partitions carry batch 2 (even keys, doubled price);
        -- untouched partitions keep batch 1
        SELECT o_orderpriority,
               CAST(floor(o_totalprice * 200 + 0.5) AS BIGINT) AS cents
        FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
          AND o_orderkey % 2 = 0
        UNION ALL
        SELECT * FROM base
        WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS total_cents
    FROM final GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def sink_dynamic_partition_overwrite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dynamic partition overwrite (INSERT OVERWRITE ... PARTITION):
    batch 2 rewrites ONLY the partitions it contains — the idempotent
    daily-reprocess primitive for a partitioned lake table (re-run one
    day's pipeline without touching every other day). Spark's static
    overwrite would truncate the whole table first; the
    ``partitionOverwriteMode=dynamic`` writer option scopes the delete
    to the partitions present in the incoming DataFrame, verified here
    by the read-back state: the two touched priority partitions hold
    batch 2 (even keys, doubled price), the other three still hold
    batch 1.

    Scale shape: both writes are shuffle-free fan-outs into partition
    directories; the overwrite's commit replaces directories atomically
    per partition, never rewrites untouched data. Read-back prunes
    nothing here (the report spans all partitions) but any
    priority-filtered consumer would scan only its directories. Price
    arithmetic is exact integer cents on both engines.
    """
    st = BasicStorage()
    target = _scratch("dynover") + "/t"
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    orders = load_table(spark, sf_dir, "orders")
    st.write(
        orders.select(
            "o_orderkey", cents.alias("cents"), "o_orderpriority"
        ),
        target, "parquet", "overwrite",
        partition_fields="o_orderpriority",
    )
    batch2 = orders.filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        & (F.col("o_orderkey") % 2 == 0)
    ).select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 200 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
        "o_orderpriority",
    )
    st.write(
        batch2, target, "parquet", "overwrite",
        partition_fields="o_orderpriority",
        options={"partitionOverwriteMode": "dynamic"},
    )
    return (
        st.read(target, "parquet")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("cents").cast("long").alias("total_cents"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "stream_passthrough",
    oracle="SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders",
)
def stream_passthrough(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 readStream → A4 writeStream file passthrough (reference
    test_basic.py:52-69), drained synchronously, then read as batch."""
    st = BasicStorage()
    base = _scratch("stream")
    src, dst, cp = f"{base}/src", f"{base}/dst", f"{base}/cp"
    st.write(
        load_table(spark, sf_dir, "orders").select(*_ORDER_COLS),
        src, "parquet", "overwrite",
    )
    stream = st.readStream(src, "parquet")
    q = st.writeStream(stream, dst, "parquet", checkpoint=cp)
    try:
        q.processAllAvailable()
    finally:
        # unconditional stop: an interrupted drain must not leave an
        # orphaned file-stream query holding the shared session's scheduler
        q.stop()
    return st.read(dst, "parquet")


@query(
    "merge_upsert",
    oracle="""
    WITH full_t AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 3 <> 0),
    inc AS (
        SELECT o_orderkey, 'R' AS o_orderstatus, o_totalprice * 2 AS o_totalprice
        FROM orders WHERE o_orderkey % 2 = 0),
    upd AS (
        SELECT f.o_orderkey,
               CASE WHEN i.o_orderkey IS NOT NULL AND i.o_totalprice > 200000
                    THEN i.o_orderstatus ELSE f.o_orderstatus END AS o_orderstatus,
               CASE WHEN i.o_orderkey IS NOT NULL AND i.o_totalprice > 200000
                    THEN i.o_totalprice ELSE f.o_totalprice END AS o_totalprice
        FROM full_t f LEFT JOIN inc i ON f.o_orderkey = i.o_orderkey),
    ins AS (
        SELECT i.o_orderkey, i.o_orderstatus, i.o_totalprice
        FROM inc i
        WHERE NOT EXISTS (SELECT 1 FROM full_t f
                          WHERE f.o_orderkey = i.o_orderkey)
          AND i.o_totalprice <= 500000)
    SELECT * FROM upd UNION ALL SELECT * FROM ins
    """,
)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 conditional MERGE end-to-end (reference basic.py:136-191):
    target = orders with key % 3 != 0; incremental = doubled-price 'R' rows
    for even keys; update only when incremental price > 200k, insert only
    when <= 500k. Returns the post-merge table for oracle comparison."""
    st = BasicStorage()
    target = _scratch("merge") + "/t"
    orders = load_table(spark, sf_dir, "orders").select(*_ORDER_COLS)
    st.write(
        orders.filter(F.col("o_orderkey") % 3 != 0),
        target, "parquet", "overwrite",
    )
    incremental = (
        orders.filter(F.col("o_orderkey") % 2 == 0)
        .withColumn("o_orderstatus", F.lit("R"))
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
    )
    st.merge(
        incremental,
        target,
        merge_condition="full.o_orderkey == incremental.o_orderkey",
        update_condition="incremental.o_totalprice > 200000",
        insert_condition="incremental.o_totalprice <= 500000",
    )
    return st.read(target, "parquet")


@query(
    "merge_schema_evolution",
    oracle="""
    WITH full_t AS (
        SELECT c_custkey, c_name FROM customer WHERE c_custkey % 2 = 0),
    inc AS (
        SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey % 3 = 0),
    upd AS (
        SELECT f.c_custkey,
               CASE WHEN i.c_custkey IS NOT NULL THEN CAST(NULL AS VARCHAR)
                    ELSE f.c_name END AS c_name,
               CASE WHEN i.c_custkey IS NOT NULL THEN i.c_acctbal
                    ELSE CAST(NULL AS DOUBLE) END AS c_acctbal
        FROM full_t f LEFT JOIN inc i ON f.c_custkey = i.c_custkey),
    ins AS (
        SELECT i.c_custkey, CAST(NULL AS VARCHAR) AS c_name, i.c_acctbal
        FROM inc i
        WHERE NOT EXISTS (SELECT 1 FROM full_t f
                          WHERE f.c_custkey = i.c_custkey))
    SELECT * FROM upd UNION ALL SELECT * FROM ins
    """,
)
def merge_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 null-fill schema evolution through MERGE (reference
    basic.py:193-220): target has (key, name), incremental has (key,
    acctbal); merge_schemas=True null-fills both directions. Updated rows
    take the incremental values — including NULL name, exactly like Delta
    UpdateAll after evolution (reference test_basic.py:170-180)."""
    st = BasicStorage()
    target = _scratch("evolve") + "/t"
    customer = load_table(spark, sf_dir, "customer")
    st.write(
        customer.filter(F.col("c_custkey") % 2 == 0).select("c_custkey", "c_name"),
        target, "parquet", "overwrite",
    )
    incremental = customer.filter(F.col("c_custkey") % 3 == 0).select(
        "c_custkey", "c_acctbal"
    )
    st.merge(
        incremental,
        target,
        merge_condition="full.c_custkey == incremental.c_custkey",
        merge_schemas=True,
    )
    return st.read(target, "parquet")


@query(
    "stream_foreachbatch_merge",
    oracle="""
    WITH full_t AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 3 <> 0),
    inc AS (
        SELECT o_orderkey, 'R' AS o_orderstatus,
               o_totalprice * 2 AS o_totalprice
        FROM orders WHERE o_orderkey % 2 = 0),
    upd AS (
        SELECT f.o_orderkey,
               COALESCE(i.o_orderstatus, f.o_orderstatus) AS o_orderstatus,
               COALESCE(i.o_totalprice, f.o_totalprice) AS o_totalprice
        FROM full_t f LEFT JOIN inc i ON f.o_orderkey = i.o_orderkey),
    ins AS (
        SELECT i.o_orderkey, i.o_orderstatus, i.o_totalprice
        FROM inc i
        WHERE NOT EXISTS (SELECT 1 FROM full_t f
                          WHERE f.o_orderkey = i.o_orderkey))
    SELECT * FROM upd UNION ALL SELECT * FROM ins
    """,
)
def stream_foreachbatch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE: readStream (A2, schema pre-inferred) →
    ``foreachBatch`` upsert sink (A4+A5 composed) → availableNow drain.

    The reference's signature CDC deployment shape: each micro-batch is
    applied transactionally through storage.merge, so checkpoint replays
    converge instead of duplicating. The oracle reconstructs the post-
    merge state relationally, proving the stream → merge path end-to-end
    (same model as ``merge_upsert``, but arriving via the stream)."""
    from jorvik_spark.streaming.sinks import foreach_batch_merge

    st = BasicStorage()
    base = _scratch("fbmerge")
    target, src, ckpt = base + "/t", base + "/src", base + "/ckpt"
    orders = load_table(spark, sf_dir, "orders").select(*_ORDER_COLS)
    st.write(
        orders.filter(F.col("o_orderkey") % 3 != 0),
        target, "parquet", "overwrite",
    )
    incremental = (
        orders.filter(F.col("o_orderkey") % 2 == 0)
        .withColumn("o_orderstatus", F.lit("R"))
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
    )
    st.write(incremental, src, "parquet", "overwrite")
    q = foreach_batch_merge(
        st.readStream(src, "parquet"),
        st,
        target,
        "full.o_orderkey == incremental.o_orderkey",
        checkpoint=ckpt,
        dedup_keys=["o_orderkey"],  # at-least-once within-batch safety
    )
    q.awaitTermination()
    return st.read(target, "parquet")


@query(
    "merge_cdc_delete",
    oracle="""
    WITH full_t AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 3 <> 0),
    inc AS (
        SELECT o_orderkey, 'R' AS o_orderstatus,
               o_totalprice * 2 AS o_totalprice,
               CASE WHEN o_orderkey % 5 = 0 THEN 'D' ELSE 'U' END AS op
        FROM orders WHERE o_orderkey % 2 = 0),
    kept AS (
        SELECT f.o_orderkey,
               COALESCE(i.o_orderstatus, f.o_orderstatus) AS o_orderstatus,
               COALESCE(i.o_totalprice, f.o_totalprice) AS o_totalprice,
               i.op AS op
        FROM full_t f LEFT JOIN inc i ON f.o_orderkey = i.o_orderkey
        WHERE i.op IS NULL OR i.op <> 'D'),
    ins AS (
        SELECT i.o_orderkey, i.o_orderstatus, i.o_totalprice, i.op
        FROM inc i
        WHERE i.op <> 'D'
          AND NOT EXISTS (SELECT 1 FROM full_t f
                          WHERE f.o_orderkey = i.o_orderkey))
    SELECT * FROM kept UNION ALL SELECT * FROM ins
    """,
)
def merge_cdc_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply through MERGE with a delete clause (engine extension
    over the reference's upsert-only surface): a change batch carrying
    an ``op`` column — 'D' tombstones delete their matched target rows,
    'U' rows update, unseen non-tombstone keys insert, and tombstones
    for unseen keys are kept out by the insert condition. The oracle
    reconstructs the post-merge state relationally (left join minus
    deletes plus filtered inserts), proving the lakehouse CDC-apply
    contract end to end — the batch half of the streaming
    ``foreach_batch_merge(delete_condition=...)`` sink.
    """
    st = BasicStorage()
    target = _scratch("cdcmerge") + "/t"
    orders = load_table(spark, sf_dir, "orders").select(*_ORDER_COLS)
    st.write(
        orders.filter(F.col("o_orderkey") % 3 != 0),
        target, "parquet", "overwrite",
    )
    cdc = (
        orders.filter(F.col("o_orderkey") % 2 == 0)
        .withColumn("o_orderstatus", F.lit("R"))
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        .withColumn(
            "op",
            F.when(F.col("o_orderkey") % 5 == 0, "D").otherwise("U"),
        )
    )
    st.merge(
        cdc,
        target,
        merge_condition="full.o_orderkey == incremental.o_orderkey",
        delete_condition="incremental.op = 'D'",
        insert_condition="incremental.op != 'D'",
        merge_schemas=True,  # the target gains the op column (null keeps)
    )
    return st.read(target, "parquet").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "op"
    )


@query(
    "sink_bucketed_join",
    oracle=f"""
    SELECT c.c_mktsegment, COUNT(*) AS n_orders,
           {sql_dsum('o.o_totalprice')} AS sum_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def sink_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed tables + shuffle-free co-located join.

    Both sides are written ``bucketBy(8, key).sortBy(key)``; Spark's
    catalog then knows their physical partitioning, so the join plans as a
    sort-merge join with NO Exchange on either side (asserted in
    tests/test_plans.py). This is the 100 TB pattern for a fact table
    joined repeatedly on the same key: pay the bucketing shuffle once at
    write time, never again at read time.
    """
    # Unique per-process table names: fixed global names + a warehouse
    # rmtree let two concurrent sessions sharing one warehouse delete each
    # other's bucketed files mid-scan, and path-based cleanup only worked
    # on a local filesystem. Fresh names never collide, so no cleanup step
    # is needed at all (one stale table pair per process is the bounded
    # cost, same class as the _scratch dirs).
    tag = f"{os.getpid():x}"
    names = {}
    for label, src, key in (
        ("orders", "orders", "o_custkey"),
        ("customer", "customer", "c_custkey"),
    ):
        name = f"jvs_bucketed_{label}_{tag}"
        names[label] = name
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            load_table(spark, sf_dir, src)
            .write.bucketBy(8, key)
            .sortBy(key)
            .mode("overwrite")
            .format("parquet")
            .saveAsTable(name)
        )
    o = spark.table(names["orders"])
    c = spark.table(names["customer"])
    # hint("merge") pins the sort-merge strategy (at test SF the dimension
    # is broadcast-small, which would hide the bucketing); with both sides
    # bucketed on the key, the SMJ needs no Exchange at all.
    return (
        o.join(c.hint("merge"), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("sum_price"),
        )
    )


@query(
    "stream_dedup_watermark",
    oracle="""
    SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, value
    FROM events
    """,
)
def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming exact-dedup: an at-least-once source that
    delivers every event twice is collapsed back to one row per
    event_id with ``dropDuplicatesWithinWatermark`` — the streaming half
    of ``dedup_exact`` for a CDC/training-ingest pipeline.

    The watermark bounds the dedup state: keys older than the watermark
    horizon are evicted, so state size tracks the event-time window, not
    the stream's full history — the property that lets this run forever
    at 100 TB/day where an unbounded dropDuplicates would OOM. Duplicate
    deliveries carry identical payloads (the at-least-once model), so
    any surviving row is byte-identical and the batch oracle is simply
    the distinct source.
    """
    st = BasicStorage()
    base = _scratch("sdedup")
    src, dst, cp = f"{base}/src", f"{base}/dst", f"{base}/cp"
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    # at-least-once: every event delivered twice
    st.write(events.unionAll(events), src, "parquet", "overwrite")
    # r18: state partitions sized from the source bytes (×2 for the
    # doubled delivery) — see _stream_state_partitions. Keyed dedup is
    # partition-count-invariant, so results are unchanged.
    n_parts = _stream_state_partitions(
        spark, 2 * table_source_bytes(spark, sf_dir, "events")
    )
    with _scoped_sql_conf(spark, "spark.sql.shuffle.partitions", n_parts):
        stream = (
            st.readStream(src, "parquet")
            .withWatermark("ts", "1 hour")
            .dropDuplicatesWithinWatermark(["event_id"])
        )
        q = st.writeStream(stream, dst, "parquet", checkpoint=cp)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    return st.read(dst, "parquet").select("event_id", "ts", "user_id", "value")


# Z-order geometry: 16 bits per dimension interleaved into a 32-bit
# z-value, 16 layout buckets. Pure integer bit arithmetic — identical on
# both engines (no float, no sampling).
_Z_BITS = 16
_Z_BUCKETS = 16
_Z_BUCKET_W = (1 << (2 * _Z_BITS)) // _Z_BUCKETS


def _morton_unrolled(xkey: str, ykey: str, bits: int = _Z_BITS) -> str:
    """UNROLLED Morton interleave of two grid-normalized keys.

    r17: the `aggregate(sequence(0, 15), ...)` HOF fold ran the lambda
    interpreted per element — measured 2.60 s for the fold stage of the
    600k-row zorder scan; this flat sum of shiftleft terms is one
    WholeStageCodegen expression, 0.44 s for the identical zval
    (sum-checked bit-identical). Expects `mo`/`mp` (max+1 per dimension)
    in scope, exactly like the fold it replaces.
    """
    return " + ".join(
        f"shiftleft(CAST((shiftright(({xkey} * 65536) div mo, {i}) & 1) "
        f"AS BIGINT), {2 * i + 1})"
        f" + shiftleft(CAST((shiftright(({ykey} * 65536) div mp, {i}) & 1) "
        f"AS BIGINT), {2 * i})"
        for i in range(bits)
    )


@query(
    "sink_zorder_layout",
    oracle=f"""
    WITH mx AS (
        SELECT MAX(l_orderkey) + 1 AS mo, MAX(l_partkey) + 1 AS mp
        FROM lineitem),
    keyed AS (
        SELECT (l_orderkey * 65536) // mo AS x,
               (l_partkey * 65536) // mp AS y,
               l_orderkey, l_partkey
        FROM lineitem CROSS JOIN mx),
    z AS (
        SELECT l_orderkey, l_partkey,
               CAST(list_sum(list_transform(range(0, {_Z_BITS}),
                   i -> (((x >> i) & 1) << (2 * i + 1))
                      + (((y >> i) & 1) << (2 * i)))) AS BIGINT) AS zval
        FROM keyed)
    SELECT CAST(zval // {_Z_BUCKET_W} AS BIGINT) AS zbucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(l_orderkey) AS min_orderkey, MAX(l_orderkey) AS max_orderkey,
           MIN(l_partkey) AS min_partkey, MAX(l_partkey) AS max_partkey
    FROM z GROUP BY 1
    """,
)
def sink_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustered export: interleave the bit patterns of TWO join
    keys into one Morton code, bucket the table by z-range, and write
    each bucket as its own partition with rows z-sorted inside — the
    multi-dimensional clustering (Delta OPTIMIZE ZORDER's layout) that
    lets file-level min/max statistics prune scans filtered on EITHER
    key, where single-column sort helps only one.

    The returned manifest is the point of z-ordering made measurable:
    per bucket, the min/max span of BOTH keys — each bucket covers a
    bounded rectangle of (orderkey, partkey) space rather than a full
    stripe of one dimension.

    Scale shape: the z-value is one flat codegen'd expression of 32
    shift/mask terms per row (``_morton_unrolled`` — no UDF, no
    interpreted HOF lambda); bucketing is a fixed-width
    integer division, so layout is DETERMINISTIC across runs and cluster
    sizes (``repartitionByRange`` would sample — nondeterministic file
    boundaries — which is why the bucket column + partitionBy is the
    reproducible form); one shuffle onto the bucket key, sort bounded
    within each bucket.
    """
    st = BasicStorage()
    target = _scratch("zorder") + "/t"
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    # Min/max-normalize each dimension into the 16-bit grid (pure
    # integer arithmetic — deterministic at every SF; a fixed modulus
    # would leave small key spaces in one bucket and alias large ones).
    mx = li.agg(
        (F.max("l_orderkey") + 1).alias("mo"),
        (F.max("l_partkey") + 1).alias("mp"),
    )
    zval = F.expr(_morton_unrolled("l_orderkey", "l_partkey"))
    clustered = (
        li.crossJoin(F.broadcast(mx))
        .withColumn("zval", zval)
        .drop("mo", "mp")
        .withColumn("zbucket", F.expr(f"zval div {_Z_BUCKET_W}"))
        .repartition(_Z_BUCKETS, "zbucket")
        .sortWithinPartitions("zval")
    )
    st.write(
        clustered, target, "parquet", "overwrite",
        partition_fields="zbucket",
    )
    back = st.read(target, "parquet")
    return back.groupBy(F.col("zbucket").cast("long").alias("zbucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.min("l_orderkey").alias("min_orderkey"),
        F.max("l_orderkey").alias("max_orderkey"),
        F.min("l_partkey").alias("min_partkey"),
        F.max("l_partkey").alias("max_partkey"),
    )


@query(
    "stream_stateful_running_totals",
    oracle=f"""
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM({sql_units('value')})
                AS BIGINT) AS total_u
    FROM events GROUP BY user_id
    """,
)
def stream_stateful_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator through the full driver
    contract: per-user running (count, exact fixed-point sum) via
    ``applyInPandasWithState`` — the canonical shape for operators the
    built-ins can't express (per-key counters, custom sessionization,
    CDC conflation). The stream is drained with a real checkpoint and a
    foreachBatch file sink (update-mode rows cannot go to a file sink
    directly), then the FINAL state per key — the update with the
    highest n_events, which is strictly monotone per key — is selected
    and value-hash-compared against the one-shot batch aggregate.

    The value sum is carried in dsum micro-units (exact integers), not a
    float accumulator: float sums are arrival-order dependent in the
    last ulps, and a custom stateful operator is only driver-checkable
    if its state folds are order-independent — see
    ``running_user_totals_fixedpoint``.

    Scale shape: state is 3 scalars per key in the state store, shuffled
    once on the group key; the post-drain final-state select is a window
    over |keys| × |micro-batches| tiny rows. State never grows with
    event count — the property that lets this run forever at 100 TB/day.
    """
    from pyspark.sql import Window

    from jorvik_spark.streaming.ops import running_user_totals_fixedpoint

    st = BasicStorage()
    base = _scratch("sstate")
    src, dst, cp = f"{base}/src", f"{base}/dst", f"{base}/cp"
    events = load_table(spark, sf_dir, "events").select("user_id", "value")
    st.write(events, src, "parquet", "overwrite")

    def sink(batch_df: DataFrame, _batch_id: int) -> None:
        batch_df.write.mode("append").parquet(dst)

    # r18: state partitions sized from the source bytes — see
    # _stream_state_partitions (the floor keeps the applyInPandasWithState
    # Python workers parallel). Per-key state folds are partition-count-
    # invariant (exact integer micro-units), so results are unchanged.
    n_parts = _stream_state_partitions(
        spark, table_source_bytes(spark, sf_dir, "events")
    )
    with _scoped_sql_conf(spark, "spark.sql.shuffle.partitions", n_parts):
        out = running_user_totals_fixedpoint(st.readStream(src, "parquet"))
        q = (
            out.writeStream.foreachBatch(sink)
            .option("checkpointLocation", cp)
            .outputMode("update")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    back = spark.read.parquet(dst)
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        back.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", "total_u")
    )


# Compaction target: bytes per output file. At 100 TB this is the
# 128 MB-1 GB knob; at test scale a small target keeps the query from
# degenerating to a single file so the bin-packing math stays exercised.
_COMPACT_TARGET_BYTES = 256 * 1024


@query(
    "sink_compact_small_files",
    oracle="""
    SELECT doc_id, source, lang, CAST(n_chars AS BIGINT) AS n_chars
    FROM documents
    """,
)
def sink_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the table-maintenance operator every
    streaming/incremental ingest needs: a 64-way fragmented write (the
    small-files problem: per-file open/footer costs dominate scans, and
    at 100 TB a NameNode/metastore chokes on file counts long before
    data volume hurts) is rewritten into size-targeted files, and the
    read-back is value-hash-checked against the source — compaction must
    be byte-preserving, and a dropped or duplicated row flips the hash.

    Sizing: output file count = ceil(on-disk bytes / target), measured
    from the fragmented files themselves (no sampling, no row-count
    heuristics), then an exact repartition — the same math a production
    OPTIMIZE/rewriteFiles pass runs per partition-directory. The test
    pins the before/after file counts; the oracle pins the data.
    """
    import math

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", F.col("n_chars").cast("long")
    )
    base = _scratch("compact")
    small, compacted = f"{base}/small", f"{base}/compacted"
    docs.repartition(64).write.parquet(small)
    frag_bytes = sum(
        e.stat().st_size
        for e in os.scandir(small)
        if e.name.endswith(".parquet")
    )
    n_out = max(1, math.ceil(frag_bytes / _COMPACT_TARGET_BYTES))
    spark.read.parquet(small).repartition(n_out).write.parquet(compacted)
    return spark.read.parquet(compacted)


# (session, sf_dir) the four SQL views currently point at — the same
# session-identity discipline memo_df uses.
_SQL_VIEWS_REGISTERED: list = [None, None]

_SQL_VIEW_NAMES = ("lineitem", "orders", "customer", "nation")


def _sql_views_current(spark, sf_dir: str) -> bool:
    """True only if this session's temp views verifiably still point at
    this sf_dir. The (session, sf_dir) memo alone assumes nothing else
    rebinds these names between invocations (r12 ADVICE: any user
    createOrReplaceTempView would make the query silently read the
    wrong tables while the cache says the views are current) — so the
    skip path re-checks the catalog: all four names must still exist,
    and the probe view's physical source files must live under sf_dir
    (a rebind to another directory or to an in-memory relation changes
    or empties ``inputFiles``). Driver-side only, no job."""
    if not (
        _SQL_VIEWS_REGISTERED[0] is spark
        and _SQL_VIEWS_REGISTERED[1] == sf_dir
    ):
        return False
    try:
        if not all(spark.catalog.tableExists(t) for t in _SQL_VIEW_NAMES):
            return False
        files = spark.table("lineitem").inputFiles()
        norm = os.path.normpath(sf_dir)
        return bool(files) and all(norm in f for f in files)
    except Exception:
        return False


@query(
    "sql_api_revenue_report",
    oracle=f"""
    SELECT n.n_name AS nation,
           CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS order_year,
           CAST(COUNT(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders,
           CAST(SUM({sql_units('l.l_extendedprice * (1 - l.l_discount)')})
                AS BIGINT) AS revenue_u
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name, EXTRACT(year FROM o.o_orderdate)
    HAVING COUNT(DISTINCT o.o_orderkey) >= 5
    """,
)
def sql_api_revenue_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-string API surface: the same engine queried through
    ``spark.sql`` over registered temp views instead of the DataFrame
    builder — proof a reference user who writes SQL (notebooks, BI
    connectors) gets the identical Catalyst plan and the identical
    answer. Revenue by (nation, order year) with a HAVING floor: a
    4-table join, a distinct-count, and dsum-quantized revenue, all
    expressed in one SQL string.

    Views are session-scoped and name-spaced per invocation is
    unnecessary: createOrReplaceTempView is idempotent and every
    registration points at the same immutable files for a given sf_dir
    within a run — so registration is SKIPPED when this session's views
    VERIFIABLY still point at this sf_dir (``_sql_views_current``:
    memo hit + catalog existence + probe of the view's physical source
    files; measured: re-registering the four views cost ~0.3 s of
    driver-side analysis per call, half the query's wall — the
    round-11 "r9_sql drift"; the catalog is state, treat it like
    state). A different sf_dir, a dropped view, or a user rebinding
    one of the names all re-register. Catalyst
    treats the view text exactly like the DataFrame lineage — same
    pushdown, same broadcast of nation/customer, same partial
    aggregation; `.explain` shows no seam.

    The SQL pre-aggregates revenue per order before the dimension joins
    (the oracle states the naive COUNT(DISTINCT)-over-line-level spec):
    line-level distinct-counting drags every lineitem row through the
    (nation, year) aggregate's distinct expand, while the per-order CTE
    reduces at the natural key first — measured 1.75× faster at sf0.1
    with bit-identical results, and at 100 TB the difference is a
    |lineitem|-sized distinct state vs an |orders|-sized rollup.
    """
    if not _sql_views_current(spark, sf_dir):
        for t in _SQL_VIEW_NAMES:
            load_table(spark, sf_dir, t).createOrReplaceTempView(t)
        _SQL_VIEWS_REGISTERED[0] = spark
        _SQL_VIEWS_REGISTERED[1] = sf_dir
    return spark.sql(
        f"""
        WITH per_order AS (
            SELECT l.l_orderkey,
                   SUM({spark_units('l.l_extendedprice * (1 - l.l_discount)')})
                       AS order_rev_u
            FROM lineitem l GROUP BY l.l_orderkey)
        SELECT n.n_name AS nation,
               CAST(year(o.o_orderdate) AS BIGINT) AS order_year,
               COUNT(*) AS n_orders,
               SUM(p.order_rev_u) AS revenue_u
        FROM per_order p
        JOIN orders o ON p.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name, year(o.o_orderdate)
        HAVING COUNT(*) >= 5
        """
    )


@query(
    "scan_merge_schema_union",
    oracle="""
    SELECT o_orderkey, o_totalprice, NULL AS o_clerk_flag
    FROM orders WHERE o_orderkey % 2 = 0
    UNION ALL
    SELECT o_orderkey, o_totalprice,
           CAST(o_orderkey % 7 = 0 AS BOOLEAN) AS o_clerk_flag
    FROM orders WHERE o_orderkey % 2 <> 0
    """,
)
def scan_merge_schema_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """READ-side schema evolution: a table directory whose early files
    predate a column (the normal state of any long-lived lake table)
    read back as ONE relation with ``mergeSchema`` — old files null-fill
    the new column, new files carry it. The write-side half (A6
    ``_merge_schema``) evolves the schema on MERGE; this query proves
    the complementary contract that a reader never needs the table
    rewritten.

    At 100 TB mergeSchema's footer-reconciliation cost is why production
    tables pin schemas in a metastore — the read itself stays one scan
    with pushdown intact either way; the test pins that the pruned
    single-column read does NOT pay for the wide files' extra column.
    """
    base = _scratch("evolve")
    orders = load_table(spark, sf_dir, "orders")
    orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    ).write.parquet(f"{base}/t/gen=0")
    orders.filter(F.col("o_orderkey") % 2 != 0).select(
        "o_orderkey",
        "o_totalprice",
        (F.col("o_orderkey") % 7 == 0).alias("o_clerk_flag"),
    ).write.parquet(f"{base}/t/gen=1")
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(f"{base}/t")
        .select("o_orderkey", "o_totalprice", "o_clerk_flag")
    )


# Synthetic-source size for the datasource query: big enough that the
# partition fan-out matters, small enough that (i * 1000003) stays
# far inside int64 on both engines.
_PYDS_N = 20_000


@query(
    "scan_python_datasource",
    oracle=f"""
    SELECT CAST(i AS BIGINT) AS id,
           CAST(i % 16 AS INTEGER) AS bucket,
           CAST((i * 1000003) % 999983 AS BIGINT) AS value
    FROM range({_PYDS_N}) t(i)
    """,
)
def scan_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Python DataSource extension surface (Spark 4
    ``pyspark.sql.datasource``): a custom format read through the normal
    ``spark.read.format(...)`` path, with driver-side ``partitions()``
    fan-out and executor-parallel ``read()`` — the escape hatch for
    formats Spark lacks (bespoke telemetry, service APIs). The source
    generates deterministic rows, so the DuckDB ``range()`` twin checks
    the PLUMBING itself: a dropped partition, mis-parsed option, or
    column misalignment all hash-fail.

    At 100 TB the pattern is: custom source → immediate parquet rewrite
    (pay the Python read once), then every downstream query runs on
    native scans; a Python reader in the hot path would cap throughput
    at the Python worker, which is why only the ingest edge uses it.
    The test pins the partition count actually fanned out.
    """
    from jorvik_spark.storage.pydatasource import register

    register(spark)
    return (
        spark.read.format("jorvik_synthetic")
        .option("n", _PYDS_N)
        .option("parts", 8)
        .load()
    )


@query(
    "merge_scd2_apply",
    oracle="""
    WITH changed AS (
        SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
        WHERE c_custkey % 4 = 0),
    unchanged AS (
        SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
        WHERE c_custkey % 4 <> 0)
    SELECT c_custkey, c_mktsegment, c_acctbal,
           TIMESTAMP '1990-01-01' AS valid_from,
           CAST(NULL AS TIMESTAMP) AS valid_to,
           true AS is_current
    FROM unchanged
    UNION ALL
    SELECT c_custkey, c_mktsegment, c_acctbal,
           TIMESTAMP '1990-01-01', TIMESTAMP '1995-06-01', false
    FROM changed
    UNION ALL
    SELECT c_custkey, 'UPDATED', c_acctbal,
           TIMESTAMP '1995-06-01', CAST(NULL AS TIMESTAMP), true
    FROM changed
    UNION ALL
    SELECT c_custkey + 10000000, 'NEW', 0.0,
           TIMESTAMP '1995-06-01', CAST(NULL AS TIMESTAMP), true
    FROM customer WHERE c_custkey % 7 = 3
    """,
)
def merge_scd2_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 (type-2 slowly-changing dimension) MAINTENANCE via one
    MERGE — the write-side complement of ``join_scd2_pointintime``
    (which consumes the validity intervals this produces). A CDC batch
    of segment changes plus brand-new customers is applied to a customer
    dimension: each changed key's current row is CLOSED (valid_to set,
    is_current dropped) and a new open version INSERTED, atomically in a
    single merge.

    The single-merge trick is the composite merge key ``(c_custkey,
    valid_from)``: the staged batch carries each changed key TWICE — a
    "close" row reproducing the current version's valid_from (MATCHES →
    update-all rewrites it closed) and an "open" row with the new
    effective date (no match → insert). A merge keyed on c_custkey alone
    cannot do both for one key, which is why naive SCD2 loaders fall
    back to full-table rewrites. Staging requires one join against the
    CURRENT dimension slice (is_current filter pushed to the scan) —
    broadcast-able when the changed-key set is CDC-sized.

    Scale: the merge shuffles on the composite key; the dimension is
    partitioned state, the CDC batch is small — exactly the
    AQE-broadcast-into-SMJ shape ``merge_upsert`` pins. History grows
    append-only (closed rows are rewritten once, never revisited).
    """
    st = BasicStorage()
    target = _scratch("scd2") + "/dim"
    eff = F.lit("1995-06-01").cast("timestamp")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    dim0 = cust.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.lit("1990-01-01").cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    st.write(dim0, target, "parquet", "overwrite")

    current = st.read(target, "parquet").filter("is_current")
    changed = (
        current.join(
            cust.filter(F.col("c_custkey") % 4 == 0).select("c_custkey"),
            "c_custkey",
        )
        # screen no-op CDC rows: only rows whose tracked attribute
        # actually changes may close a version
        .filter(F.col("c_mktsegment") != F.lit("UPDATED"))
    )
    close_rows = changed.select(
        "c_custkey", "c_mktsegment", "c_acctbal", "valid_from",
        eff.alias("valid_to"), F.lit(False).alias("is_current"),
    )
    open_rows = changed.select(
        "c_custkey", F.lit("UPDATED").alias("c_mktsegment"), "c_acctbal",
        eff.alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    new_rows = cust.filter(F.col("c_custkey") % 7 == 3).select(
        (F.col("c_custkey") + 10_000_000).alias("c_custkey"),
        F.lit("NEW").alias("c_mktsegment"),
        F.lit(0.0).alias("c_acctbal"),
        eff.alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    staged = close_rows.unionByName(open_rows).unionByName(new_rows)
    st.merge(
        staged,
        target,
        "full.c_custkey = incremental.c_custkey"
        " AND full.valid_from = incremental.valid_from",
    )
    return st.read(target, "parquet")


@query(
    "scan_csv_corrupt_records",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN o_orderkey % 10 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_corrupt,
           {sql_dsum("CASE WHEN o_orderkey % 10 <> 0 THEN o_totalprice END")}
               AS valid_total,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key
    FROM orders
    """,
)
def scan_csv_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE malformed-record handling on a CSV scan — the ingest
    contract for dirty landing-zone data: a corrupt field must NOT kill
    the job (FAILFAST) or silently vanish (DROPMALFORMED); the row
    survives with the bad field nulled and the RAW line captured in
    ``_corrupt_record`` for quarantine. The query plants a deterministic
    corruption (every 10th order's price becomes non-numeric), reads the
    file back under a DECLARED schema + PERMISSIVE, and reports row
    count, corrupt count, and the sum over the rows that parsed — the
    oracle reconstructs all three relationally, proving corrupt rows
    were kept, flagged, and excluded from the numeric aggregate.

    Scale notes: schema-on-read with a declared schema (no inference
    pass over 100 TB); the corrupt-record column materializes only the
    bad rows' raw text. Sum parity across the text round-trip holds
    because double→string→double is shortest-round-trip exact in Spark.
    """
    base = _scratch("csvcorrupt")
    o = load_table(spark, sf_dir, "orders")
    lines = o.select(
        F.concat_ws(
            ",",
            F.col("o_orderkey").cast("string"),
            F.col("o_orderstatus"),
            F.when(F.col("o_orderkey") % 10 == 0, F.lit("oops")).otherwise(
                F.col("o_totalprice").cast("string")
            ),
        ).alias("value")
    )
    lines.write.mode("overwrite").text(base + "/t")
    parsed = (
        spark.read.schema(
            "o_orderkey BIGINT, o_orderstatus STRING,"
            " o_totalprice DOUBLE, _corrupt_record STRING"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(base + "/t")
    )
    return parsed.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("_corrupt_record").alias("n_corrupt"),
        dsum("o_totalprice").alias("valid_total"),
        F.max("o_orderkey").alias("max_key"),
    )


@query(
    "scan_xml_roundtrip",
    oracle=f"SELECT {', '.join(_ORDER_COLS)} FROM orders",
)
def scan_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML write + read round-trip — an ENGINE EXTENSION source: the
    reference's A1/A3 format allowlist deliberately rejects xml
    (tests/test_storage_basic.py pins the ValueError, reference
    basic.py:31), so this query uses the raw DataFrameReader/Writer —
    BasicStorage semantics are untouched. Spark 4 ships the XML source
    built in (the former spark-xml package).

    Read back under a DECLARED schema: XML carries no types, so
    schema-on-read is what keeps o_orderkey a BIGINT and o_totalprice a
    DOUBLE (inference would re-derive them per batch). Value-hash
    parity across the text round-trip holds because Spark prints
    shortest-round-trip doubles and reparses them exactly — the same
    contract scan_csv_corrupt_records pins for CSV.
    """
    target = _scratch("xml") + "/t"
    (
        load_table(spark, sf_dir, "orders")
        .select(*_ORDER_COLS)
        .write.format("xml")
        .option("rowTag", "order")
        .mode("overwrite")
        .save(target)
    )
    return (
        spark.read.format("xml")
        .option("rowTag", "order")
        .schema(
            "o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE"
        )
        .load(target)
    )


@query(
    "scan_text_roundtrip",
    oracle="""
    SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS n_chars_rt
    FROM documents
    WHERE text IS NOT NULL AND doc_id IS NOT NULL AND lang IS NOT NULL
    ORDER BY doc_id
    """,
)
def scan_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-oriented ``text`` source round-trip — the last built-in
    format the reference's lineage extractor recognizes
    (node_handler.py:11-12 lists text alongside avro/xml/binaryFile)
    that lacked an engine query: documents serialized one line per doc
    (tab-joined id/lang/body — this corpus's text carries no
    tab/newline at any SF, asserted in scope on both engines via the
    null/projection filters), written with ``DataFrameWriter.text``,
    read back with ``spark.read.text`` and re-parsed. The oracle
    recomputes the projection straight from the table, so a
    hash-match proves the body survived the byte round-trip
    length-exactly. (avro stays gated: this container ships Spark
    without the external spark-avro module jar — probed, documented
    here rather than stubbed.)

    Scale shape: one narrow projection out, one narrow parse back —
    no shuffle either way; the parse is split-per-file parallel like
    any line format at 100 TB.
    """
    target = _scratch("text") + "/t"
    (
        load_table(spark, sf_dir, "documents")
        .filter(
            F.col("text").isNotNull()
            & F.col("doc_id").isNotNull()
            & F.col("lang").isNotNull()
        )
        .select(
            F.concat_ws(
                "\t",
                F.col("doc_id").cast("string"),
                F.col("lang"),
                F.col("text"),
            ).alias("value")
        )
        .write.mode("overwrite")
        .text(target)
    )
    lines = spark.read.text(target)
    # no presentation orderBy: row-per-doc output, and the driver
    # compare is order-insensitive — a global sort here is a
    # corpus-sized range exchange for nothing
    return lines.select(
        F.split_part(F.col("value"), F.lit("\t"), F.lit(1))
        .cast("long")
        .alias("doc_id"),
        F.split_part(F.col("value"), F.lit("\t"), F.lit(2)).alias("lang"),
        F.length(F.split_part(F.col("value"), F.lit("\t"), F.lit(3)))
        .cast("long")
        .alias("n_chars_rt"),
    )


@query(
    "catalog_table_roundtrip",
    oracle=f"SELECT {', '.join(_ORDER_COLS)} FROM orders WHERE o_orderkey % 2 = 1",
)
def catalog_table_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog-addressed table round-trip: ``saveAsTable`` → catalog
    visibility → ``spark.table`` read-back — the NAMED-table surface
    next to the path-addressed A1/A3 round-trips (production lakes
    address data through a catalog; the reference is path-only, this is
    the engine extension that makes the move). The write registers the
    table in the session catalog with its schema; the read resolves
    through the catalog, not a path string.

    Idempotent per session (overwrite mode); the catalog entry is
    asserted present before the read so a silent registration failure
    cannot masquerade as a pass. Managed-table files land under
    spark.sql.warehouse.dir — at 100 TB the same statement against a
    production metastore (Hive/Glue/Unity) is unchanged, which is the
    point of the catalog indirection.
    """
    name = "jorvik_catalog_orders"
    # idempotent across SESSIONS too: a prior process may have left the
    # managed-table files without this session's catalog knowing the
    # name — DROP alone won't clear them, and saveAsTable refuses an
    # occupied location (LOCATION_ALREADY_EXISTS).
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    import shutil
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(os.path.join(wh, name), ignore_errors=True)
    (
        load_table(spark, sf_dir, "orders")
        .select(*_ORDER_COLS)
        .filter(F.col("o_orderkey") % 2 == 1)
        .write.mode("overwrite")
        .format("parquet")
        .saveAsTable(name)
    )
    assert any(
        t.name == name for t in spark.catalog.listTables()
    ), f"{name} missing from catalog after saveAsTable"
    return spark.table(name)


# Skipping-eval geometry: every layout is bucketed 16 ways (matching
# _Z_BUCKETS so the zorder comparison is apples-to-apples) and probed
# with 8 evenly-spaced point predicates per key dimension.
_SKIP_B = 16
_SKIP_P = 8


@query(
    "sink_layout_skipping_eval",
    oracle=f"""
    WITH mx AS (
        SELECT MAX(l_orderkey) + 1 AS mo, MAX(l_partkey) + 1 AS mp
        FROM lineitem),
    keyed AS (
        SELECT l_orderkey, l_partkey, mo, mp,
               (l_orderkey * 65536) // mo AS x,
               (l_partkey * 65536) // mp AS y
        FROM lineitem CROSS JOIN mx),
    assigned AS (
        SELECT 'sort_orderkey' AS layout,
               (l_orderkey * {_SKIP_B}) // mo AS bucket,
               l_orderkey, l_partkey FROM keyed
        UNION ALL
        SELECT 'sort_partkey', (l_partkey * {_SKIP_B}) // mp,
               l_orderkey, l_partkey FROM keyed
        UNION ALL
        SELECT 'zorder',
               CAST(list_sum(list_transform(range(0, 16),
                   i -> (((x >> i) & 1) << (2 * i + 1))
                      + (((y >> i) & 1) << (2 * i)))) AS BIGINT)
                 // {(1 << 32) // _SKIP_B},
               l_orderkey, l_partkey FROM keyed),
    stats AS (
        SELECT layout, bucket,
               MIN(l_orderkey) AS min_ok, MAX(l_orderkey) AS max_ok,
               MIN(l_partkey) AS min_pk, MAX(l_partkey) AS max_pk
        FROM assigned GROUP BY layout, bucket),
    probes AS (
        SELECT 'orderkey' AS probe_dim,
               (mo * (2 * j + 1)) // {2 * _SKIP_P} AS v
        FROM mx CROSS JOIN (SELECT unnest(range(0, {_SKIP_P})) AS j)
        UNION ALL
        SELECT 'partkey', (mp * (2 * j + 1)) // {2 * _SKIP_P}
        FROM mx CROSS JOIN (SELECT unnest(range(0, {_SKIP_P})) AS j)),
    hits AS (
        SELECT s.layout, p.probe_dim,
               CASE WHEN (p.probe_dim = 'orderkey'
                          AND p.v BETWEEN s.min_ok AND s.max_ok)
                      OR (p.probe_dim = 'partkey'
                          AND p.v BETWEEN s.min_pk AND s.max_pk)
                    THEN 1 ELSE 0 END AS hit
        FROM stats s CROSS JOIN probes p)
    SELECT layout, probe_dim,
           CAST(COUNT(*) / {_SKIP_P} AS BIGINT) AS n_buckets,
           CAST(SUM(hit) AS BIGINT) AS n_scanned_bucket_probes,
           CAST(SUM(hit) * 1000000 // COUNT(*) AS BIGINT) AS scan_ppm
    FROM hits GROUP BY layout, probe_dim ORDER BY layout, probe_dim
    """,
)
def sink_layout_skipping_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-skipping effectiveness, MEASURED across three physical
    layouts of the same table: bucket lineitem 16 ways by (a) orderkey
    range, (b) partkey range, (c) z-order Morton range, collect each
    bucket's min/max footer stats for BOTH keys, and probe all three
    with the same 8 evenly-spaced point predicates per dimension. The
    report is the fraction of bucket×probe pairs a stats-pruning scan
    must actually read — THE number that justifies clustering choices
    at 100 TB: a single-key sort scans ~1/16 per probe on its own key
    but 100% on the other; z-order pays a small multiple on each key to
    avoid the 100% stripe on either (Delta/Iceberg OPTIMIZE ZORDER's
    pitch, made measurable; same Morton normalization as
    ``sink_zorder_layout``).

    Scale shape: one scan feeds three codegen'd bucket assignments
    (equal-WIDTH key ranges, not ntile — no global sort anywhere), the
    stats relation is 3×16 rows, and the probe evaluation is a tiny
    broadcast cross product over it. On a real lake the stats relation
    IS the table's file-footer index, so this query runs off metadata
    alone — which is exactly how a format like Delta evaluates pruning.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    # The Morton fold is CPU-bound per row; a single-file testdata scan
    # would run it on one task (measured: 26× stage skew at 10×). Same
    # conditional spread as text_analysis._repartitioned_docs — shuffle
    # only when the scan is under-split relative to the cluster (a real
    # lake already has thousands of splits).
    n = spark.sparkContext.defaultParallelism
    if li.rdd.getNumPartitions() < n:
        li = li.repartition(n)
    mx = li.agg(
        (F.max("l_orderkey") + 1).alias("mo"),
        (F.max("l_partkey") + 1).alias("mp"),
    )
    keyed = li.crossJoin(F.broadcast(mx))
    # NOTE r17: the zorder sink swaps this fold for _morton_unrolled (6×
    # on its un-spread scan); HERE the interleaved A/B measured the HOF
    # FASTER (1.27 s vs 1.56 s median) — the explode×3 + partial-agg
    # stage dominates after the spread, and the 32-term flat expression
    # costs more inside the Generate input than the fold does. Kept.
    zval = F.expr(
        f"aggregate(sequence(0, 15), CAST(0 AS BIGINT), "
        "(acc, i) -> acc"
        " + shiftleft(CAST((shiftright((l_orderkey * 65536) div mo, i) & 1)"
        " AS BIGINT), 2 * i + 1)"
        " + shiftleft(CAST((shiftright((l_partkey * 65536) div mp, i) & 1)"
        " AS BIGINT), 2 * i))"
    )
    # ONE scan, all three assignments per row, exploded to (layout,
    # bucket) rows — a 3-leg UNION would scan three times AND skew the
    # stage ~30× (the Morton leg's fold costs ~16 integer ops/row while
    # the sort legs are one division; measured at 10×). float division
    # for the z bucket is EXACT: the divisor is a power of two (2^28),
    # so zval·2⁻²⁸ has no rounding and the long cast is a true floor —
    # identical to the oracle's integer //.
    zb = (zval / F.lit((1 << 32) // _SKIP_B)).cast("long")
    assigned = keyed.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("sort_orderkey").alias("layout"),
                    F.expr(f"(l_orderkey * {_SKIP_B}) div mo").alias(
                        "bucket"
                    ),
                ),
                F.struct(
                    F.lit("sort_partkey").alias("layout"),
                    F.expr(f"(l_partkey * {_SKIP_B}) div mp").alias(
                        "bucket"
                    ),
                ),
                F.struct(F.lit("zorder").alias("layout"), zb.alias("bucket")),
            )
        ).alias("lb"),
        "l_orderkey",
        "l_partkey",
    ).select("lb.layout", "lb.bucket", "l_orderkey", "l_partkey")
    stats = assigned.groupBy("layout", "bucket").agg(
        F.min("l_orderkey").alias("min_ok"),
        F.max("l_orderkey").alias("max_ok"),
        F.min("l_partkey").alias("min_pk"),
        F.max("l_partkey").alias("max_pk"),
    )
    js = spark.range(_SKIP_P).select(F.col("id").alias("j"))
    probes = (
        mx.crossJoin(js)
        .select(
            F.lit("orderkey").alias("probe_dim"),
            F.expr(f"(mo * (2 * j + 1)) div {2 * _SKIP_P}").alias("v"),
        )
        .unionAll(
            mx.crossJoin(js).select(
                F.lit("partkey"),
                F.expr(f"(mp * (2 * j + 1)) div {2 * _SKIP_P}"),
            )
        )
    )
    hit = F.when(
        (
            (F.col("probe_dim") == "orderkey")
            & F.col("v").between(F.col("min_ok"), F.col("max_ok"))
        )
        | (
            (F.col("probe_dim") == "partkey")
            & F.col("v").between(F.col("min_pk"), F.col("max_pk"))
        ),
        F.lit(1),
    ).otherwise(F.lit(0))
    return (
        stats.crossJoin(F.broadcast(probes))
        .select("layout", "probe_dim", hit.alias("hit"))
        .groupBy("layout", "probe_dim")
        .agg(
            F.expr(f"CAST(COUNT(1) / {_SKIP_P} AS BIGINT)").alias(
                "n_buckets"
            ),
            F.sum("hit").cast("long").alias("n_scanned_bucket_probes"),
            F.expr(
                "CAST(SUM(hit) * CAST(1000000 AS BIGINT)"
                " div COUNT(1) AS BIGINT)"
            ).alias("scan_ppm"),
        )
        .orderBy("layout", "probe_dim")
    )
