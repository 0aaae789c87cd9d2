"""Projection / filter / scalar-expression queries (SURVEY.md §2B).

Shapes mirror the reference's clean-transactions pipeline
(/root/reference/examples/databricks/transactions/silver/
nb_clean_transactions.py:40-48: SQL-string filter, arithmetic+cast,
to_date/hour extraction, select) and customer-summary rename/when-otherwise
(nb_create_customer_summary.py:36-49), re-expressed over the test lake.

Scale notes (100 TB): all pure narrow transformations — no shuffle at all.
Filters and column selection are expressed declaratively so Catalyst pushes
predicates into the parquet scan (PushedFilters) and prunes unread columns
(ReadSchema). Everything stays inside whole-stage codegen; no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jorvik_spark.tables import load_table
from jorvik_spark.queries.registry import query, sql_units, units


@query(
    "project_select",
    oracle="SELECT p_partkey, p_name, p_retailprice FROM part",
)
def project_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column projection — prunes the scan to 3 of 6 columns (ReadSchema)."""
    return load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_retailprice"
    )


@query(
    "project_rename",
    oracle="""
    SELECT c_custkey AS customer_id, c_name AS customer_name,
           c_mktsegment AS segment
    FROM customer
    """,
)
def project_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rename via withColumnRenamed (reference nb_create_customer_summary:48)."""
    return (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_name", "c_mktsegment")
        .withColumnRenamed("c_custkey", "customer_id")
        .withColumnRenamed("c_name", "customer_name")
        .withColumnRenamed("c_mktsegment", "segment")
    )


@query(
    "filter_predicate",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_discount
    FROM lineitem WHERE l_quantity > 45 AND l_discount < 0.02
    """,
)
def filter_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-string predicate filter (reference .filter("quantity > 0") shape).

    The string predicate parses to the same Catalyst expression as the
    column form → pushed to the parquet scan.
    """
    return (
        load_table(spark, sf_dir, "lineitem")
        .filter("l_quantity > 45 AND l_discount < 0.02")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
    )


@query(
    "filter_isin",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_orderpriority
    FROM orders
    WHERE o_orderstatus IN ('F', 'P') AND o_orderpriority = '1-URGENT'
    """,
)
def filter_isin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-expression filter with isin (reference isolation.py:108 shape)."""
    o = load_table(spark, sf_dir, "orders")
    return o.filter(
        F.col("o_orderstatus").isin("F", "P")
        & (F.col("o_orderpriority") == "1-URGENT")
    ).select("o_orderkey", "o_orderstatus", "o_orderpriority")


@query(
    "expr_arith_cast",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(l_quantity * l_extendedprice AS REAL) AS line_total,
           CAST(floor(l_quantity) AS INTEGER) AS qty_int
    FROM lineitem WHERE l_linenumber = 1
    """,
)
def expr_arith_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arithmetic computed column + cast (reference nb_clean_transactions:42).

    Both engines compute in double and round once to float32 → bitwise
    identical results for line_total. The int conversion goes through an
    explicit floor mirrored in the oracle: a bare double→int CAST
    diverges between engines (Spark truncates toward zero, DuckDB
    rounds) the moment a quantity is non-integral.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") == 1)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_quantity") * F.col("l_extendedprice"))
        .cast("float")
        .alias("line_total"),
        F.floor("l_quantity").cast("int").alias("qty_int"),
    )


@query(
    "expr_case_when",
    oracle="""
    SELECT c_custkey,
           CASE WHEN c_acctbal < 0 THEN 'debt'
                WHEN c_acctbal < 5000 THEN 'regular'
                ELSE 'premium' END AS balance_tier
    FROM customer
    """,
)
def expr_case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    """when/otherwise CASE buckets (reference nb_create_customer_summary:36-41)."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, "debt")
        .when(F.col("c_acctbal") < 5000, "regular")
        .otherwise("premium")
        .alias("balance_tier"),
    )


@query(
    "expr_date_parts",
    oracle="""
    SELECT event_id,
           date_trunc('day', CAST(ts AS TIMESTAMP)) AS event_date,
           CAST(EXTRACT(year FROM CAST(ts AS TIMESTAMP)) AS BIGINT) AS event_year,
           CAST(EXTRACT(month FROM CAST(ts AS TIMESTAMP)) AS BIGINT) AS event_month,
           CAST(EXTRACT(hour FROM CAST(ts AS TIMESTAMP)) AS BIGINT) AS event_hour
    FROM events WHERE event_id < 2000
    """,
)
def expr_date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """to_date / year / month / hour extraction (reference nb_clean:43-44).

    The oracle casts ``ts`` to µs-resolution TIMESTAMP explicitly so the
    SQL works whether the DuckDB view exposes raw TIMESTAMP_NS or the
    normalized form (no-op in the latter case).
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    return ev.select(
        "event_id",
        # date_trunc keeps TIMESTAMP type — dates render identically across
        # Spark/DuckDB/pandas, unlike DATE (datetime.date vs datetime64).
        F.date_trunc("day", "ts").alias("event_date"),
        F.year("ts").cast("long").alias("event_year"),
        F.month("ts").cast("long").alias("event_month"),
        F.hour("ts").cast("long").alias("event_hour"),
    )


@query(
    "expr_string_funcs",
    oracle="""
    SELECT p_partkey,
           UPPER(p_name) AS name_upper,
           LOWER(p_brand) AS brand_lower,
           SUBSTR(p_name, 1, 8) AS name_prefix,
           CAST(LENGTH(p_name) AS INTEGER) AS name_len,
           regexp_extract(p_name, '^([a-z]+)', 1) AS first_word,
           regexp_replace(p_name, ' ', '_', 'g') AS name_snake
    FROM part
    """,
)
def expr_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String/regex scalar functions over part.p_name (§2B gap-fill)."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.lower("p_brand").alias("brand_lower"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.length("p_name").alias("name_len"),
        F.regexp_extract("p_name", r"^([a-z]+)", 1).alias("first_word"),
        F.regexp_replace("p_name", " ", "_").alias("name_snake"),
    )


@query(
    "expr_json_extract",
    oracle="""
    WITH safe AS (
        SELECT event_id, event_type,
               TRY_CAST(json_extract(
                   CASE WHEN json_valid(props) THEN props END, '$.k')
                 AS BIGINT) AS k
        FROM events)
    SELECT event_id, event_type, k, k % 10 AS k_mod
    FROM safe WHERE k >= 50
    """,
)
def expr_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction from the events.props string column.

    ``get_json_object`` evaluates JVM-side inside codegen — semi-structured
    columns at 100 TB never need a Python parse. For repeated multi-field
    access, ``from_json`` with a declared schema amortizes the parse once;
    single-field access like this stays with the path extractor.

    Declared dirty-input semantics (pinned by test_dirty_events.py):
    malformed JSON, a missing key, and a non-numeric value all yield
    NULL — Spark's extractor+cast does this natively; the oracle needs
    json_valid + TRY_CAST because DuckDB's json_extract THROWS on
    malformed input (a 100 TB crawl will contain it, so null-and-drop
    is the only semantics that survives contact with real props).
    """
    ev = load_table(spark, sf_dir, "events")
    # try_cast, not cast: under ANSI mode (Spark 4 default) a plain cast
    # on a non-numeric extracted value kills the job.
    k = F.get_json_object("props", "$.k").try_cast("long")
    return (
        ev.select(
            "event_id",
            "event_type",
            k.alias("k"),
            (k % 10).alias("k_mod"),
        )
        .filter(F.col("k") >= 50)
    )


@query(
    "expr_array_higher_order",
    # The oracle states the VALUE semantics relationally (per-order
    # aggregates over the rows); the Spark side computes the same values
    # through the array higher-order-function pipeline it demonstrates.
    oracle=f"""
    SELECT l_orderkey,
           CAST(COUNT(*) AS INTEGER) AS n_lines,
           CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT)
               AS total_qty,
           CAST(SUM(CASE WHEN floor(l_quantity) >= 30 THEN 1 ELSE 0 END)
                AS INTEGER) AS n_heavy,
           bool_or(floor(l_quantity) = 50) AS has_qty50,
           CAST(SUM(CAST(floor(l_quantity) AS BIGINT)
                    * {sql_units('l_extendedprice')}) AS BIGINT) AS revenue_units
    FROM lineitem GROUP BY l_orderkey
    """,
)
def expr_array_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order functions — ``transform`` / ``filter`` /
    ``exists`` / ``zip_with`` / ``aggregate`` over a per-order line
    array. HOFs run as Catalyst lambda expressions INSIDE whole-stage
    codegen: the idiomatic way to compute over array columns (token
    lists, embeddings, event traces) without any Python round-trip.

    The array is built with ``sort_array(collect_list(struct(...)))`` —
    collect_list order is partition-dependent, so the sort (on the
    unique line number) is what makes the array, and everything derived
    from it, deterministic. Values are quantized to integer units BEFORE
    entering the arrays (floor qty; 1e-6 price units), so every lambda
    accumulates exact integers — order-independent and engine-exact,
    per the registry's fixed-point convention.

    Scale: one shuffle (the groupBy); per-order arrays are bounded
    (≤7 lineitems), so array rows never approach task-memory limits —
    the pattern to avoid is collect_list over an UNBOUNDED group.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.floor("l_quantity").alias("q"),
        units("l_extendedprice").alias(
            "p_units"
        ),
    )
    arr = li.groupBy("l_orderkey").agg(
        F.sort_array(
            F.collect_list(F.struct("l_linenumber", "q", "p_units"))
        ).alias("lines")
    )
    return arr.select(
        "l_orderkey",
        F.size("lines").alias("n_lines"),
        F.expr(
            "aggregate(transform(lines, x -> x.q),"
            " CAST(0 AS BIGINT), (a, x) -> a + x)"
        ).alias("total_qty"),
        F.expr("size(filter(lines, x -> x.q >= 30))").alias("n_heavy"),
        F.expr("exists(lines, x -> x.q = 50)").alias("has_qty50"),
        F.expr(
            "aggregate(zip_with(transform(lines, x -> x.q),"
            " transform(lines, x -> x.p_units), (q, p) -> q * p),"
            " CAST(0 AS BIGINT), (a, x) -> a + x)"
        ).alias("revenue_units"),
    )


@query(
    "expr_variant_json",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           CAST(json_extract_string(props, '$.k') AS BIGINT) % 7 AS k_mod7,
           json_extract_string(props, '$.absent') AS absent_field
    FROM events
    WHERE props IS NOT NULL
      AND CAST(json_extract_string(props, '$.k') AS BIGINT) >= 40
    """,
)
def expr_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access through the VARIANT type (Spark 4):
    ``parse_json`` decodes the JSON string ONCE into variant's binary
    encoding, then ``variant_get`` extractions are cheap typed reads —
    the lakehouse upgrade over ``get_json_object`` (expr_json_extract's
    path), which re-parses the string per extraction expression. With
    repeated multi-field access at 100 TB the parse-once economics
    dominate; columns whose JSON is accessed often should be STORED as
    variant so the scan itself skips string parsing.

    ``variant_get`` on a missing path returns NULL (not an error) —
    mirrored by the oracle's json_extract of ``$.absent``. The variant
    itself never leaves the plan: outputs are extracted primitives, so
    the result is engine-comparable.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("props").isNotNull())
    k = F.expr("variant_get(parse_json(props), '$.k', 'long')")
    return (
        ev.select(
            "event_id",
            k.alias("k"),
            (k % 7).alias("k_mod7"),
            F.expr(
                "variant_get(parse_json(props), '$.absent', 'string')"
            ).alias("absent_field"),
        )
        .filter(F.col("k") >= 40)
    )
