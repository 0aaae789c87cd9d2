"""Data-quality audit queries (SURVEY.md §2B gap-fill: profiling and
expectation checks — the Deequ/Great-Expectations job shapes).

The reference's audit surface is schema-level only
(/root/reference/jorvik/audit/schemas.py — is_subset / are_equal on
StructTypes, re-implemented in jorvik_spark/audit/schemas.py). A lake
engine also needs DATA-level audits: column profiles (null/distinct/
bounds) and constraint suites (keys, foreign keys, ranges) that run as
ordinary aggregation plans over the full table. Both queries here emit
small per-column / per-check report rows, so the audit of a 100 TB table
returns kilobytes.

Scale notes: the profile is one full scan with map-side-combined
aggregates; the multi-column exact distinct counts expand the scan
|distinct-aggs|-fold (Catalyst's Expand), which is the documented cost
of exactness — the bounded column list keeps it a small constant, and
the 100 TB variant swaps in approx_count_distinct per column (1 pass, no
expand) at the cost of hash-checkability. The constraint suite is
anti-join counts (broadcast or shuffled-hash as AQE decides) plus narrow
predicate counts — each check is the cheapest plan that can prove its
violation count is zero.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from jorvik_spark.tables import load_table, spread_scan
from jorvik_spark.queries.registry import (
    octave,
    query,
    sql_octave,
    sql_units,
    units,
)

# Columns profiled by audit_column_profile — a fixed, small list: each
# exact distinct count multiplies the scan via Expand, so profiling is
# "pick your columns", not "all 400 of them exactly".
_PROFILE_COLS = ["o_orderstatus", "o_orderpriority", "o_custkey", "o_totalprice"]


@query(
    "audit_column_profile",
    oracle="""
    WITH agg AS (
        SELECT COUNT(*) AS n_rows,
               COUNT(o_orderstatus) AS nn1, COUNT(DISTINCT o_orderstatus) AS nd1,
               CAST(MIN(o_orderstatus) AS VARCHAR) AS mn1,
               CAST(MAX(o_orderstatus) AS VARCHAR) AS mx1,
               COUNT(o_orderpriority) AS nn2, COUNT(DISTINCT o_orderpriority) AS nd2,
               CAST(MIN(o_orderpriority) AS VARCHAR) AS mn2,
               CAST(MAX(o_orderpriority) AS VARCHAR) AS mx2,
               COUNT(o_custkey) AS nn3, COUNT(DISTINCT o_custkey) AS nd3,
               CAST(MIN(o_custkey) AS VARCHAR) AS mn3,
               CAST(MAX(o_custkey) AS VARCHAR) AS mx3,
               COUNT(o_totalprice) AS nn4, COUNT(DISTINCT o_totalprice) AS nd4,
               CAST(MIN(o_totalprice) AS VARCHAR) AS mn4,
               CAST(MAX(o_totalprice) AS VARCHAR) AS mx4
        FROM orders)
    SELECT 'o_orderstatus' AS column_name, CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_rows - nn1 AS BIGINT) AS n_nulls,
           CAST(nd1 AS BIGINT) AS n_distinct, mn1 AS min_value, mx1 AS max_value
    FROM agg
    UNION ALL
    SELECT 'o_orderpriority', CAST(n_rows AS BIGINT),
           CAST(n_rows - nn2 AS BIGINT), CAST(nd2 AS BIGINT), mn2, mx2 FROM agg
    UNION ALL
    SELECT 'o_custkey', CAST(n_rows AS BIGINT),
           CAST(n_rows - nn3 AS BIGINT), CAST(nd3 AS BIGINT), mn3, mx3 FROM agg
    UNION ALL
    SELECT 'o_totalprice', CAST(n_rows AS BIGINT),
           CAST(n_rows - nn4 AS BIGINT), CAST(nd4 AS BIGINT), mn4, mx4 FROM agg
    """,
)
def audit_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column data profile of ``orders`` in ONE scan: row count, null
    count, exact distinct count, min/max (stringified for a uniform
    report schema) — the table-health report a curation pipeline runs
    before trusting a new drop of data.

    All per-column statistics are computed in a single wide aggregate
    (one scan, one reduce), then reshaped to one report row per column
    with ``stack`` — never one job per column (the naive profiler runs
    4 scans here and 400 on a real table). min/max are cast to string
    AFTER aggregation, so the comparison order is each column's native
    type, not lexicographic.

    float-column caveat, stated because o_totalprice exercises it: the
    stringified double min/max round-trips exactly in both engines only
    because Spark and DuckDB print shortest-round-trip doubles; decimals
    are the production choice for money audits.
    """
    # r17: four different-column exact distincts plan as an Expand (×5
    # rows) feeding the partial aggregate INSIDE the scan stage — on an
    # under-split scan that runs one-core (guide §2.5). Project to the
    # profiled columns first, then conditionally spread (no-op on a
    # well-split lake; measured 1.7 s → 1.1 s at sf0.1).
    o = spread_scan(
        load_table(spark, sf_dir, "orders").select(*_PROFILE_COLS), spark
    )
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for i, c in enumerate(_PROFILE_COLS, 1):
        aggs += [
            F.count(c).alias(f"nn{i}"),
            F.countDistinct(c).alias(f"nd{i}"),
            F.min(c).cast("string").alias(f"mn{i}"),
            F.max(c).cast("string").alias(f"mx{i}"),
        ]
    wide = o.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', n_rows - nn{i}, nd{i}, mn{i}, mx{i}"
        for i, c in enumerate(_PROFILE_COLS, 1)
    )
    return wide.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack_args})"
            " AS (column_name, n_nulls, n_distinct, min_value, max_value)"
        ),
        "n_rows",
    ).select(
        "column_name",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_nulls").cast("long").alias("n_nulls"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        "min_value",
        "max_value",
    )


@query(
    "audit_referential_integrity",
    oracle="""
    SELECT 'pk_orders_unique' AS check_name,
           CAST((SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders)
                AS BIGINT) AS n_violations
    UNION ALL
    SELECT 'fk_orders_customer',
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE o.o_custkey IS NOT NULL AND NOT EXISTS
                       (SELECT 1 FROM customer c
                        WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
    UNION ALL
    SELECT 'fk_lineitem_orders',
           CAST((SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
                 (SELECT 1 FROM orders o
                  WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
    UNION ALL
    SELECT 'range_quantity_positive',
           CAST((SELECT COUNT(*) FROM lineitem WHERE l_quantity <= 0)
                AS BIGINT)
    UNION ALL
    SELECT 'nonnull_orderdate',
           CAST((SELECT COUNT(*) FROM orders WHERE o_orderdate IS NULL)
                AS BIGINT)
    """,
)
def audit_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint-suite audit: five expectation checks — primary-key
    uniqueness, two foreign-key orphan counts, a value-range rule, a
    not-null rule — each reported as (check_name, n_violations). The
    contract a pipeline asserts before publishing a table: every
    violation count must be 0 (and on this lake they are, which is
    itself the checked value).

    Plan shapes, chosen per check: PK uniqueness is count minus exact
    distinct (one map-combined pass — never a groupBy-then-count-dups
    materialization of the key space); FK orphans are LEFT ANTI joins
    (AQE broadcasts the customer side; lineitem→orders stays a shuffled
    join on the already-co-partitioned key) aggregated to a single
    count; range/null rules are pushed-down predicate counts. The five
    single-row results union into the report — each branch scans only
    the columns its check needs.
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    lineitem = load_table(spark, sf_dir, "lineitem")

    def one(name: str, cnt: DataFrame) -> DataFrame:
        return cnt.select(
            F.lit(name).alias("check_name"),
            F.col("n").cast("long").alias("n_violations"),
        )

    pk = one(
        "pk_orders_unique",
        orders.agg(
            (F.count("o_orderkey") - F.countDistinct("o_orderkey")).alias("n")
        ),
    )
    fk_oc = one(
        "fk_orders_customer",
        orders.filter(F.col("o_custkey").isNotNull())
        .join(customer, orders.o_custkey == customer.c_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("n")),
    )
    fk_lo = one(
        "fk_lineitem_orders",
        lineitem.join(
            orders, lineitem.l_orderkey == orders.o_orderkey, "left_anti"
        ).agg(F.count(F.lit(1)).alias("n")),
    )
    rng = one(
        "range_quantity_positive",
        lineitem.filter(F.col("l_quantity") <= 0).agg(
            F.count(F.lit(1)).alias("n")
        ),
    )
    nn = one(
        "nonnull_orderdate",
        orders.filter(F.col("o_orderdate").isNull()).agg(
            F.count(F.lit(1)).alias("n")
        ),
    )
    return pk.unionByName(fk_oc).unionByName(fk_lo).unionByName(rng).unionByName(nn)


# Join keys audited by audit_join_key_skew: the three lineitem foreign
# keys every TPC-H-shaped join shuffles on. Fixed small list — each
# audited key is one map-combined (key → count) aggregate.
_SKEW_KEYS = ["l_orderkey", "l_partkey", "l_suppkey"]


@query(
    "audit_join_key_skew",
    oracle="""
    WITH pairs AS (
        SELECT 'l_orderkey' AS key_name, CAST(l_orderkey AS BIGINT) AS k
        FROM lineitem
        UNION ALL
        SELECT 'l_partkey', CAST(l_partkey AS BIGINT) FROM lineitem
        UNION ALL
        SELECT 'l_suppkey', CAST(l_suppkey AS BIGINT) FROM lineitem),
    freq AS (
        SELECT key_name, k, COUNT(*) AS c
        FROM pairs GROUP BY key_name, k),
    ranked AS (
        SELECT key_name, k, c,
               ROW_NUMBER() OVER (PARTITION BY key_name
                                  ORDER BY c DESC, k) AS rnk
        FROM freq)
    SELECT key_name,
           CAST(SUM(c) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(MAX(c) AS BIGINT) AS max_freq,
           CAST((MAX(c) * COUNT(*) * 1000000) // SUM(c) AS BIGINT)
               AS skew_x_ppm,
           CAST((SUM(CASE WHEN rnk <= 10 THEN c ELSE 0 END) * 1000000)
                // SUM(c) AS BIGINT) AS top10_share_ppm
    FROM ranked GROUP BY key_name ORDER BY key_name
    """,
)
def audit_join_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew audit over lineitem's three foreign keys: per key
    column, the cardinality, hottest-key frequency, skew factor
    (max_freq / mean_freq, in exact integer ppm — 1 000 000 = perfectly
    uniform) and the top-10 keys' share of all rows. THE pre-flight a
    pipeline runs before shuffling 100 TB on a key: skew_x ≳ 20× says
    salt the join (``join_skew_salted``) or let AQE's skew-join split
    that partition, and top10_share quantifies how concentrated the
    remedy needs to be.

    Scale shape: one unpivot (Expand — |keys|× the scan, the documented
    exactness cost, same trade as ``audit_column_profile``), one
    map-side-combinable (key_name, k) count, then a key_name-partitioned
    top-k window over the ALREADY-aggregated frequency relation (≤
    |distinct keys| rows) and a 3-row report. No collect, no floats.
    """
    li = load_table(spark, sf_dir, "lineitem")
    stack = ", ".join(f"'{k}', CAST({k} AS BIGINT)" for k in _SKEW_KEYS)
    pairs = li.select(
        F.expr(f"stack({len(_SKEW_KEYS)}, {stack}) AS (key_name, k)")
    )
    freq = pairs.groupBy("key_name", "k").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("key_name").orderBy(F.desc("c"), "k")
    return (
        freq.withColumn("rnk", F.row_number().over(w))
        .groupBy("key_name")
        .agg(
            F.sum("c").cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.max("c").cast("long").alias("max_freq"),
            F.expr(
                "CAST((MAX(c) * COUNT(1) * CAST(1000000 AS BIGINT))"
                " div SUM(c) AS BIGINT)"
            ).alias("skew_x_ppm"),
            F.expr(
                "CAST((SUM(CASE WHEN rnk <= 10 THEN c ELSE 0 END)"
                " * CAST(1000000 AS BIGINT)) div SUM(c) AS BIGINT)"
            ).alias("top10_share_ppm"),
        )
        .orderBy("key_name")
    )


# --- round 12 wave 2: event-time lateness census -------------------------


@query(
    "audit_event_lateness",
    oracle=f"""
    WITH ev AS (
        SELECT user_id, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS t
        FROM events WHERE ts IS NOT NULL),
    late AS (
        SELECT user_id,
               (MAX(t) OVER (PARTITION BY user_id ORDER BY event_id
                             ROWS UNBOUNDED PRECEDING) - t)
               // 1000000 AS late_s
        FROM ev)
    SELECT {sql_octave('late_s')}
               AS lateness_bits,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MAX(late_s) AS BIGINT) AS max_lateness_s,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM late GROUP BY lateness_bits ORDER BY lateness_bits
    """,
)
def audit_event_lateness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-orderness census: how LATE events arrive relative to the
    newest event time already seen on their key's stream (arrival order
    = event_id, the ingest sequence number) — THE number that sizes
    every streaming watermark in this engine (a watermark shorter than
    the observed lateness tail silently drops those events; one longer
    than needed holds state hostage). Bucketed by bit-length octaves of
    lateness seconds, bucket 0 = in-order.
    ``jorvik_spark.streaming.suggest_watermark`` is the consumer: it
    reads this histogram off any DataFrame and returns the smallest
    octave-edge delay covering a target event fraction (tests pin the
    two against each other).

    Scale shape: one user-keyed sort exchange (the same shuffle any
    sessionization pays) carrying a running-MAX frame, then a
    map-combined census to ≤ ~40 octave rows. The distinct-user count
    per bucket rides the same aggregate.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select("user_id", "event_id", F.unix_micros("ts").alias("t"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    late = ev.withColumn("mx", F.max("t").over(w)).withColumn(
        "late_s", F.expr("CAST((mx - t) div 1000000 AS BIGINT)")
    )
    bits = octave("late_s")
    return (
        late.groupBy(bits.alias("lateness_bits"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.max("late_s").cast("long").alias("max_lateness_s"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
        .orderBy("lateness_bits")
    )


# --- round 12 wave 3: lake-wide primary-key census ------------------------

# Declared primary key per lake table. A fixed catalog-sized list — the
# audit scans each table ONCE reading only its key columns.
_TABLE_KEYS: list[tuple[str, list[str]]] = [
    ("customer", ["c_custkey"]),
    ("documents", ["doc_id"]),
    ("embeddings", ["vec_id"]),
    ("events", ["event_id"]),
    ("lineitem", ["l_orderkey", "l_linenumber"]),
    ("nation", ["n_nationkey"]),
    ("orders", ["o_orderkey"]),
    ("part", ["p_partkey"]),
    ("region", ["r_regionkey"]),
    ("supplier", ["s_suppkey"]),
]


def _pk_oracle() -> str:
    parts = []
    for t, keys in _TABLE_KEYS:
        nn = " AND ".join(f"{k} IS NOT NULL" for k in keys)
        tup = keys[0] if len(keys) == 1 else "(" + ", ".join(keys) + ")"
        # FILTER the distinct count too: DuckDB's COUNT(DISTINCT (a,b))
        # counts a partially-null row-value as distinct, while Spark's
        # countDistinct skips any-null tuples — declare the shared
        # semantics (distinct among fully-non-null keys) explicitly.
        parts.append(f"""
    SELECT '{t}' AS table_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) FILTER ({nn}) AS BIGINT) AS n_keys,
           CAST(COUNT(DISTINCT {tup}) FILTER ({nn}) AS BIGINT)
               AS n_distinct,
           CAST(COUNT(*) FILTER ({nn})
                - COUNT(DISTINCT {tup}) FILTER ({nn})
                AS BIGINT) AS n_dup_rows
    FROM {t}""")
    return "\n    UNION ALL".join(parts) + "\n    ORDER BY table_name"


@query("audit_primary_keys", oracle=_pk_oracle())
def audit_primary_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lake-wide primary-key census: for every table, total rows,
    rows with a fully non-null key, exact distinct keys, and duplicate
    excess (``n_keys - n_distinct``) — the publish-gate companion to
    :func:`audit_referential_integrity`, which asserts ONE table's PK;
    this one sweeps the whole lake so an ingestion bug that duplicated
    any table (a retried write, a replayed stream) surfaces no matter
    where it landed. Composite keys supported (lineitem's
    (l_orderkey, l_linenumber)).

    Scale shape: one map-combined exact-distinct aggregate per table,
    scanning ONLY the key columns (column pruning — verify ReadSchema
    in the plan); the 10 single-row branches union into the report.
    No joins and no groupBy materialization of any key space: the
    distinct count is Spark's standard two-phase partial aggregate, so
    per-task state is bounded by per-partition distinct keys at any
    corpus size. Null-key rows are counted out of ``n_keys`` on both
    engines by declared semantics (Spark's countDistinct skips
    any-null tuples; the oracle FILTERs the same predicate).
    """
    out: DataFrame | None = None
    for t, keys in _TABLE_KEYS:
        df = load_table(spark, sf_dir, t).select(*keys)
        if t in ("lineitem", "orders", "events"):
            # r17: the fact tables' exact-distinct PARTIAL aggregate is
            # the query's wall and fuses into the scan stage — on an
            # under-split scan it hashes the whole key space on one core
            # (guide §2.5). spread_scan no-ops on a well-split lake; the
            # dimension tables stay unspread (exchange > gain there).
            df = spread_scan(df, spark)
        nn = F.lit(True)
        for k in keys:
            nn = nn & F.col(k).isNotNull()
        row = df.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.count(F.when(nn, 1)).cast("long").alias("n_keys"),
            F.countDistinct(*keys).cast("long").alias("n_distinct"),
        ).select(
            F.lit(t).alias("table_name"),
            "n_rows",
            "n_keys",
            "n_distinct",
            (F.col("n_keys") - F.col("n_distinct"))
            .cast("long")
            .alias("n_dup_rows"),
        )
        out = row if out is None else out.unionByName(row)
    assert out is not None
    return out.orderBy("table_name")


# --- round 13: Benford first-digit audit -------------------------------------

# Benford expected first-significant-digit shares, pre-rounded to exact
# integer ppm (floor(log10(1+1/d)*1e6 + 0.5)). Hardcoded as literals on
# BOTH engines rather than computed via log10 at runtime: the nine values
# are mathematical constants, and a libm log10 ulp difference between
# JVMs/DuckDB could otherwise straddle the ppm rounding. They sum to
# exactly 1_000_000.
_BENFORD_PPM = [301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153, 45757]
assert sum(_BENFORD_PPM) == 1_000_000
# A digit's chi-square term (observed - expected)² / expected, in doubles
# over exact integer ppm counts, on both engines.
_CHI2 = (
    "(CAST(n_obs * 1000000 - n_total * exp_ppm AS DOUBLE) / 1000000)"
    " * (CAST(n_obs * 1000000 - n_total * exp_ppm AS DOUBLE) / 1000000)"
    " / (CAST(n_total * exp_ppm AS DOUBLE) / 1000000)"
)


@query(
    "audit_benford_digits",
    oracle=f"""
    WITH obs AS (
        SELECT CAST(substr(CAST(CAST(floor(l_extendedprice * 100 + 0.5)
                                    AS BIGINT) AS VARCHAR), 1, 1)
                    AS INTEGER) AS digit,
               COUNT(*) AS n
        FROM lineitem
        WHERE l_extendedprice IS NOT NULL AND l_extendedprice > 0
        GROUP BY 1),
    d AS (SELECT CAST(unnest(generate_series(1, 9)) AS INTEGER) AS digit),
    j AS (
        SELECT d.digit,
               CAST(SUM(coalesce(o.n, 0)) OVER () AS BIGINT) AS n_total,
               CAST(coalesce(o.n, 0) AS BIGINT) AS n_obs,
               CAST(([{', '.join(str(v) for v in _BENFORD_PPM)}])[d.digit]
                    AS BIGINT) AS exp_ppm
        FROM d LEFT JOIN obs o ON o.digit = d.digit)
    SELECT j.digit,
           j.n_obs,
           CASE WHEN j.n_total = 0 THEN NULL
                ELSE CAST(j.n_obs * 1000000 // j.n_total AS BIGINT)
           END AS obs_ppm,
           j.exp_ppm,
           CASE WHEN j.n_total = 0 THEN NULL
                ELSE {sql_units(_CHI2)}
           END AS chi2_contrib_u
    FROM j
    ORDER BY digit
    """,
)
def audit_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit census of ``l_extendedprice`` against
    Benford's law, with per-digit chi-squared contributions — the
    classic fabricated-/corrupted-amounts screen a lake audit runs on
    money columns (a synthesizer bug, a unit mix-up, or an injected
    constant shows up as one digit's chi2 term dwarfing the rest;
    TPC-H prices are NOT Benford-distributed, which the census itself
    makes visible — the audit reports the distribution, thresholding
    is the caller's policy).

    Cross-engine mechanics: the first digit is taken from the decimal
    string of the exact cents integer (``floor(price*100 + 0.5)``), so
    no log10 is evaluated at runtime; expected shares are hardcoded
    exact-ppm literals (see ``_BENFORD_PPM``); the chi2 contribution is
    one fixed dag of IEEE double ops on exact integer inputs, quantized
    half-up to micro-units on both engines.

    Scale shape: ONE map-side-combined 9-group aggregate over the fact
    table (the scan reads one column — verify ReadSchema); the digit
    frame, total, and expected-share attach are single-row/9-row
    broadcast-sized joins. Report is 9 rows at any corpus size.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_extendedprice").isNotNull() & (F.col("l_extendedprice") > 0)
    )
    cents = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    obs = (
        li.select(F.substring(cents.cast("string"), 1, 1).cast("int").alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    digits = spark.range(1, 10).select(F.col("id").cast("int").alias("digit"))
    exp_ppm = F.element_at(
        F.array(*[F.lit(v).cast("long") for v in _BENFORD_PPM]), F.col("digit")
    )
    j = (
        digits.join(F.broadcast(obs), "digit", "left")
        .select(
            "digit",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_obs"),
            exp_ppm.alias("exp_ppm"),
        )
        # the grand total comes from an unpartitioned window over the
        # REPORT frame — provably 9 rows by construction (the digit
        # frame bounds it), so this is not a global-window hazard, and
        # it saves the second fact-table scan a scalar crossJoin of
        # obs.agg() would cost (obs is not persisted; Spark would
        # recompute it from the scan)
        .withColumn(
            "n_total",
            F.sum("n_obs").over(Window.partitionBy()).cast("long"),
        )
    )
    # n_total = 0 guard (all prices NULL/non-positive): obs_ppm's int
    # div-by-zero NULLs on both engines, but the chi2 term is 0/0 → NaN,
    # and DuckDB's CAST(floor(NaN) AS BIGINT) raises where Spark's cast
    # yields a value — so the degenerate report is pinned to NULL on
    # BOTH engines explicitly.
    empty = F.col("n_total") == 0
    return j.select(
        "digit",
        "n_obs",
        F.when(empty, F.lit(None).cast("long"))
        .otherwise(
            F.expr("CAST(n_obs * CAST(1000000 AS BIGINT) div n_total AS BIGINT)")
        )
        .alias("obs_ppm"),
        "exp_ppm",
        F.when(empty, F.lit(None).cast("long"))
        .otherwise(units(_CHI2))
        .alias("chi2_contrib_u"),
    ).orderBy("digit")


# --- round 13: candidate functional-dependency census ------------------------

# Candidate FDs audited by audit_functional_dependencies: a fixed battery
# mixing dependencies that HOLD in this lake's shape (entity names embed
# their keys; a nation key determines its region) with ones that do NOT
# (a nation does not determine a market segment; a source does not pin a
# language) — so the census is non-trivial in both directions at every
# SF. Each entry is (fd_name, table, determinant_sql, dependent_sql); the
# SQL fragments are engine-portable (substr/CAST/column refs only) and
# are interpolated into BOTH the Spark plan (F.expr) and the DuckDB
# oracle, so the battery can never diverge between engines.
_FD_CANDIDATES = [
    ("customer_name_key", "customer", "c_name", "c_custkey"),
    ("supplier_name_key", "supplier", "s_name", "s_suppkey"),
    ("nation_key_region", "nation", "n_nationkey", "n_regionkey"),
    ("customer_nation_mktsegment", "customer", "c_nationkey", "c_mktsegment"),
    ("part_brand_type", "part", "p_brand", "p_type"),
    ("orders_cust_priority", "orders", "o_custkey", "o_orderpriority"),
    ("documents_source_lang", "documents", "source", "lang"),
    (
        "lineitem_shipyear_flag",
        "lineitem",
        # STRING is the one cast alias both parsers accept (Spark rejects
        # bare VARCHAR, DuckDB aliases STRING → VARCHAR); dates render
        # 'yyyy-MM-dd' on both engines.
        "substr(CAST(l_shipdate AS STRING), 1, 4)",
        "l_returnflag",
    ),
]

_SQL_FD_BRANCH = """
    SELECT '{name}' AS fd_name,
           '{table}' AS table_name,
           '{det}' AS determinant,
           '{dep}' AS dependent,
           CAST(COUNT(*) AS BIGINT) AS n_det_values,
           CAST(SUM(CASE WHEN dc > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating_keys,
           CAST(SUM(CASE WHEN dc > 1 THEN rc ELSE 0 END) AS BIGINT)
               AS n_violating_rows,
           CAST(CASE WHEN SUM(CASE WHEN dc > 1 THEN 1 ELSE 0 END) = 0
                THEN 1 ELSE 0 END AS INTEGER) AS holds
    FROM (SELECT {det} AS k,
                 COUNT(DISTINCT {dep}) AS dc,
                 COUNT(*) AS rc
          FROM {table}
          WHERE {det} IS NOT NULL
          GROUP BY 1)
"""


@query(
    "audit_functional_dependencies",
    oracle=(
        "SELECT * FROM ("
        + " UNION ALL ".join(
            _SQL_FD_BRANCH.format(name=n, table=t, det=det, dep=dep)
            for n, t, det, dep in _FD_CANDIDATES
        )
        + ") ORDER BY fd_name"
    ),
)
def audit_functional_dependencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate functional-dependency census: for each declared
    ``determinant → dependent`` candidate, how many determinant values
    exist, how many map to MORE than one dependent value (FD
    violations), and how many rows sit inside violating groups — the
    discovery/monitoring audit behind normalization checks and silent
    denormalization-drift alarms (a dimension attribute that used to be
    determined by its key and suddenly is not means an upstream merge
    bug). The battery (``_FD_CANDIDATES``) deliberately mixes FDs that
    hold with ones that don't, so both report paths are exercised at
    every SF.

    Semantics declared identically on both engines: NULL-determinant
    rows are out of scope (filtered), and a NULL dependent never counts
    as a distinct value (both engines' COUNT(DISTINCT) skip NULLs) — a
    group {NULL, 'A'} is NOT a violation.

    Scale shape: one map-side-combined (determinant → distinct-dependent)
    aggregate per candidate, scanning only the two columns involved
    (column pruning), then a single-row rollup per candidate; the report
    unions |battery| rows. Per-task state is bounded by per-partition
    distinct determinants — no joins, no wide rows, nothing corpus-sized
    ever shuffles except the keyed partial-agg exchange itself.
    """
    out: DataFrame | None = None
    for name, table, det, dep in _FD_CANDIDATES:
        g = (
            load_table(spark, sf_dir, table)
            .filter(F.expr(det).isNotNull())
            .groupBy(F.expr(det).alias("k"))
            .agg(
                F.countDistinct(F.expr(dep)).alias("dc"),
                F.count(F.lit(1)).alias("rc"),
            )
        )
        viol = F.sum(F.when(F.col("dc") > 1, 1).otherwise(0))
        row = g.agg(
            F.count(F.lit(1)).cast("long").alias("n_det_values"),
            viol.cast("long").alias("n_violating_keys"),
            F.sum(F.when(F.col("dc") > 1, F.col("rc")).otherwise(0))
            .cast("long")
            .alias("n_violating_rows"),
        ).select(
            F.lit(name).alias("fd_name"),
            F.lit(table).alias("table_name"),
            F.lit(det).alias("determinant"),
            F.lit(dep).alias("dependent"),
            "n_det_values",
            "n_violating_keys",
            (F.col("n_violating_keys") == 0).cast("int").alias("holds"),
            "n_violating_rows",
        )
        out = row if out is None else out.unionByName(row)
    assert out is not None
    return out.select(
        "fd_name",
        "table_name",
        "determinant",
        "dependent",
        "n_det_values",
        "n_violating_keys",
        "n_violating_rows",
        "holds",
    ).orderBy("fd_name")


# --- round 13: declarative value-expectation battery --------------------------

# Expectations audited by audit_value_expectations — the Deequ/Great-
# Expectations check-suite shape as ONE battery constant interpolated
# into both engines (same discipline as _FD_CANDIDATES). Each entry is
# (name, table, predicate_sql); a row VIOLATES when its predicate is
# not TRUE (NULL predicate = violation — the conservative reading: an
# unevaluable expectation is not a pass). The battery mixes
# expectations that hold in this lake with ones that fail (account
# balances go negative by design), so both report paths stay exercised
# at every SF.
_VALUE_EXPECTATIONS = [
    (
        "lineitem_discount_unit_interval",
        "lineitem",
        "l_discount >= 0 AND l_discount <= 1",
    ),
    ("lineitem_quantity_positive", "lineitem", "l_quantity > 0"),
    ("orders_totalprice_positive", "orders", "o_totalprice > 0"),
    ("customer_acctbal_nonnegative", "customer", "c_acctbal >= 0"),
    ("supplier_acctbal_nonnegative", "supplier", "s_acctbal >= 0"),
    ("documents_nchars_consistent", "documents", "n_chars = length(text)"),
    ("events_value_positive_or_null", "events", "value IS NULL OR value > 0"),
    (
        "events_ts_not_before_epoch",
        "events",
        "ts IS NULL OR ts >= TIMESTAMP '2024-01-01 00:00:00'",
    ),
]

_SQL_EXPECT_BRANCH = """
    SELECT '{name}' AS expectation,
           '{table}' AS table_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN {pred} THEN 0 ELSE 1 END) AS BIGINT)
               AS n_violations,
           CAST(CASE WHEN SUM(CASE WHEN {pred} THEN 0 ELSE 1 END) = 0
                THEN 1 ELSE 0 END AS INTEGER) AS passes
    FROM {table}
"""


@query(
    "audit_value_expectations",
    oracle=(
        "SELECT * FROM ("
        + " UNION ALL ".join(
            _SQL_EXPECT_BRANCH.format(name=n, table=t, pred=p)
            for n, t, p in _VALUE_EXPECTATIONS
        )
        + ") ORDER BY expectation"
    ),
)
def audit_value_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative value-expectation battery: per expectation, the row
    count, violation count, and a pass flag — the publish-gate the
    Deequ / Great Expectations job family runs before a table is
    promoted (range checks, derived-column consistency, time-domain
    sanity). One battery constant (``_VALUE_EXPECTATIONS``) is
    interpolated into BOTH the Spark plan and the DuckDB oracle, so an
    expectation can never silently mean different things to the two
    engines. NULL predicates count as violations by declared semantics
    (an unevaluable check is not a pass) — expectations that tolerate
    NULL say so in their own predicate (``value IS NULL OR ...``).

    Complements the structural audits: ``audit_primary_keys`` asserts
    identity, ``audit_referential_integrity`` asserts links,
    ``audit_functional_dependencies`` asserts determinations — THIS
    asserts the values themselves.

    Scale shape: one narrow map-side-combined two-counter aggregate per
    expectation, scanning only the predicate's columns (column
    pruning); no joins, no groupBy key space, report = |battery| rows
    at any corpus size. Expectations on the same table share a scan
    under one pass per battery entry — at 100 TB, fold same-table
    entries into a single multi-counter agg if the scan dominates.
    """
    out: DataFrame | None = None
    for name, table, pred in _VALUE_EXPECTATIONS:
        row = (
            load_table(spark, sf_dir, table)
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(F.when(F.expr(pred), 0).otherwise(1))
                .cast("long")
                .alias("n_violations"),
            )
            .select(
                F.lit(name).alias("expectation"),
                F.lit(table).alias("table_name"),
                "n_rows",
                "n_violations",
                (F.col("n_violations") == 0).cast("int").alias("passes"),
            )
        )
        out = row if out is None else out.unionByName(row)
    assert out is not None
    return out.orderBy("expectation")


# --- round 14: key-space density census (sequence-completeness audit) -------

# Census granularity: 1024-key buckets keep the report ~|keyspace|/2^10
# rows while localizing a lost batch to a 1024-key interval.
_KEY_DENSITY_BUCKET = 1024


@query(
    "audit_key_density",
    oracle=f"""
    WITH k AS (
        SELECT DISTINCT CAST(o_orderkey AS BIGINT) AS key FROM orders),
    b AS (
        SELECT key // {_KEY_DENSITY_BUCKET} AS bucket, key,
               lead(key) OVER (PARTITION BY key // {_KEY_DENSITY_BUCKET}
                               ORDER BY key) AS nxt
        FROM k)
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(MIN(key) AS BIGINT) AS kmin,
           CAST(MAX(key) AS BIGINT) AS kmax,
           CAST(COUNT(*) AS BIGINT) AS n_present,
           CAST(MAX(key) - MIN(key) + 1 - COUNT(*) AS BIGINT) AS n_missing,
           CAST(COALESCE(MAX(CASE WHEN nxt - key > 1
                                  THEN nxt - key - 1 END), 0) AS BIGINT)
               AS widest_gap
    FROM b GROUP BY 1 ORDER BY bucket
    """,
)
def audit_key_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-space density census — the completeness audit behind "did the
    loader drop a batch": a sequence-assigned key column is audited in
    1024-key buckets, each reporting its present count, missing count
    inside the observed span, and widest internal gap. A lost ingest
    batch shows as a bucket with n_missing ≫ 0 (or a missing bucket row
    entirely), localized to a 1024-key interval a backfill can replay.
    On THIS lake every key space is dense, so n_missing = 0 everywhere
    — which is itself the checked value (the referential-integrity
    convention) — while the census rows always carry data, unlike a
    gap-interval list that is empty exactly when the invariant holds
    (the round-12 flatline lesson).

    Scale shape: embarrassingly parallel — one distinct pass, then
    per-bucket lead/aggregate windows PARTITIONED BY BUCKET (bounded
    1024-row partitions, no global sort, no seam relation, no
    unpartitioned window anywhere). Report is |keyspace|/1024 rows.
    """
    keys = (
        load_table(spark, sf_dir, "orders")
        .select(F.col("o_orderkey").cast("long").alias("key"))
        .distinct()
        .withColumn("bucket", F.expr(f"key div {_KEY_DENSITY_BUCKET}"))
    )
    w_b = Window.partitionBy("bucket").orderBy("key")
    gap = F.col("nxt") - F.col("key") - 1
    return (
        keys.withColumn("nxt", F.lead("key").over(w_b))
        .groupBy("bucket")
        .agg(
            F.min("key").cast("long").alias("kmin"),
            F.max("key").cast("long").alias("kmax"),
            F.count(F.lit(1)).cast("long").alias("n_present"),
            (F.max("key") - F.min("key") + 1 - F.count(F.lit(1)))
            .cast("long")
            .alias("n_missing"),
            F.coalesce(
                F.max(F.when(gap > 0, gap)), F.lit(0)
            )
            .cast("long")
            .alias("widest_gap"),
        )
        .orderBy("bucket")
    )


# --- round 14: order-total reconciliation census -----------------------------


@query(
    "audit_order_total_reconciliation",
    oracle=f"""
    WITH rec AS (
        SELECT l_orderkey,
               CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount)
                                   * (1 + l_tax) * 100 + 0.5)
                             AS BIGINT)) AS BIGINT) AS rc
        FROM lineitem GROUP BY 1),
    j AS (
        SELECT CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS tc,
               r.rc
        FROM orders o LEFT JOIN rec r ON o.o_orderkey = r.l_orderkey
        WHERE o.o_totalprice IS NOT NULL AND o.o_totalprice > 0),
    d AS (
        SELECT CASE WHEN rc IS NULL THEN -1
                    WHEN abs(rc - tc) = 0 THEN 0
                    ELSE {sql_octave('greatest(abs(rc - tc) * 1000000 // tc, 1)')}
               END AS band,
               CASE WHEN rc IS NULL THEN NULL
                    ELSE abs(rc - tc) * 1000000 // tc END AS dev_ppm
        FROM j)
    SELECT CAST(band AS INTEGER) AS band,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(MIN(dev_ppm) AS BIGINT) AS min_dev_ppm,
           CAST(MAX(dev_ppm) AS BIGINT) AS max_dev_ppm
    FROM d GROUP BY 1 ORDER BY band
    """,
)
def audit_order_total_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-vs-rollup reconciliation census: every order's stored total
    against the total RECOMPUTED from its line items
    (Σ extendedprice·(1−discount)·(1+tax)), reported as a deviation-ppm
    octave census — the cross-table consistency audit behind "can I
    trust the denormalized column", with band −1 counting orders that
    have NO line items at all (a different defect class than a drifted
    total). On THIS lake the synthetic generator does NOT maintain the
    TPC-H invariant (deviations span 63 ppm to 5.9e8 ppm, median
    ~0.06%, plus 257 line-less orders at sf0.01) — so the census
    carries real distribution mass at every natural SF, and the audit
    reports it rather than thresholding (the Benford convention).

    Cross-engine mechanics: both sides quantize to exact CENTS via one
    fixed IEEE dag per row (floor(x·100 + 0.5) — the Benford digit
    convention); the per-order sum and the deviation ppm are exact
    integer arithmetic on non-negative operands throughout.

    Scale shape: one map-side-combined lineitem aggregate keyed on
    l_orderkey, one equi join to orders on the SAME key (co-partitioned
    at scale; AQE picks broadcast below threshold), then a ≤ ~35-group
    census collapse. Output is constant-size at any corpus.
    """
    rec = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            F.floor(
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax"))
                * 100
                + F.lit(0.5)
            )
            .cast("long")
            .alias("lc"),
        )
        .groupBy("l_orderkey")
        .agg(F.sum("lc").cast("long").alias("rc"))
    )
    j = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice").isNotNull() & (F.col("o_totalprice") > 0))
        .select(
            "o_orderkey",
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("tc"),
        )
        .join(rec, F.col("o_orderkey") == F.col("l_orderkey"), "left")
    )
    dev_sql = "abs(rc - tc) * CAST(1000000 AS BIGINT) div tc"
    dev = F.expr(dev_sql)
    band = (
        F.when(F.col("rc").isNull(), F.lit(-1))
        .when(F.expr("abs(rc - tc)") == 0, F.lit(0))
        .otherwise(octave(f"greatest({dev_sql}, 1)"))
    )
    dev_ppm = F.when(F.col("rc").isNull(), F.lit(None).cast("long")).otherwise(
        dev.cast("long")
    )
    return (
        j.select(band.alias("band"), dev_ppm.alias("dev_ppm"))
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.min("dev_ppm").cast("long").alias("min_dev_ppm"),
            F.max("dev_ppm").cast("long").alias("max_dev_ppm"),
        )
        .orderBy("band")
    )


# --- round 15: keyspace gap census (distributed gaps-and-islands) ------------

# Bucket width for the two-level pass: within-bucket gaps come from a
# bucket-partitioned window; cross-bucket gaps from one tiny window
# over the per-bucket extrema (keyspace/4096 rows).
_GAP_BUCKET = 4096


@query(
    "audit_orderkey_gap_census",
    oracle="""
    WITH k AS (SELECT DISTINCT o_orderkey AS key FROM orders),
    g AS (SELECT key - lag(key) OVER (ORDER BY key) AS gap FROM k)
    SELECT CAST(gap AS BIGINT) AS stride,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM g WHERE gap IS NOT NULL
    GROUP BY gap ORDER BY stride
    """,
)
def audit_orderkey_gap_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stride census of the orders key space: for EVERY pair of
    globally consecutive distinct o_orderkeys, the stride between them,
    grouped — stride 1 is the contiguous baseline (this lake's
    generator emits a dense 0..N−1 keyspace, so the census always
    carries the full (1, N−1) row — never naturally empty), and any
    stride > 1 is a HOLE: a dropped ingest batch (a gap the size of
    the batch), a truncated backfill, or a sparse-keyspace generator
    artifact (classic TPC-H uses 8 of every 32 keys). The dual of
    audit_key_density: density says how FULL each region is, the
    stride census says exactly what the pairing structure looks like.

    Cross-engine note: the oracle states the spec directly — one lag
    over the globally sorted key list. The engine must NOT (a global
    sort of the keyspace dies first at scale): it decomposes every
    globally-consecutive pair as either (a) within a div-4096 bucket —
    a bucket-partitioned lag window, embarrassingly parallel — or (b)
    straddling two adjacent non-empty buckets — bucket_min minus the
    PREVIOUS non-empty bucket's max, one lag over the per-bucket
    extrema relation (keyspace/4096 rows, bound-guarded). The
    decomposition is exhaustive and disjoint, so the union equals the
    oracle's single-sort answer exactly.

    Scale shape: one map-combined distinct on the key, one
    bucket-keyed exchange feeding both the within-bucket window and
    the extrema aggregate (same key, reused), then a ≤ |gap sizes|
    census. Nothing global except the extrema window, whose input is
    4096x smaller than the keyspace.
    """
    from pyspark.sql import Window

    from jorvik_spark.queries.registry import guarded_global_window

    keys = (
        load_table(spark, sf_dir, "orders")
        .select(F.col("o_orderkey").alias("key"))
        .distinct()
        .withColumn("bucket", F.expr(f"key div {_GAP_BUCKET}"))
    )
    wb = Window.partitionBy("bucket").orderBy("key")
    within = keys.select(
        (F.col("key") - F.lag("key").over(wb)).alias("gap")
    ).filter(F.col("gap").isNotNull())
    ext = keys.groupBy("bucket").agg(
        F.min("key").alias("bmin"), F.max("key").alias("bmax")
    )
    we = Window.orderBy("bucket")
    boundary = ext.select(
        guarded_global_window(
            F.col("bmin") - F.lag("bmax").over(we),
            ["bucket"],
            "audit_orderkey_gap_census.boundary",
        ).alias("gap")
    ).filter(F.col("gap").isNotNull())
    return (
        within.unionByName(boundary)
        .groupBy(F.col("gap").cast("long").alias("stride"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .orderBy("stride")
    )


# --- round 15 wave 2: user-churn gap census -----------------------------------

# Half-x bands of open-gap / max-historical-gap; band 8 = 4x-or-more
# past the user's own worst silence.
_CHURN_BAND_CAP = 8


@query(
    "audit_user_churn_census",
    oracle=f"""
    WITH e AS (
        SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t, event_id
        FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
    mx AS (SELECT MAX(t) AS t_now FROM e),
    g AS (SELECT user_id,
                 t - lag(t) OVER (PARTITION BY user_id
                                  ORDER BY t, event_id) AS gap
          FROM e),
    u AS (SELECT user_id, MAX(gap) AS max_hist_gap
          FROM g WHERE gap IS NOT NULL GROUP BY user_id),
    last AS (SELECT user_id, MAX(t) AS last_t FROM e GROUP BY user_id),
    r AS (SELECT l.user_id,
                 CASE WHEN u.max_hist_gap IS NULL OR u.max_hist_gap <= 0
                      THEN NULL
                      ELSE CAST(CAST(m.t_now - l.last_t AS HUGEINT) * 1000000
                                // u.max_hist_gap AS BIGINT)
                 END AS ratio_ppm
          FROM last l LEFT JOIN u ON u.user_id = l.user_id CROSS JOIN mx m)
    SELECT CAST(CASE WHEN ratio_ppm IS NULL THEN NULL
                     ELSE LEAST(ratio_ppm // 500000, {_CHURN_BAND_CAP})
                END AS INTEGER) AS churn_band,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(MIN(ratio_ppm) AS BIGINT) AS min_ppm,
           CAST(MAX(ratio_ppm) AS BIGINT) AS max_ppm
    FROM r GROUP BY 1 ORDER BY churn_band NULLS FIRST
    """,
)
def audit_user_churn_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn-risk census: each user's OPEN silence (time from their last
    event to the corpus's last event) as a ratio of their own worst
    HISTORICAL gap, in half-x ppm bands — the "is this user gone or
    just quiet" screen that normalizes per user instead of applying one
    global inactivity threshold (a daily user 3 days silent is churned;
    a monthly user 3 days silent is fine). Band 0-1 = within historical
    behavior, band ≥ 2 = silent past their worst gap, NULL band = users
    with no measurable history (single-event or all-tied timestamps —
    declared out of scope, reported, never guessed).

    Cross-engine mechanics: exact µs integers end-to-end; ratio_ppm =
    open·1e6 div max_hist_gap on non-negative operands, widened through
    the DECIMAL(38,0)/HUGEINT accumulator convention before the ·1e6
    scale-up — in bare int64 an open silence past ~106 days
    (9.2e18 µs / 1e6) overflows, an ANSI runtime error under Spark 4
    and a BIGINT overflow in DuckDB; ties in the event stream break by
    event_id (the module convention).

    Scale shape: one user-keyed exchange feeds the lag window, the
    per-user gap aggregate AND the last-seen aggregate (same key, one
    shuffle); the corpus anchor is a single-row broadcast; the census
    is a ≤ 10-group collapse.
    """
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    ).select("user_id", F.unix_micros("ts").alias("t"), "event_id")
    mx = F.broadcast(e.agg(F.max("t").alias("t_now")))
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    g = e.select(
        "user_id", "t", (F.col("t") - F.lag("t").over(w)).alias("gap")
    )
    u = (
        g.filter(F.col("gap").isNotNull())
        .groupBy("user_id")
        .agg(F.max("gap").alias("max_hist_gap"))
    )
    last = e.groupBy("user_id").agg(F.max("t").alias("last_t"))
    r = (
        last.join(u, "user_id", "left")
        .crossJoin(mx)
        .select(
            F.when(
                F.col("max_hist_gap").isNull() | (F.col("max_hist_gap") <= 0),
                F.lit(None).cast("long"),
            )
            .otherwise(
                F.expr(
                    "CAST(CAST(t_now - last_t AS DECIMAL(38,0)) * 1000000"
                    " div max_hist_gap AS BIGINT)"
                )
            )
            .alias("ratio_ppm")
        )
    )
    band = F.when(
        F.col("ratio_ppm").isNull(), F.lit(None).cast("int")
    ).otherwise(
        F.least(
            F.expr("ratio_ppm div 500000"), F.lit(_CHURN_BAND_CAP)
        ).cast("int")
    )
    return (
        r.groupBy(band.alias("churn_band"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.min("ratio_ppm").cast("long").alias("min_ppm"),
            F.max("ratio_ppm").cast("long").alias("max_ppm"),
        )
        .orderBy(F.col("churn_band").asc_nulls_first())
    )


# --- round 16: FK fan-out census ----------------------------------------------


@query(
    "audit_fk_fanout_census",
    oracle="""
    WITH cnt AS (
        SELECT l_orderkey, COUNT(*) AS fanout
        FROM lineitem GROUP BY l_orderkey),
    fo AS (
        SELECT o.o_orderkey,
               COALESCE(c.fanout, 0) AS fanout
        FROM orders o LEFT JOIN cnt c ON c.l_orderkey = o.o_orderkey)
    SELECT CAST(fanout AS BIGINT) AS fanout,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_orderkey,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_orderkey
    FROM fo GROUP BY fanout ORDER BY fanout
    """,
)
def audit_fk_fanout_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key fan-out census: the distribution of lineitems per
    order, INCLUDING zero-fanout orders (parents with no children — the
    half referential-integrity checks miss when they only probe
    orphans). This is the join-cardinality audit a planner-minded team
    runs before sizing any orders⋈lineitem pipeline: the histogram's
    tail IS the skew a shuffle join will see, and row-count extrema per
    cell make the evidence value-carrying.

    Scale shape: one map-combined count on the child key, one equi join
    back to the parent relation (both sides shuffle on the same key —
    a single co-partitioned exchange each), and a ≤ ~tail-size census
    collapse. No global sort, no driver collection.
    """
    cnt = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_orderkey").alias("o_orderkey"))
        .agg(F.count(F.lit(1)).alias("fanout"))
    )
    fo = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey")
        .join(cnt, "o_orderkey", "left")
        .select(
            "o_orderkey", F.coalesce("fanout", F.lit(0)).alias("fanout")
        )
    )
    return (
        fo.groupBy(F.col("fanout").cast("long").alias("fanout"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.min("o_orderkey").cast("long").alias("min_orderkey"),
            F.max("o_orderkey").cast("long").alias("max_orderkey"),
        )
        .orderBy("fanout")
    )


# --- round 16 wave 2: value-precision (unit-drift) census -----------------------


@query(
    "audit_value_precision_census",
    oracle=f"""
    WITH v AS (
        SELECT user_id,
               {sql_units('value')} AS vu
        FROM events WHERE value IS NOT NULL),
    d AS (
        SELECT user_id, vu,
               CASE WHEN vu % 1000000 = 0 THEN 0
                    WHEN vu % 100000 = 0 THEN 1
                    WHEN vu % 10000 = 0 THEN 2
                    WHEN vu % 1000 = 0 THEN 3
                    WHEN vu % 100 = 0 THEN 4
                    WHEN vu % 10 = 0 THEN 5
                    ELSE 6 END AS n_decimals
        FROM v)
    SELECT CAST(n_decimals AS INTEGER) AS n_decimals,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(MIN(vu) AS BIGINT) AS min_vu,
           CAST(MAX(vu) AS BIGINT) AS max_vu
    FROM d GROUP BY 1 ORDER BY n_decimals
    """,
)
def audit_value_precision_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-precision census: how many decimal digits (0-6 at the µ-unit
    grid) each event's ``value`` actually uses — the unit-drift screen
    that catches a feed silently switching cents↔dollars, a producer
    rounding to whole units, or a quantized sensor pretending to be
    continuous. A healthy continuous feed concentrates at 6; a sudden
    mass at 0-2 is an upstream format change no range check notices
    (the values stay in range — their GRID changes).

    Cross-engine mechanics: precision is measured on the micro-quantized
    integer (floor(value·1e6 + 0.5)), so the census is exact modular
    arithmetic — no float-representation ambiguity on either engine;
    vu = 0 lands in the 0-decimals band by the same rule.

    Scale shape: one narrow map pass (a 7-arm CASE over remainders) into
    a ≤ 7-cell map-combined census; the distinct-user count rides the
    same aggregate. No joins, no windows.
    """
    v = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    ).select(
        "user_id",
        units("value").alias("vu"),
    )
    n_dec = F.expr(
        "CASE WHEN vu % 1000000 = 0 THEN 0"
        " WHEN vu % 100000 = 0 THEN 1"
        " WHEN vu % 10000 = 0 THEN 2"
        " WHEN vu % 1000 = 0 THEN 3"
        " WHEN vu % 100 = 0 THEN 4"
        " WHEN vu % 10 = 0 THEN 5"
        " ELSE 6 END"
    ).cast("int")
    return (
        v.groupBy(n_dec.alias("n_decimals"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.min("vu").cast("long").alias("min_vu"),
            F.max("vu").cast("long").alias("max_vu"),
        )
        .orderBy("n_decimals")
    )


# --- round 16 wave 3: temporal category-mix drift -------------------------------


@query(
    "audit_category_mix_drift",
    oracle="""
    WITH o AS (
        SELECT date_trunc('month', CAST(o_orderdate AS TIMESTAMP)) AS month,
               o_orderpriority AS cat
        FROM orders
        WHERE o_orderdate IS NOT NULL AND o_orderpriority IS NOT NULL),
    mc AS (SELECT month, cat, COUNT(*) AS c FROM o GROUP BY month, cat),
    tm AS (SELECT month, SUM(c) AS t FROM mc GROUP BY month),
    cc AS (SELECT cat, SUM(c) AS g FROM mc GROUP BY cat),
    tg AS (SELECT SUM(g) AS tg FROM cc),
    grid AS (
        SELECT t.month, c.cat, t.t, c.g, g.tg,
               COALESCE(mc.c, 0) AS c
        FROM tm t CROSS JOIN cc c CROSS JOIN tg g
        LEFT JOIN mc ON mc.month = t.month AND mc.cat = c.cat),
    diffs AS (
        SELECT month, cat, t,
               ABS(CAST(c AS HUGEINT) * tg - CAST(g AS HUGEINT) * t)
                   AS diff
        FROM grid)
    SELECT d.month,
           CAST(MAX(d.t) AS BIGINT) AS n_orders,
           CAST(SUM(d.diff) * 1000000
                // (2 * CAST(MAX(d.t) AS HUGEINT) * MAX(g.tg))
                AS BIGINT) AS tv_ppm,
           (MAX({'diff': d.diff, 'cat': d.cat})).cat AS worst_category
    FROM diffs d CROSS JOIN tg g
    GROUP BY d.month ORDER BY d.month
    """,
)
def audit_category_mix_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal category-mix drift: per month, the exact total-variation
    distance between that month's order-priority mix and the corpus mix,
    in integer ppm, plus the category driving it — the "did the MIX
    shift this month" screen (a feed that reroutes priorities keeps
    every count in range; only its composition moves). The temporal
    twin of ``corpus_source_tv_distance``'s rational-arithmetic
    construction: with counts c and totals t/T, |p − q| =
    |c·T − g·t| / (t·T), so the statistic is one exact widened integer
    per cell and a truncating ppm division per month — no float CDFs,
    identical on both engines. The worst category ties break
    lexicographically via the (diff, cat) struct max.

    Scale shape: the corpus collapses to the (month, category) count in
    one map-combined pass; every marginal re-derives from it (the
    corpus_drift_ks one-scan discipline); the evaluation grid is
    |months| × |categories| — bounded by the vocabularies, never the
    order count — and the month totals attach by broadcast.
    """
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull() & F.col("o_orderpriority").isNotNull()
    ).select(
        F.date_trunc("month", F.col("o_orderdate")).alias("month"),
        F.col("o_orderpriority").alias("cat"),
    )
    mc = o.groupBy("month", "cat").agg(F.count(F.lit(1)).alias("c"))
    tm = mc.groupBy("month").agg(F.sum("c").alias("t"))
    cc = mc.groupBy("cat").agg(F.sum("c").alias("g"))
    tg = F.broadcast(mc.agg(F.sum("c").alias("tg")))
    grid = (
        tm.crossJoin(F.broadcast(cc))
        .crossJoin(tg)
        .join(mc, ["month", "cat"], "left")
        .select(
            "month",
            "cat",
            "t",
            "g",
            "tg",
            F.coalesce("c", F.lit(0)).alias("c"),
        )
    )
    diffs = grid.select(
        "month",
        "cat",
        "t",
        "tg",
        F.abs(
            F.col("c").cast("decimal(38,0)") * F.col("tg")
            - F.col("g").cast("decimal(38,0)") * F.col("t")
        ).alias("diff"),
    )
    return (
        diffs.groupBy("month")
        .agg(
            F.max("t").cast("long").alias("n_orders"),
            F.expr(
                "CAST(SUM(diff) * 1000000"
                " div (2 * CAST(MAX(t) AS DECIMAL(38,0)) * MAX(tg))"
                " AS BIGINT)"
            ).alias("tv_ppm"),
            F.max(F.struct("diff", "cat")).getField("cat").alias(
                "worst_category"
            ),
        )
        .orderBy("month")
    )
