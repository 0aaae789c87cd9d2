"""Lineage tests: the source list the observer records for one write,
checked against live DataFrames of every scan family, the shape of the
log row itself, plus the end-to-end write-log tests ported from the
reference (test_write_log.py:15-44, on parquet here).
"""

import glob
import os
import time
from datetime import datetime
from types import SimpleNamespace

import pandas as pd
import pytest
from pyspark.sql import functions as F

from jorvik_spark import storage
from jorvik_spark.data_lineage.observer import LINEAGE_SCHEMA, DataLineageLogger
from jorvik_spark.storage.basic import BasicStorage
from jorvik_spark.storage.pydatasource import register as register_py_sources
from jorvik_spark.tables import default_sf_dir

DERBY_URL = "jdbc:derby:memory:jorvik_lineage;create=true"


@pytest.fixture(scope="module")
def lake(spark, tmp_path_factory):
    """One small source per scan family: single parquet files, a
    partitioned directory, a three-file directory, a catalog table, a temp
    view, a cached DataFrame, an embedded-Derby JDBC table and a JSONL
    directory for the repo's Python data sources."""
    root = str(tmp_path_factory.mktemp("lineage_lake"))
    pd.DataFrame({"r_regionkey": [0, 1], "r_name": ["a", "b"]}).to_parquet(
        f"{root}/region.parquet"
    )
    pd.DataFrame({"n_nationkey": [0, 1, 2], "n_regionkey": [0, 1, 1]}).to_parquet(
        f"{root}/nation.parquet"
    )
    pd.DataFrame({"s_nationkey": [1, 2]}).to_parquet(f"{root}/supplier.parquet")
    spark.range(6).selectExpr("id", "id % 2 AS p").write.partitionBy("p").parquet(
        f"{root}/part"
    )
    spark.range(6).repartition(3).write.parquet(f"{root}/multi")
    spark.range(3).write.option("path", f"{root}/cat").saveAsTable("lineage_cat")
    spark.read.parquet(f"{root}/region.parquet").createOrReplaceTempView("lineage_rv")
    cached = spark.read.parquet(f"{root}/nation.parquet").cache()
    spark.createDataFrame([(1, "a")], "ID INT, NAME STRING").write.jdbc(
        DERBY_URL, "SALES_TABLE", mode="overwrite"
    )
    os.makedirs(f"{root}/jl")
    for name in ("a", "b"):
        with open(f"{root}/jl/{name}.jsonl", "w") as fh:
            fh.write('{"k": 1}\n')
    register_py_sources(spark)
    yield SimpleNamespace(root=root, cached=cached)
    cached.unpersist()
    spark.sql("DROP TABLE IF EXISTS lineage_cat")
    spark.catalog.dropTempView("lineage_rv")


def _jdbc(spark, option, value):
    return (
        spark.read.format("jdbc").option("url", DERBY_URL).option(option, value).load()
    )


def _jsonl(spark, path):
    return spark.read.format("jorvik_jsonl").schema("k long").load(path)


def _self_join(spark, lk):
    region = spark.read.parquet(f"{lk.root}/region.parquet")
    return region.alias("a").join(region.alias("b"), "r_regionkey")


# (case, build(spark, lake) -> DataFrame, expected sources; "{root}" is the
# lake directory). The first block pins the strings the explain-text parser
# recorded; the second block is what it got wrong: JDBC text cut at the
# first paren, scalar-subquery sources dropped, and optimizer-pruned sources
# recorded as an empty local relation; the last block is DataSource V2
# leaves (logged as "unknown_scan: DataSourceV2Relation" before) and a
# self-join's one source (logged twice before); the stream cases are
# recorded like the batch scan of the same source (logged as
# "unknown_scan: StreamingRelation[V2]" before).
SOURCE_CASES = [
    ("parquet_file", lambda s, lk: s.read.parquet(f"{lk.root}/region.parquet"),
     ["file:{root}/region.parquet"]),
    ("partitioned_dir", lambda s, lk: s.read.parquet(f"{lk.root}/part"),
     ["file:{root}/part"]),
    ("partition_dirs",
     lambda s, lk: s.read.parquet(f"{lk.root}/part/p=0", f"{lk.root}/part/p=1"),
     ["file:{root}/part"]),
    ("multi_file_list",
     lambda s, lk: s.read.parquet(*sorted(glob.glob(f"{lk.root}/multi/*.parquet"))),
     ["file:{root}/multi"]),
    ("cached", lambda s, lk: lk.cached, ["file:{root}/nation.parquet"]),
    ("temp_view", lambda s, lk: s.table("lineage_rv"), ["file:{root}/region.parquet"]),
    ("catalog_table", lambda s, lk: s.table("lineage_cat"), ["file:{root}/cat"]),
    ("rows", lambda s, lk: s.createDataFrame([(1, "a")], "id INT, v STRING"),
     ["memory_scan: Scan ExistingRDD"]),
    ("pandas", lambda s, lk: s.createDataFrame(pd.DataFrame({"a": [1, 2]})),
     ["memory_scan: LocalTableScan"]),
    ("values", lambda s, lk: s.sql("SELECT * FROM VALUES (1), (2) AS t(a)"),
     ["memory_scan: LocalTableScan"]),
    ("range", lambda s, lk: s.range(5), ["unknown_scan: Range"]),
    ("in_subquery",
     lambda s, lk: s.sql(
         f"SELECT * FROM parquet.`{lk.root}/nation.parquet` "
         "WHERE n_regionkey IN (SELECT r_regionkey FROM lineage_rv)"
     ),
     ["file:{root}/nation.parquet", "file:{root}/region.parquet"]),
    ("nested_exists",
     lambda s, lk: s.sql(
         f"SELECT * FROM parquet.`{lk.root}/nation.parquet` n WHERE EXISTS ("
         "SELECT 1 FROM lineage_rv r WHERE r.r_regionkey = n.n_regionkey AND EXISTS ("
         f"SELECT 1 FROM parquet.`{lk.root}/supplier.parquet` s "
         "WHERE s.s_nationkey = r.r_regionkey))"
     ),
     ["file:{root}/nation.parquet", "file:{root}/region.parquet",
      "file:{root}/supplier.parquet"]),
    ("streaming", lambda s, lk: s.readStream.schema("id LONG").parquet(f"{lk.root}/multi"),
     ["file:{root}/multi"]),
    ("stream_unnormalized_path",
     lambda s, lk: s.readStream.schema("id LONG").parquet(f"{lk.root}//multi/"),
     ["file:{root}/multi"]),
    ("stream_from_storage", lambda s, lk: BasicStorage().readStream(f"{lk.root}/part"),
     ["file:{root}/part"]),
    ("stream_v2_rate",
     lambda s, lk: s.readStream.format("rate").option("numPartitions", 1).load(),
     ["RateStream(rowsPerSecond=1, rampUpTimeSeconds=0, numPartitions=1)"]),
    ("jdbc_query", lambda s, lk: _jdbc(s, "query", "select * from SALES_TABLE"),
     ["jdbc_scan: select * from SALES_TABLE"]),
    ("jdbc_table", lambda s, lk: _jdbc(s, "dbtable", "SALES_TABLE"),
     ["jdbc_scan: SALES_TABLE"]),
    ("scalar_subquery",
     lambda s, lk: s.sql(
         "SELECT *, (SELECT max(r_regionkey) FROM lineage_rv) AS m "
         f"FROM parquet.`{lk.root}/nation.parquet`"
     ),
     ["file:{root}/nation.parquet", "file:{root}/region.parquet"]),
    ("pruned_limit0", lambda s, lk: s.read.parquet(f"{lk.root}/region.parquet").limit(0),
     ["file:{root}/region.parquet"]),
    ("v2_path", lambda s, lk: _jsonl(s, f"{lk.root}/jl"), ["{root}/jl"]),
    ("v2_paths",
     lambda s, lk: _jsonl(s, [f"{lk.root}/jl/a.jsonl", f"{lk.root}/jl/b.jsonl"]),
     ["{root}/jl"]),
    ("v2_table_name", lambda s, lk: s.read.format("jorvik_synthetic").option("n", 5).load(),
     ["jorvik_synthetic"]),
    ("self_join", _self_join, ["file:{root}/region.parquet"]),
]


@pytest.mark.parametrize(
    "build, expected", [c[1:] for c in SOURCE_CASES], ids=[c[0] for c in SOURCE_CASES]
)
def test_data_sources(spark, lake, build, expected):
    sources = DataLineageLogger("unused")._get_data_sources(build(spark, lake))
    assert sources == [e.format(root=lake.root) for e in expected]


# -- the log row ------------------------------------------------------------


def _log_row(data_sources=("file:/lake/a",), output_path="/lake/out"):
    return DataLineageLogger("unused")._create_lineage_log(
        list(data_sources), output_path, "job.py"
    )


def _append(spark, tmp_path, row):
    """Append ``row`` through the observer's store step; the log read back."""
    logger = DataLineageLogger(str(tmp_path / "log"))
    logger._store_lineage_log(row)
    return spark.read.parquet(logger.lineage_log_path)


def test_log_append_runs_no_spark_job(spark, tmp_path, count_jobs):
    """The driver writes and publishes the row: no Spark job, no temp
    file left, one ``part-*.parquet`` per append."""
    logger = DataLineageLogger(str(tmp_path / "log"))
    row = _log_row()
    assert count_jobs(lambda: spark.createDataFrame(row, LINEAGE_SCHEMA).write
                      .mode("append").parquet(str(tmp_path / "spark_log"))) >= 1
    assert count_jobs(lambda: logger._store_lineage_log(row)) == 0
    assert count_jobs(lambda: logger._store_lineage_log(row)) == 0
    names = sorted(os.listdir(logger.lineage_log_path))
    data = [n for n in names if not n.startswith(".")]
    assert len(data) == 2 and all(
        n.startswith("part-") and n.endswith(".parquet") for n in data
    )
    assert not any(n.endswith(".tmp") or n.endswith(".tmp.crc") for n in names)


@pytest.mark.parametrize(
    "data_sources, output_path",
    [([], "/lake/out"), (["file:/lake/ünïcødé/路径", "jdbc_scan: T"], "/lake/gold/日本")],
    ids=["no_sources", "non_ascii"],
)
def test_log_row_round_trips(spark, tmp_path, data_sources, output_path):
    log = _append(spark, tmp_path, _log_row(data_sources, output_path))
    assert log.schema == LINEAGE_SCHEMA
    row = log.collect()[0]
    assert row.output_path == output_path
    assert row.data_sources == data_sources
    assert row.transform_code_file == "job.py"


def test_log_row_without_arrow_pyspark(spark, tmp_path):
    """The row is built and appended from a pyarrow.Table, which does not
    depend on the pandas-conversion Arrow switch."""
    key = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        log = _append(spark, tmp_path, _log_row())
        assert log.schema == LINEAGE_SCHEMA
        assert log.collect()[0].data_sources == ["file:/lake/a"]
    finally:
        spark.conf.set(key, before)


def test_log_keeps_rows_spark_wrote(spark, tmp_path):
    """A log Spark's writer started (INT96 timestamps, Spark's schema in
    the footer) takes driver-written rows: one schema, every instant kept."""
    logger = DataLineageLogger(str(tmp_path / "log"))
    row = _log_row()
    spark.createDataFrame(row, LINEAGE_SCHEMA).write.parquet(logger.lineage_log_path)
    logger._store_lineage_log(row)
    log = spark.read.parquet(logger.lineage_log_path)
    assert log.schema == LINEAGE_SCHEMA
    stamps = log.selectExpr("unix_micros(observation_ts) AS u").collect()
    want = row.column("observation_ts")[0].value  # µs since the epoch
    assert [r.u for r in stamps] == [want, want]


def test_log_row_observation_ts_off_utc(spark, tmp_path):
    """Under a non-UTC process zone the stored observation_ts is the same
    instant a naive datetime.now() row records (read as local time)."""
    before = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        naive = spark.createDataFrame(
            [["/lake/out", [], "job.py", datetime.now()]], LINEAGE_SCHEMA
        )
        logger = DataLineageLogger(str(tmp_path / "log"))
        logger._store_lineage_log(_log_row())
        stored = spark.read.parquet(logger.lineage_log_path)
        micros = [
            d.selectExpr("unix_micros(observation_ts) AS u").collect()[0].u
            for d in (naive, stored)
        ]
    finally:
        if before is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = before
        time.tzset()
    assert abs(micros[1] - micros[0]) < 2_000_000


# -- end-to-end write log (reference test_write_log.py, on parquet) --------


@pytest.fixture
def lineage_conf(spark, tmp_path):
    log_path = str(tmp_path / "lineage_logs")
    spark.conf.set("io.jorvik.data_lineage.log_path", log_path)
    yield log_path
    spark.conf.unset("io.jorvik.data_lineage.log_path")


def test_write_lineage_log(spark, tmp_path, lineage_conf):
    df = spark.createDataFrame(
        [(1, "Alice", "1.0"), (2, "Bob", "2.0")], "id long, name string, value string"
    )
    st = storage.configure()
    assert any(isinstance(o, DataLineageLogger) for o in st.output_observers)

    output_path = str(tmp_path / "sample_data")
    st.write(df, output_path, format="parquet", mode="overwrite")

    log = (
        st.read(lineage_conf, format="parquet")
        .orderBy(F.desc("observation_ts"))
        .limit(1)
    )
    assert log.schema == LINEAGE_SCHEMA
    row = log.collect()[0]
    assert row.output_path == output_path
    assert row.data_sources == ["memory_scan: Scan ExistingRDD"]
    assert "test_data_lineage.py" in row.transform_code_file


def test_write_lineage_log_file_scan(spark, tmp_path, lineage_conf):
    """A parquet-scan source must be recorded as its file path."""
    src = str(tmp_path / "src")
    spark.range(10).write.parquet(src)
    st = storage.configure()
    out = str(tmp_path / "out")
    st.write(st.read(src, "parquet"), out, format="parquet", mode="overwrite")

    row = (
        st.read(lineage_conf, format="parquet")
        .orderBy(F.desc("observation_ts"))
        .limit(1)
        .collect()[0]
    )
    assert row.output_path == out
    assert len(row.data_sources) == 1
    assert row.data_sources[0].endswith("/src") or "/src" in row.data_sources[0]


def test_lineage_captures_all_sources_of_a_join_dag(spark, tmp_path, lineage_conf):
    """A multi-scan transform (broadcast join of two parquet sources plus
    an aggregate) must record EVERY source path — the lineage answer to
    'which tables fed this gold output', exercised on a realistic plan
    with BroadcastExchange/HashAggregate nodes, not a single-scan toy."""
    sf = default_sf_dir()
    st = storage.configure()
    orders = st.read(f"{sf}/orders.parquet", format="parquet")
    customer = st.read(f"{sf}/customer.parquet", format="parquet")
    gold = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment")
        .count()
    )
    out = str(tmp_path / "gold")
    st.write(gold, out, format="parquet", mode="overwrite")

    row = (
        st.read(lineage_conf, format="parquet")
        .orderBy(F.desc("observation_ts"))
        .limit(1)
        .collect()[0]
    )
    assert row.output_path == out
    srcs = " ".join(row.data_sources)
    assert "orders.parquet" in srcs
    assert "customer.parquet" in srcs
    assert len(row.data_sources) == 2


def test_log_schema_after_appends(spark, tmp_path, lineage_conf):
    st = storage.configure()
    df = spark.createDataFrame([(1,)], "id long")
    for i in range(3):
        st.write(df, str(tmp_path / f"out{i}"), format="parquet", mode="overwrite")
    log = st.read(lineage_conf, format="parquet")
    assert log.schema == LINEAGE_SCHEMA
    assert log.count() == 3


def test_log_appends_write_no_success_marker(spark, tmp_path):
    """Lineage appends skip the _SUCCESS marker (rewriting it on every
    append is the slow part of a small write); an ordinary data write
    still leaves it."""
    logger = DataLineageLogger(str(tmp_path / "log"))
    logger._store_lineage_log(_log_row())
    logger._store_lineage_log(_log_row())
    assert spark.read.parquet(logger.lineage_log_path).count() == 2
    assert not os.path.exists(os.path.join(logger.lineage_log_path, "_SUCCESS"))

    data = str(tmp_path / "data")
    plain = storage.configure(track_lineage=False)
    for _ in range(2):
        plain.write(spark.range(1), data, format="parquet", mode="append")
    assert os.path.exists(os.path.join(data, "_SUCCESS"))
