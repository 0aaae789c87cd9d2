"""Parquet reads take their schema from one footer on the driver.

``BasicStorage.read`` must give exactly what Spark's own inference gives
(``spark.read.format("parquet").load(p)``), schema and rows, for every
layout below; where only Spark's inference is right (a stream sink's log,
a glob, read options, schema merging, a summary file, a plain
subdirectory, nothing to infer from) it falls back to it and raises or
returns what Spark does. A storage read runs no Spark job.
"""

import datetime
import decimal
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from py4j.protocol import Py4JJavaError
from pyspark.errors import PySparkException

from jorvik_spark.storage.basic import _FOOTER_LIST_LIMIT, BasicStorage


def _rich_table() -> pa.Table:
    return pa.table({
        "id": pa.array([1, 2], pa.int64()),
        "tags": pa.array([[1, 2], None], pa.list_(pa.int32())),
        "attrs": pa.array([[("a", 1)], []], pa.map_(pa.string(), pa.int32())),
        "point": pa.array([{"x": 1.5, "label": "p"}, None],
                          pa.struct([("x", pa.float64()), ("label", pa.string())])),
        "price": pa.array([decimal.Decimal("12.345"), None], pa.decimal128(12, 3)),
        "blob": pa.array([b"\x00\x01", b""], pa.binary()),
        "day": pa.array([datetime.date(2024, 7, 2), None], pa.date32()),
        "ts_ns": pa.array([1_700_000_000_123_456_789, None], pa.timestamp("ns")),
        "ts_us": pa.array([1_700_000_000_123_456, None], pa.timestamp("us")),
        "ts_utc": pa.array([1_700_000_000_123_456, None], pa.timestamp("us", tz="UTC")),
    })


def _pyarrow_file(spark, root):
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), f"{root}/t.parquet")
    return f"{root}/t.parquet"


def _pyarrow_dir(spark, root):
    os.makedirs(f"{root}/t")
    for i in range(3):
        pq.write_table(pa.table({"a": [i], "b": [str(i)]}), f"{root}/t/part-{i}.parquet")
    return f"{root}/t"


def _spark_dir(spark, root):
    spark.range(12).repartition(3).selectExpr(
        "id", "named_struct('x', id, 'y', cast(id AS string)) AS s",
        "array(id, id + 1) AS arr", "map(cast(id AS string), id) AS m",
        "cast(id AS decimal(20, 4)) AS dec", "cast(cast(id AS string) AS binary) AS bin",
        "date_add(DATE'2024-01-01', cast(id AS int)) AS day",
        "timestamp_micros(id * 1000000) AS ts",
    ).write.parquet(f"{root}/t")
    return f"{root}/t"


def _partitioned(spark, root):
    spark.range(12).selectExpr("id", "id % 2 AS a", "cast(id % 3 AS string) AS b") \
        .write.partitionBy("a", "b").parquet(f"{root}/t")
    return f"{root}/t"


def _rich_types(spark, root):
    pq.write_table(_rich_table(), f"{root}/t.parquet")
    return f"{root}/t.parquet"


def _with_debris(spark, root):
    """Committer and copy debris Spark's file index skips, each holding a
    file whose different schema would show if it were read."""
    t = f"{root}/t"
    for d in ("_temporary/0", ".hidden"):
        os.makedirs(f"{t}/{d}")
    other = pa.table({"other": [1.0]})
    pq.write_table(other, f"{t}/_temporary/0/part-0.parquet")
    pq.write_table(other, f"{t}/.hidden/part-0.parquet")
    pq.write_table(other, f"{t}/a.parquet._COPYING_")
    pq.write_table(pa.table({"a": [1], "b": ["x"]}), f"{t}/part-1.parquet")
    open(f"{t}/_SUCCESS", "w").close()
    open(f"{t}/.stray.crc", "w").close()
    return t


def _first_path_wins(spark, root):
    """Files of different schemas: Spark reads the path that sorts first,
    whatever order the listing returns them in."""
    os.makedirs(f"{root}/t")
    for name in ("z.parquet", "c.parquet", "b.parquet", "m.parquet"):
        pq.write_table(pa.table({name[0]: [1]}), f"{root}/t/{name}")
    return f"{root}/t"


def _partition_column_in_files(spark, root):
    """A partition column also stored in the files keeps its data-schema
    position under Spark's inference."""
    os.makedirs(f"{root}/t/k=1")
    pq.write_table(pa.table({"k": [1], "v": ["x"]}), f"{root}/t/k=1/part-0.parquet")
    return f"{root}/t"


def _plain_subdir_sorts_first(spark, root):
    """Without a partition column Spark reads only the root's own files:
    a plain subdirectory's file, though its path sorts first, is not read."""
    os.makedirs(f"{root}/t/backup")
    pq.write_table(pa.table({"a": [1], "b": ["x"]}), f"{root}/t/part-0.parquet")
    pq.write_table(pa.table({"other": [1.0]}), f"{root}/t/backup/x.parquet")
    return f"{root}/t"


SCHEMA_CASES = [
    ("pyarrow_file", _pyarrow_file),
    ("pyarrow_dir", _pyarrow_dir),
    ("spark_dir", _spark_dir),
    ("partitioned_two_levels", _partitioned),
    ("rich_types", _rich_types),
    ("debris", _with_debris),
    ("first_path_wins", _first_path_wins),
    ("partition_column_in_files", _partition_column_in_files),
    ("plain_subdir_sorts_first", _plain_subdir_sorts_first),
]


def _rows(df):
    return sorted(repr(r) for r in df.collect())


def _outcome(read):
    """The schema and rows ``read`` gives, or what it raises."""
    try:
        df = read()
        return df.schema, _rows(df)
    except PySparkException as e:
        return type(e), e.getCondition()
    except Py4JJavaError as e:  # a failed inference job
        return type(e), e.java_exception.getClass().getName()


@pytest.mark.parametrize("build", [c[1] for c in SCHEMA_CASES],
                         ids=[c[0] for c in SCHEMA_CASES])
def test_read_schema_equals_spark_inference(spark, tmp_path, build):
    path = build(spark, str(tmp_path))
    got = BasicStorage().read(path)
    want = spark.read.format("parquet").load(path)
    assert got.schema == want.schema
    assert _rows(got) == _rows(want)


def _int96(spark, root):
    ts = pa.array([1_700_000_000_123_456, None], pa.timestamp("us"))
    pq.write_table(pa.table({"t": ts}), f"{root}/t.parquet", use_deprecated_int96_timestamps=True)
    return f"{root}/t.parquet"


@pytest.mark.parametrize("conf, build", [
    ("spark.sql.parquet.binaryAsString", _rich_types),
    ("spark.sql.legacy.parquet.nanosAsLong", _rich_types),
    ("spark.sql.parquet.inferTimestampNTZ.enabled", _rich_types),
    ("spark.sql.parquet.int96AsTimestamp", _int96),
], ids=["binaryAsString", "nanosAsLong", "inferTimestampNTZ", "int96AsTimestamp"])
def test_read_schema_follows_live_conf(spark, tmp_path, conf, build):
    """The footer is converted under the session's conf at call time."""
    path = build(spark, str(tmp_path))
    before = spark.conf.get(conf)
    spark.conf.set(conf, "false" if before == "true" else "true")
    try:
        outcomes = [_outcome(lambda: BasicStorage().read(path)),
                    _outcome(lambda: spark.read.format("parquet").load(path))]
    finally:
        spark.conf.set(conf, before)
    assert outcomes[0] == outcomes[1]


def _stream_sink(spark, root):
    """A stream sink's output plus a stray file outside its log: Spark
    reads only the files the log names."""
    src, out = f"{root}/src", f"{root}/out"
    spark.range(3).write.parquet(src)
    query = (spark.readStream.schema("id long").parquet(src).writeStream
             .format("parquet").option("checkpointLocation", f"{root}/cp").start(out))
    query.processAllAvailable()
    query.stop()
    pq.write_table(pa.table({"stray": [1.0]}), f"{out}/a-stray.parquet")
    return out, {}


def _glob(spark, root):
    os.makedirs(f"{root}/t")
    pq.write_table(pa.table({"b": [1]}), f"{root}/t/b.parquet")
    pq.write_table(pa.table({"a": [1]}), f"{root}/t/a.parquet")
    return f"{root}/t/[b]*.parquet", {}


def _merge_schema_option(spark, root):
    _glob(spark, root)
    return f"{root}/t", {"mergeSchema": "true"}


def _empty_dir(spark, root):
    os.makedirs(f"{root}/t")
    return f"{root}/t", {}


def _only_plain_subdir(spark, root):
    """Data only in a plain subdirectory, which Spark does not read."""
    os.makedirs(f"{root}/t/sub")
    pq.write_table(pa.table({"a": [1]}), f"{root}/t/sub/x.parquet")
    return f"{root}/t", {}


def _missing(spark, root):
    return f"{root}/absent", {}


def _summary_file(spark, root):
    """A summary file, which Spark's inference reads before any data file,
    even one whose name sorts first."""
    os.makedirs(f"{root}/t")
    pq.write_table(pa.table({"a": [1]}), f"{root}/t/0.parquet")
    pq.write_metadata(pa.schema([("a", pa.int64()), ("b", pa.string())]),
                      f"{root}/t/_common_metadata")
    return f"{root}/t", {}


def _many_files(spark, root):
    os.makedirs(f"{root}/t")
    for i in range(_FOOTER_LIST_LIMIT + 1):
        pq.write_table(pa.table({"a": [i]}), f"{root}/t/part-{i:03d}.parquet")
    return f"{root}/t", {}


def _corrupt(spark, root):
    os.makedirs(f"{root}/t")
    with open(f"{root}/t/part-0.parquet", "wb") as fh:
        fh.write(b"not parquet at all")
    return f"{root}/t", {}


FALLBACK_CASES = [
    ("stream_sink", _stream_sink),
    ("glob", _glob),
    ("merge_schema_option", _merge_schema_option),
    ("empty_dir", _empty_dir),
    ("only_plain_subdir", _only_plain_subdir),
    ("missing_path", _missing),
    ("summary_file", _summary_file),
    ("many_files", _many_files),
    ("corrupt_file", _corrupt),
]


@pytest.mark.parametrize("build", [c[1] for c in FALLBACK_CASES],
                         ids=[c[0] for c in FALLBACK_CASES])
def test_read_falls_back_to_spark_inference(spark, tmp_path, build):
    path, options = build(spark, str(tmp_path))
    got = _outcome(lambda: BasicStorage().read(path, options=options))
    want = _outcome(lambda: spark.read.format("parquet").options(**options).load(path))
    assert got == want


def test_read_under_merge_schema_conf(spark, tmp_path):
    path, _ = _merge_schema_option(spark, str(tmp_path))
    key = "spark.sql.parquet.mergeSchema"
    spark.conf.set(key, "true")
    try:
        got, want = BasicStorage().read(path), spark.read.parquet(path)
        assert got.schema == want.schema
        assert sorted(got.columns) == ["a", "b"]
    finally:
        spark.conf.unset(key)


def test_parquet_read_runs_no_spark_job(spark, tmp_path, count_jobs):
    path = _spark_dir(spark, str(tmp_path))
    assert count_jobs(lambda: spark.read.format("parquet").load(path)) >= 1
    assert count_jobs(lambda: BasicStorage().read(path)) == 0


def test_read_stream_without_schema_takes_the_footer(spark, tmp_path, count_jobs):
    """readStream's schema-less fallback reads the same footer."""
    path = _partitioned(spark, str(tmp_path))
    st = BasicStorage()
    assert count_jobs(lambda: st.readStream(path)) == 0
    assert st.readStream(path).schema == spark.read.parquet(path).schema


@pytest.mark.parametrize("build", [_empty_dir, _only_plain_subdir],
                         ids=["empty_dir", "only_plain_subdir"])
def test_merge_of_unreadable_target_still_raises_value_error(spark, tmp_path, build):
    """An existing target with nothing Spark can infer a schema from is
    still reported as not mergeable, and left as it was."""
    target, _ = build(spark, str(tmp_path))
    before = sorted(os.walk(target))
    with pytest.raises(ValueError, match="not a mergeable table"):
        BasicStorage().merge(spark.range(1), target, "full.id = incremental.id")
    assert sorted(os.walk(target)) == before
