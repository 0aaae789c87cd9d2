"""Delta-branch tests for BasicStorage — gated on delta-spark.

This container has no delta-spark, so the whole module skips here; the
skip was re-confirmed in round 9 (import fails; the environment has no
package index access and the build rules forbid installs), so the gated
suite remains the documented path for any environment that carries the
`delta` extra. The rest of this docstring describes what runs there: the
suite exists so any Delta-enabled environment proves the gated branch
(``jorvik_spark/storage/basic.py``: the ``DeltaTable.forPath(...).merge``
path, delete-clause precedence, schema evolution through a real Delta
log, and the delta bootstrap-create format) instead of leaving it
forever exercised only via the native-parquet reconstruction.

Run standalone so the session is built WITH the Delta extension:

    pytest -m delta tests/test_delta_storage.py

Reference semantics: /root/reference/jorvik/storage/basic.py:136-191;
reference tests: /root/reference/test/storage/test_basic.py:112-249.
The cases mirror tests/test_storage_basic.py one-for-one where both
paths share semantics; Delta-only behaviors (isDeltaTable detection,
delta bootstrap format, delta scan lineage classification) are extra.
"""

from __future__ import annotations

import pytest

delta = pytest.importorskip(
    "delta", reason="delta-spark not installed (optional extra: delta)"
)

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.testing import assertDataFrameEqual  # noqa: E402

from jorvik_spark.storage.basic import BasicStorage  # noqa: E402

pytestmark = pytest.mark.delta

_DELTA_EXT = "io.delta.sql.DeltaSparkSessionExtension"


@pytest.fixture(scope="module")
def dspark():
    """A Delta-capable SparkSession. If another fixture already built the
    session without the Delta extension (extensions are create-time
    static), skip with instructions rather than fail confusingly."""
    active = SparkSession.getActiveSession()
    if active is not None:
        if _DELTA_EXT not in (active.conf.get("spark.sql.extensions", "") or ""):
            pytest.skip(
                "active SparkSession lacks the Delta extension; run this "
                "suite standalone: pytest -m delta tests/test_delta_storage.py"
            )
        return active
    from delta import configure_spark_with_delta_pip

    builder = (
        SparkSession.builder.master("local[4]")
        .appName("jorvik_delta_tests")
        .config("spark.sql.extensions", _DELTA_EXT)
        .config(
            "spark.sql.catalog.spark_catalog",
            "org.apache.spark.sql.delta.catalog.DeltaCatalog",
        )
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
    )
    return configure_spark_with_delta_pip(builder).getOrCreate()


@pytest.fixture
def st():
    return BasicStorage()


def kv(spark, rows):
    return spark.createDataFrame(rows, ["id", "value"])


def _is_delta(spark, path: str) -> bool:
    from delta import DeltaTable

    return DeltaTable.isDeltaTable(spark, path)


def test_delta_write_read_exists_roundtrip(dspark, st, tmp_path):
    target = str(tmp_path / "t")
    df = kv(dspark, [(1, "a"), (2, "b")])
    st.write(df, target, "delta", "overwrite")
    assert st.exists(target)
    assert _is_delta(dspark, target)
    assertDataFrameEqual(st.read(target, "delta"), df)


def test_delta_merge_routes_through_delta_branch(dspark, st, tmp_path):
    """Conditional insert + update + keep — and the target must STAY a
    Delta table afterward (the native path would have rewritten it as
    plain parquet)."""
    target = str(tmp_path / "t")
    st.write(
        kv(dspark, [(1, "existing"), (2, "existing"), (3, "existing")]),
        target, "delta", "overwrite",
    )
    st.merge(
        kv(dspark, [(2, "updated"), (3, "updated"), (4, "added"), (5, "added")]),
        target,
        merge_condition="full.id == incremental.id",
        insert_condition="incremental.id != 4",
        update_condition="incremental.id != 2",
    )
    expected = kv(
        dspark, [(1, "existing"), (2, "existing"), (3, "updated"), (5, "added")]
    )
    assertDataFrameEqual(st.read(target, "delta"), expected)
    assert _is_delta(dspark, target)


def test_delta_merge_ignore_updates(dspark, st, tmp_path):
    target = str(tmp_path / "t")
    st.write(kv(dspark, [(1, "existing"), (3, "existing")]), target, "delta", "overwrite")
    st.merge(
        kv(dspark, [(3, "updated"), (4, "added")]),
        target,
        merge_condition="full.id == incremental.id",
        update_condition=False,
    )
    expected = kv(dspark, [(1, "existing"), (3, "existing"), (4, "added")])
    assertDataFrameEqual(st.read(target, "delta"), expected)


def test_delta_merge_ignore_inserts(dspark, st, tmp_path):
    target = str(tmp_path / "t")
    st.write(kv(dspark, [(1, "existing"), (3, "existing")]), target, "delta", "overwrite")
    st.merge(
        kv(dspark, [(3, "updated"), (4, "added")]),
        target,
        merge_condition="full.id == incremental.id",
        insert_condition=False,
    )
    expected = kv(dspark, [(1, "existing"), (3, "updated")])
    assertDataFrameEqual(st.read(target, "delta"), expected)


def test_delta_merge_schema_evolution(dspark, st, tmp_path):
    """Drifted incremental schema: ValueError without merge_schemas,
    null-filled union with it — through a real Delta log."""
    target = str(tmp_path / "t")
    old = dspark.createDataFrame(
        [(1, "existing", 1), (3, "existing", 1)], ["id", "value", "old"]
    )
    st.write(old, target, "delta", "overwrite")
    incremental = dspark.createDataFrame(
        [(3, "updated", 2), (4, "added", 2)], ["id", "value", "new"]
    )
    with pytest.raises(ValueError):
        st.merge(incremental, target, "full.id == incremental.id")
    st.merge(
        incremental, target, "full.id == incremental.id", merge_schemas=True
    )
    got = {
        (r["id"], r["value"], r["old"], r["new"])
        for r in st.read(target, "delta").collect()
    }
    assert got == {
        (1, "existing", 1, None),
        (3, "updated", None, 2),
        (4, "added", None, 2),
    }


def test_delta_merge_cdc_delete_and_precedence(dspark, st, tmp_path):
    """delete_condition fires whenMatchedDelete FIRST: a tombstone row
    deletes its match even when the update condition would also hold;
    the op column evolves onto the target (merge_schemas, as in the
    native twin test_merge_cdc_delete)."""
    target = str(tmp_path / "t")
    st.write(
        kv(dspark, [(1, "keep"), (2, "kill"), (3, "change")]),
        target, "delta", "overwrite",
    )
    cdc = dspark.createDataFrame(
        [(2, "ignored", "D"), (3, "changed", "U"), (4, "new", "I")],
        "id long, value string, op string",
    )
    st.merge(
        cdc,
        target,
        merge_condition="full.id == incremental.id",
        delete_condition="incremental.op = 'D'",
        update_condition="true",
        merge_schemas=True,
    )
    got = {(r["id"], r["value"]) for r in st.read(target, "delta").collect()}
    assert got == {(1, "keep"), (3, "changed"), (4, "new")}


def test_delta_merge_bootstrap_creates_delta_table(dspark, st, tmp_path):
    """Missing target: with delta-spark installed the bootstrap create
    must write DELTA (the _MERGE_CREATE_FORMAT gate), so the very first
    merge already yields a transactional table."""
    from jorvik_spark.storage import basic as basic_mod

    assert basic_mod._MERGE_CREATE_FORMAT == "delta"
    target = str(tmp_path / "t")
    st.merge(
        kv(dspark, [(1, "a")]), target, merge_condition="full.id == incremental.id"
    )
    assert _is_delta(dspark, target)
    st.merge(
        kv(dspark, [(1, "a2"), (2, "b")]),
        target,
        merge_condition="full.id == incremental.id",
    )
    assertDataFrameEqual(
        st.read(target, "delta"), kv(dspark, [(1, "a2"), (2, "b")])
    )


def test_delta_isolated_storage_roundtrip(dspark, st, tmp_path):
    """The isolation wrapper must pass the delta format through to its
    redirected sandbox path unchanged: the write lands under the
    isolation folder as a real Delta table and reads back from there."""
    from jorvik_spark.storage.isolation import (
        ISOLATION_FOLDER_CONF,
        MOUNT_POINT_CONF,
        IsolatedStorage,
    )

    dspark.conf.set(MOUNT_POINT_CONF, str(tmp_path))
    dspark.conf.set(ISOLATION_FOLDER_CONF, "iso")
    try:
        iso = IsolatedStorage(storage=st, isolation_provider=lambda: "dev")
        path = str(tmp_path / "data" / "table")
        df = kv(dspark, [(1, "a"), (2, "b")])
        iso.write(df, path, "delta", "overwrite")
        redirected = str(tmp_path / "iso" / "dev" / "data" / "table")
        assert _is_delta(dspark, redirected)
        assertDataFrameEqual(iso.read(path, "delta"), df)
    finally:
        dspark.conf.unset(MOUNT_POINT_CONF)
        dspark.conf.unset(ISOLATION_FOLDER_CONF)


def test_delta_scan_classified_by_lineage(dspark, st, tmp_path):
    """A real delta read is recorded by the lineage observer as its table
    path (a file source, not an unknown scan)."""
    from jorvik_spark.data_lineage.observer import DataLineageLogger

    target = str(tmp_path / "t")
    st.write(kv(dspark, [(1, "a")]), target, "delta", "overwrite")
    sources = DataLineageLogger("unused")._get_data_sources(st.read(target, "delta"))
    assert len(sources) == 1
    assert sources[0].rstrip("/").endswith(target.rstrip("/"))


def test_delta_lineage_append_is_a_delta_commit(dspark, tmp_path):
    """With delta-spark importable the lineage log is a Delta table and
    each append is one Delta commit: the driver-side parquet append, which
    cannot commit to Delta, is never taken."""
    from delta import DeltaTable

    from jorvik_spark.data_lineage.observer import LINEAGE_SCHEMA, DataLineageLogger

    logger = DataLineageLogger(str(tmp_path / "log"))
    for _ in range(2):
        logger._store_lineage_log(
            logger._create_lineage_log(["file:/lake/a"], "/lake/out", "job.py")
        )
    assert _is_delta(dspark, logger.lineage_log_path)
    history = DeltaTable.forPath(dspark, logger.lineage_log_path).history()
    assert history.count() == 2
    log = dspark.read.format("delta").load(logger.lineage_log_path)
    assert log.schema == LINEAGE_SCHEMA
    assert log.count() == 2
