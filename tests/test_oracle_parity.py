"""Every oracle-checkable registered query must match DuckDB at sf0.001.

This mirrors the driver's t2 gate (which runs at sf0.01 — set
``SPARK_GRAFT_TEST_SF=/root/testdata/sf0.01`` to run the full-size check).
"""

import os

import pytest

import __spark_entry__ as entrymod
from tests.oracle_utils import duck_con, compare
from jorvik_spark.tables import default_sf_dir

# Absolute, because Spark reports the absolute path of every file a
# binaryFile scan reads while the {sf_dir} oracles echo this value back:
# a relative SPARK_GRAFT_TEST_SF (testdata/sf0.01) would fail those rows.
SF_DIR = os.path.abspath(os.environ.get("SPARK_GRAFT_TEST_SF", default_sf_dir()))
# Pin the {sf_dir} oracle placeholder (binaryFile-scan oracles) to the SF
# this suite runs at — the driver resolves it to sf0.01.
os.environ["SPARK_GRAFT_TEST_SF"] = SF_DIR

_QUERIES = entrymod.queries()
_ORACLES = entrymod.oracle_sql()


@pytest.fixture(scope="module")
def con():
    c = duck_con(SF_DIR)
    yield c
    c.close()


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) > 0


@pytest.mark.parametrize("name", sorted(_ORACLES))
def test_oracle_parity(spark, con, name):
    compare(_QUERIES[name](spark, SF_DIR), con, _ORACLES[name], name)


@pytest.mark.parametrize("name", sorted(set(_QUERIES) - set(_ORACLES)))
def test_rows_only(spark, name):
    df = _QUERIES[name](spark, SF_DIR)
    assert df.count() >= 0
