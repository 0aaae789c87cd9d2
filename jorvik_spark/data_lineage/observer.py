"""DataLineageLogger: a storage output-observer that appends one lineage
row per write.

Reference: jorvik's data_lineage/observer.py:22-105. On every
``(df, output_path)`` write event: collect the DataFrame's data sources and
append ``{output_path, data_sources: array<string>, transform_code_file,
observation_ts}`` to the lineage log table.

Deliberate deviation (quirk Q11, SURVEY.md Appendix A): the reference
prints ``df.explain('formatted')``, parses the text back into a tree under
a SIGALRM timeout and classifies the leaf scans. Here the sources come
from a structured walk of the leaves of the Dataset's analyzed plan and of
every subquery plan inside it. The analyzed plan exists as soon as the
Dataset does, so reading it runs no analysis, optimization or planning and
needs no watchdog; the reference's ``timeout`` argument is gone. Sources
the optimizer would prune (``limit(0)``) and scalar-subquery sources are
still recorded. Each source is logged once, in first-seen order.

A streaming file source is recorded by its qualified path, like the batch
scan of the same directory.

The log row is built as a one-row ``pyarrow.Table`` and appended through a
non-lineage-tracking storage (recursion guard, quirk Q10 kept), so an
isolated run logs into its sandbox. A parquet log gets the row as one new
file that the driver writes and publishes by rename
(``append_table``): no Spark job runs. A Delta log (delta-spark
importable) takes it through Spark's Delta writer, the only path that can
commit to Delta.
"""

from __future__ import annotations

import json
import re
import warnings
from datetime import datetime, timezone
from typing import List

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from jorvik_spark.utils import paths

LINEAGE_SCHEMA = StructType(
    [
        StructField("output_path", StringType(), True),
        StructField("data_sources", ArrayType(StringType(), True), True),
        StructField("transform_code_file", StringType(), True),
        StructField("observation_ts", TimestampType(), True),
    ]
)

# In-memory leaves, named by the physical scan they plan into.
_MEMORY_SCANS = {
    "LogicalRDD": "Scan ExistingRDD",
    "LocalRelation": "LocalTableScan",
}
# A JDBC ``query`` option is wrapped as "(<query>) SPARK_GEN_SUBQ_<n>".
_JDBC_GEN_SUBQ = re.compile(r"^\((.*)\) SPARK_GEN_SUBQ_\d+$", re.DOTALL)


def _scala_list(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def _file_source(root_paths: list) -> str:
    """One root path as is; for several (an explicit file list, or
    partition directories) the directory holding the first, with any
    partition segment stripped:
    ``/lake/raw/bookings/date_part=2024-07-02/x.avro`` → ``/lake/raw/bookings``.
    """
    if len(root_paths) == 1:
        return root_paths[0]
    prefix = root_paths[0].split("=")[0]
    return prefix[: prefix.rfind("/")]


def _v2_source(options, table) -> str:
    """A DataSource V2 relation (the Python data sources among them): its
    ``path`` option, its ``paths`` option (a JSON list), else the table's
    name."""
    if options.containsKey("path"):
        return options.get("path")
    if options.containsKey("paths"):
        return _file_source(json.loads(options.get("paths")))
    return table.name()


def _stream_source(leaf) -> str:
    """A V1 streaming source (the file streams): its ``path`` option,
    qualified as the batch scan of that directory records it, else the
    source's name."""
    path = leaf.dataSource().options().get("path")
    if not path.isDefined():
        return leaf.sourceName()
    from jorvik_spark.storage.basic import _hadoop_fs  # lazy: avoid circular import

    return _hadoop_fs(SparkSession.getActiveSession(), path.get())[1].toString()


def _leaf_source(leaf) -> str:
    """Classify one leaf of a logical plan (reference
    node_handler.py:49-69, on plan objects instead of explain text)."""
    kind = leaf.getClass().getSimpleName()
    if kind == "DataSourceV2Relation":
        return _v2_source(leaf.options(), leaf.table())
    if kind == "StreamingRelationV2":
        return _v2_source(leaf.extraOptions(), leaf.table())
    if kind == "StreamingRelation":
        return _stream_source(leaf)
    if kind == "LogicalRelation":
        relation = leaf.relation()
        relation_kind = relation.getClass().getSimpleName()
        if relation_kind == "HadoopFsRelation":
            roots = _scala_list(relation.location().rootPaths())
            return _file_source([p.toString() for p in roots])
        if relation_kind == "JDBCRelation":
            table = relation.jdbcOptions().tableOrQuery()
            return "jdbc_scan: " + _JDBC_GEN_SUBQ.sub(r"\1", table)
    if kind in _MEMORY_SCANS:
        return f"memory_scan: {_MEMORY_SCANS[kind]}"
    return f"unknown_scan: {leaf.nodeName()}"


class DataLineageLogger:
    """Observer appending lineage rows to ``lineage_log_path``."""

    def __init__(self, lineage_log_path: str):
        self.lineage_log_path = lineage_log_path

    def _get_data_sources(self, df: DataFrame) -> List[str]:
        """Sources of the analyzed plan's leaves, then of each subquery
        plan's leaves (nested subqueries included), each once, in
        first-seen order (a self-join reads one source)."""
        analyzed = df._jdf.queryExecution().analyzed()
        plans = [analyzed] + _scala_list(analyzed.subqueriesAll())
        return list(dict.fromkeys(
            _leaf_source(leaf)
            for plan in plans
            for leaf in _scala_list(plan.collectLeaves())
        ))

    def _create_lineage_log(
        self, data_sources: List[str], output_path: str, code_file_path: str
    ):
        """The one log row as a one-row ``pyarrow.Table``.

        ``observation_ts`` is an aware UTC instant: pyarrow stores an
        aware datetime with a non-zero offset as its wall-clock time, so
        a local-zone value would shift the instant off UTC hosts.
        """
        import pyarrow as pa  # lazy: keeps pyarrow out of `import jorvik_spark`
        from pyspark.sql.pandas.types import to_arrow_schema

        row = {
            "output_path": output_path,
            "data_sources": data_sources,
            "transform_code_file": code_file_path,
            "observation_ts": datetime.now(timezone.utc),
        }
        return pa.Table.from_pylist([row], schema=to_arrow_schema(LINEAGE_SCHEMA))

    def _store_lineage_log(self, table) -> None:
        """Append the row ``table`` to the log: by the driver for a
        parquet log, by Spark's writer for a Delta log."""
        from jorvik_spark import storage  # lazy: avoid circular import
        from jorvik_spark.storage.basic import _MERGE_CREATE_FORMAT

        st = storage.configure(track_lineage=False)  # recursion guard (Q10)
        if _MERGE_CREATE_FORMAT == "delta":
            log = SparkSession.getActiveSession().createDataFrame(table, LINEAGE_SCHEMA)
            st.write(log, self.lineage_log_path, format="delta", mode="append")
        else:
            st.append_table(table, self.lineage_log_path)

    def update(self, df: DataFrame, output_path: str) -> None:
        """Capture and append one lineage row — BEST-EFFORT.

        Deliberate deviation from the reference (observer.py:101-105
        propagates): update() runs AFTER the user's data has landed, so a
        lineage-only failure (log path outside the isolation mount, log
        table locked, plan-walk error) must not turn a successful
        write into a caller-visible exception — with the reference's
        propagate-everything behavior, one misconfigured lineage path
        fails every write in the pipeline. Failures surface as a warning
        carrying the output path, so telemetry loss is visible without
        being fatal.
        """
        try:
            data_sources = self._get_data_sources(df)
            code_file = paths.get_codefile_path()
            self._store_lineage_log(
                self._create_lineage_log(data_sources, output_path, code_file)
            )
        except Exception as exc:  # noqa: BLE001 — telemetry must not fail IO
            warnings.warn(
                f"Data-lineage capture failed for {output_path!r} "
                f"({type(exc).__name__}: {exc}); the data write itself "
                "succeeded.",
                stacklevel=2,
            )
