"""DataLineageLogger: a storage output-observer that appends one lineage
row per write.

Reference: /root/reference/jorvik/data_lineage/observer.py:22-105. On every
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
still recorded. Log writes go through a non-lineage-tracking storage
(recursion guard, quirk Q10 kept), in Delta when available, else parquet.
"""

from __future__ import annotations

import re
import warnings
from datetime import datetime
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


def _leaf_source(leaf) -> str:
    """Classify one leaf of a logical plan (reference
    node_handler.py:49-69, on plan objects instead of explain text)."""
    kind = leaf.getClass().getSimpleName()
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
        plan's leaves (nested subqueries included)."""
        analyzed = df._jdf.queryExecution().analyzed()
        plans = [analyzed] + _scala_list(analyzed.subqueriesAll())
        return [
            _leaf_source(leaf)
            for plan in plans
            for leaf in _scala_list(plan.collectLeaves())
        ]

    def _create_lineage_log(
        self, data_sources: List[str], output_path: str, code_file_path: str
    ) -> DataFrame:
        spark = SparkSession.getActiveSession()
        row = [[output_path, data_sources, code_file_path, datetime.now()]]
        return spark.createDataFrame(row, LINEAGE_SCHEMA)

    def _store_lineage_log(self, lineage_log: DataFrame) -> None:
        from jorvik_spark import storage  # lazy: avoid circular import
        from jorvik_spark.storage.basic import _MERGE_CREATE_FORMAT

        st = storage.configure(track_lineage=False)  # recursion guard (Q10)
        st.write(
            lineage_log, self.lineage_log_path,
            format=_MERGE_CREATE_FORMAT, mode="append",
        )

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
