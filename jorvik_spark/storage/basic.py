"""BasicStorage: format-validated batch/stream IO + MERGE upsert.

Reference: /root/reference/jorvik/storage/basic.py:10-267 (read :15-41,
readStream :43-69, write :71-104, writeStream :106-134, merge :136-191,
_merge_schema :193-220, exists :222-254, observers :256-267).

Spark-first re-expression, with two deliberate deviations (SURVEY.md
Appendix A): Q2 — streaming writes notify observers *after* ``start()``
(the reference notifies before); Q3 — ``readStream`` accepts a declared
schema and skips the batch-inference read when one is given.

Parquet schemas from one footer
-------------------------------
Spark infers a parquet path's schema by running a one-task job that reads
one footer. ``read`` reads that same footer on the driver instead: it
lists the path through its own Hadoop FileSystem, skips what Spark's file
index skips (``_x`` without ``=``, ``.x``, ``*._COPYING_``), takes the
data file whose path sorts first (Spark's pick), and converts the footer
with Spark's own converter under the live session conf. The read then
passes that schema to ``.schema(...)``, so a storage read runs no job;
partition columns are still discovered and appended by Spark. Spark's
inference stays wherever the footer path could differ from it: read
options, glob paths, ``mergeSchema`` or ``respectSummaryFiles`` on, a
summary file or a stream sink's ``_spark_metadata`` log, a kept
subdirectory not named ``k=v``, a partition column also stored in the
files, no data file, more than
``_FOOTER_LIST_LIMIT`` listed entries, or any JVM error (a missing path
or a corrupt file then raises what Spark raises).

Small appends from the driver
-----------------------------
``append_table`` appends a small ``pyarrow.Table`` (a lineage row) as one
new parquet file that the driver writes and publishes by rename: no Spark
job, no committer, no ``_SUCCESS``.

MERGE without Delta
-------------------
This container has no delta-spark, so ``merge`` delegates to the Delta
MERGE API only when the package is importable AND the target is a Delta
table; otherwise it executes the same semantics natively over the stored
format by rewriting the table as the union of three branches of one plan:

    rewritten = target LEFT JOIN source ON the applying clause, where
                applies = merge_condition AND (delete OR update); rows
                whose match is a delete are dropped, matched rows take
                the source's values
    inserted  = source LEFT ANTI JOIN target ON merge_condition, filtered
                by insert_condition
    witness   = target rows with more than one applying source row, each
                projected as a raise_error

With a broadcastable source no branch shuffles the table: the rewrite is
a broadcast join streaming the target, and the witness shuffles only the
applying matches to count them per target row. The union is coalesced,
without a shuffle, to the larger of the target's and the source's
partition counts, so the file count does not grow from merge to merge.
The one write is swapped in atomically (write to temp dir → rename via
the Hadoop FileSystem API, so the same code works on HDFS/S3A/local).
Multiple source rows applying to one target row raise from inside that
write, before any rename, exactly like Delta MERGE.

At 100 TB the native path is a full-table rewrite per merge — correct but
write-amplified; the production recommendation is a transactional format
(Delta/Iceberg), which this method automatically uses when available.
"""

from __future__ import annotations

import uuid
from typing import List, Union
from urllib.parse import unquote

from py4j.protocol import Py4JError
from pyspark.errors import AnalysisException, PySparkException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import ArrayType, DataType, MapType, StructType

from jorvik_spark.audit import schemas
from jorvik_spark.storage.protocols import OutputObserver

try:  # delta-spark is optional; all Delta behavior is gated on this.
    from delta import DeltaTable

    _HAS_DELTA = True
except ImportError:
    DeltaTable = None
    _HAS_DELTA = False

FORMATS = ("delta", "parquet", "json", "csv", "orc")

# Format used when merge() must create a missing target. The reference is
# delta-only here; without delta-spark we keep MERGE first-class on parquet.
_MERGE_CREATE_FORMAT = "delta" if _HAS_DELTA else "parquet"

_MATCH = "__jorvik_merge_match__"
_FID = "__jorvik_merge_fid__"
# Distinctive raise_error payload for the in-plan multi-match guard;
# merge() translates it back into the contract's ValueError.
_MULTI_MATCH_MARKER = "JORVIK_MERGE_MULTI_MATCH"

# A path with one of these is a glob (SparkHadoopUtil.isGlobPath).
_GLOB_CHARS = frozenset("{}[]*?\\")
# Parquet summary files: Spark's inference reads one before any data file.
_SUMMARY_FILES = ("_metadata", "_common_metadata")
# Each listed file costs a few gateway calls; past this many, Spark's own
# inference (a JVM-side listing plus one task) is the cheaper path. The
# cutoff comes from local-FS micro-timings; no benchmark workload lists this
# many entries, and the per-entry cost on an object store is unmeasured.
_FOOTER_LIST_LIMIT = 64


def _check_format(format: str) -> None:
    if format not in FORMATS:
        raise ValueError(f"Unsupported format: {format}")
    if format == "delta" and not _HAS_DELTA:
        raise ValueError(
            "Format 'delta' requires the delta-spark package, which is not "
            "installed. Use 'parquet' (merge-capable here) or install delta-spark."
        )


def _q(name: str) -> str:
    """``name`` as a backquoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _sql_type(t: DataType) -> str:
    """``t`` as SQL type text, with struct field names backquoted."""
    if isinstance(t, StructType):
        return "struct<" + ",".join(
            f"{_q(f.name)}:{_sql_type(f.dataType)}" for f in t.fields
        ) + ">"
    if isinstance(t, ArrayType):
        return f"array<{_sql_type(t.elementType)}>"
    if isinstance(t, MapType):
        return f"map<{_sql_type(t.keyType)},{_sql_type(t.valueType)}>"
    return t.simpleString()


def _partitions(df: DataFrame) -> int:
    """Partitions ``df`` is read in, found without running a job. Adaptive
    execution (on by default) wraps every plan that has an exchange, whose
    partition count is known only after running it; such a plan counts as
    the session's default parallelism."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        return df.sparkSession.sparkContext.defaultParallelism
    return plan.execute().getNumPartitions()


def _merge_rewrite(
    full: DataFrame,
    df: DataFrame,
    merge_condition: str,
    update_condition: Union[str, None],
    insert_condition: Union[str, None],
    delete_condition: Union[str, None],
) -> DataFrame:
    """The native merge's new table: ``full`` (the target) with ``df``
    (the source) applied, both with the same columns. Three branches of
    one plan: the target rewritten through a left join on the applying
    clause, the inserted source rows, and the multi-match witness."""
    fields = full.schema.fields

    # A matched clause applies when the merge condition holds and the
    # delete or the update condition is true; a NULL condition does
    # not fire (Delta's semantics). Joining on this, a target row
    # meets at most one applying source row unless the merge is
    # ambiguous, which the witness branch below reports.
    delete = "false" if delete_condition is None else delete_condition
    update = "true" if update_condition is None else update_condition
    applies = F.expr(
        f"({merge_condition}) AND "
        f"(coalesce(({delete}), false) OR coalesce(({update}), false))"
    )
    src = df.selectExpr("*", f"true AS {_MATCH}").alias("incremental")
    matched = f"incremental.{_MATCH} IS NOT NULL"
    # Delete takes precedence over update: same clause order as the
    # Delta path (whenMatchedDelete added before whenMatchedUpdateAll).
    rewritten = (
        full.alias("full")
        .join(src, applies, "left")
        .filter(f"NOT ({matched} AND coalesce(({delete}), false))")
        .selectExpr(*(
            f"CASE WHEN {matched} THEN incremental.{_q(f.name)} "
            f"ELSE full.{_q(f.name)} END AS {_q(f.name)}"
            for f in fields
        ))
    )

    inserts = df.alias("incremental").join(
        full.alias("full"), F.expr(merge_condition), "left_anti"
    )
    if insert_condition is not None:
        inserts = inserts.filter(insert_condition)

    # Delta MERGE raises when several source rows would apply a matched
    # clause to the same target row; reproduce that contract with a
    # witness branch of the same write: target rows with more than one
    # applying source row, each projected as a raise_error. Only the
    # applying matches are shuffled (to count them per target row),
    # never the table. The raise fails the single write action before
    # any rename in _atomic_overwrite (the target is untouched; the
    # partial __tmp__ dir is overwritten by the next merge), and merge()
    # translates the marker back into the contract's ValueError.
    witness = (
        full.selectExpr("*", f"monotonically_increasing_id() AS {_FID}")
        .alias("full")
        .join(src, applies)
        .groupBy(f"full.{_FID}")
        .count()
        .filter("count > 1")
        .selectExpr(*(
            f"CAST(raise_error('{_MULTI_MATCH_MARKER}') AS "
            f"{_sql_type(f.dataType)}) AS {_q(f.name)}"
            for f in fields
        ))
    )
    # With a broadcast source no branch shuffles the table, so the union
    # keeps one partition per target split plus the source's; coalescing
    # back (no shuffle) keeps the file count from growing merge after
    # merge, and a large source keeps its parallelism.
    return (
        rewritten.union(inserts.selectExpr(*(_q(f.name) for f in fields)))
        .union(witness)
        .coalesce(max(_partitions(full), _partitions(df)))
    )


def _listed(name: str) -> bool:
    """Whether Spark's file index keeps a file or directory of this name
    (HadoopFSUtils.shouldFilterOutPathName, negated)."""
    if name.startswith(_SUMMARY_FILES):
        return True
    return not (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def _footer_schema(spark: SparkSession, path: str):
    """The data schema (a JVM ``StructType``) Spark's parquet inference
    gives ``path``, read from one footer on the driver; ``None`` where
    only that inference is right (see the module docstring)."""
    state = spark._jsparkSession.sessionState()
    sql_conf = state.conf()
    if (
        _GLOB_CHARS.intersection(path)
        or sql_conf.isParquetSchemaMergingEnabled()
        or sql_conf.isParquetSchemaRespectSummaries()
    ):
        return None
    jvm = spark.sparkContext._jvm
    HPath = jvm.org.apache.hadoop.fs.Path
    try:
        hconf = state.newHadoopConf()
        root = HPath(path)
        fs = root.getFileSystem(hconf)
        root = fs.makeQualified(root)
        if fs.exists(HPath(root, "_spark_metadata")):
            return None
        # listStatus, not listFiles: a located status loads permissions,
        # which the local FileSystem does by forking a process per file.
        # A file root lists as itself and is filtered by its own name, as
        # in Spark's file index.
        data, listed, pending = {}, 0, [(root, ())]
        while pending:
            directory, above = pending.pop()
            statuses = fs.listStatus(directory)
            listed += len(statuses)
            if listed > _FOOTER_LIST_LIMIT:
                return None
            for status in statuses:
                file = status.getPath()
                name = file.getName()
                if name in _SUMMARY_FILES:
                    return None
                if not _listed(name):
                    continue
                if status.isDirectory():
                    # Without a partition column Spark reads only the
                    # root's own files, and a plain directory beside
                    # ``k=v`` ones is a conflict; either way only its
                    # inference is right.
                    if "=" not in name:
                        return None
                    pending.append((file, above + (name,)))
                else:
                    data[file.toString()] = (above, file)
        if not data:
            return None
        above, first = data[min(data)]
        # A partition column also stored in the files keeps its data-schema
        # position only when Spark infers the schema itself.
        keys = {unquote(d.split("=", 1)[0]).lower() for d in above}
        footer = jvm.org.apache.parquet.hadoop.ParquetFileReader.readFooter(
            hconf, first,
            jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS,
        )
        parquet = jvm.org.apache.spark.sql.execution.datasources.parquet
        schema = parquet.ParquetFileFormat.readSchemaFromFooter(
            jvm.org.apache.parquet.hadoop.Footer(first, footer),
            parquet.ParquetToSparkSchemaConverter(sql_conf),
        )
        if keys and any(n.lower() in keys for n in schema.fieldNames()):
            return None
    except (Py4JError, PySparkException):
        return None
    return schema


def _hadoop_fs(spark: SparkSession, path: str):
    """``path``'s Hadoop FileSystem, under the session's Hadoop conf (the
    one Spark's file index uses, with any ``spark.conf`` Hadoop keys), and
    ``path`` qualified by it."""
    hpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsparkSession.sessionState().newHadoopConf())
    return fs, fs.makeQualified(hpath)


def _active_session() -> SparkSession:
    spark = SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError("No active SparkSession.")
    return spark


class BasicStorage:
    """Path-addressed lake storage over the active SparkSession."""

    def __init__(self):
        self.output_observers: List[OutputObserver] = []

    # -- batch ------------------------------------------------------------

    def read(self, path: str, format: str = "parquet", options: dict = None) -> DataFrame:
        """Batch scan (reference basic.py:15-41). CSV defaults to
        header=True + inferSchema=True. A parquet path without options
        takes its schema from one footer read on the driver."""
        _check_format(format)
        spark = _active_session()
        if format == "parquet" and not options and isinstance(path, str):
            schema = _footer_schema(spark, path)
            if schema is not None:
                jreader = spark._jsparkSession.read().format(format).schema(schema)
                return DataFrame(jreader.load(path), spark)
        options = dict(options or {})
        if format == "csv":
            options.setdefault("header", True)
            options.setdefault("inferSchema", True)
        return spark.read.format(format).options(**options).load(path)

    def write(
        self,
        df: DataFrame,
        path: str,
        format: str = "parquet",
        mode: str = "append",
        partition_fields: Union[str, List[str]] = "",
        options: dict = None,
    ) -> None:
        """Batch sink (reference basic.py:71-104). ``overwrite`` implies
        overwriteSchema=true (quirk Q8, kept); observers notified after save."""
        _check_format(format)
        options = dict(options or {})
        if format == "csv":
            options.setdefault("header", True)
            options.setdefault("delimiter", ",")

        writer = df.write.format(format)
        if mode == "overwrite":
            writer = writer.option("overwriteSchema", "true")
        if partition_fields:
            writer = writer.partitionBy(partition_fields)
        writer.options(**options).mode(mode).save(path)
        self.notify_output_observers(df, path)

    def append_table(self, table, path: str) -> None:
        """Append ``table``, a small ``pyarrow.Table``, to the parquet table
        at ``path`` as one new file that the driver writes and publishes:
        no Spark job, no committer, no ``_SUCCESS``. The file is written
        under a hidden temp name, which readers skip, then renamed into
        place. Observers are not notified: there is no DataFrame."""
        import pyarrow as pa  # lazy: loaded on the first append
        import pyarrow.parquet as pq

        buf = pa.BufferOutputStream()
        pq.write_table(table, buf)
        spark = _active_session()
        HPath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
        fs, root = _hadoop_fs(spark, path)
        name = f"part-{uuid.uuid4()}.parquet"
        tmp = HPath(root, f".{name}.tmp")
        try:
            out = fs.create(tmp, False)
            try:
                out.write(buf.getvalue().to_pybytes())
            finally:
                out.close()
            if not fs.rename(tmp, HPath(root, name)):
                raise IOError(f"Could not publish {name} under {path}")
        except Exception:
            try:
                fs.delete(tmp, False)  # best effort; the cause is re-raised
            except Exception:  # noqa: BLE001
                pass
            raise

    # -- streaming --------------------------------------------------------

    def readStream(
        self,
        path: str,
        format: str = "parquet",
        options: dict = None,
        schema=None,
    ) -> DataFrame:
        """Streaming scan (reference basic.py:43-69). Non-Delta file streams
        need a schema: the declared one when given (Q3 fix), else inferred
        by a one-off batch read of the same path."""
        _check_format(format)
        spark = _active_session()
        reader = spark.readStream
        if format != "delta":
            reader = reader.schema(schema or self.read(path, format, options).schema)
        reader = reader.format(format)
        if options:
            reader = reader.options(**options)
        return reader.load(path)

    def writeStream(
        self,
        df: DataFrame,
        path: str,
        format: str = "parquet",
        checkpoint: str = None,
        partition_fields: Union[str, List[str]] = "",
        options: dict = None,
    ) -> StreamingQuery:
        """Streaming sink with mandatory checkpoint (reference
        basic.py:106-134). Observers notified after ``start()`` (Q2 fix)."""
        _check_format(format)
        if not checkpoint:
            raise ValueError("writeStream requires a checkpoint location.")
        writer = df.writeStream.format(format)
        if partition_fields:
            writer = writer.partitionBy(partition_fields)
        if options:
            writer = writer.options(**options)
        query = writer.option("checkpointLocation", checkpoint).start(path)
        self.notify_output_observers(df, path)
        return query

    # -- merge ------------------------------------------------------------

    def merge(
        self,
        df: DataFrame,
        path: str,
        merge_condition: str,
        partition_fields: Union[str, List[str]] = "",
        merge_schemas: bool = False,
        update_condition: Union[str, bool, None] = None,
        insert_condition: Union[str, bool, None] = None,
        delete_condition: Union[str, bool, None] = None,
    ) -> None:
        """Conditional upsert of ``df`` (alias ``incremental``) into the
        table at ``path`` (alias ``full``) — reference basic.py:136-191.

        * ``update_condition`` / ``insert_condition``: optional SQL over the
          two aliases; ``False`` disables that branch entirely; all
          branches disabled raises ValueError.
        * ``delete_condition`` (engine extension beyond the reference
          surface, backward-compatible): SQL over the two aliases; a
          MATCHED target row satisfying it is DELETED. Delete takes
          precedence over update (Delta clause order: ``whenMatchedDelete``
          added first), which is the CDC-apply contract — an incremental
          row flagged ``op = 'D'`` removes the target row even if the
          update condition would also hold. ``None`` (default) preserves
          the reference's exact upsert-only behavior.
        * A condition that is NULL does not fire. More than one source row
          applying a matched clause (delete or update) to one target row
          raises ValueError, like Delta MERGE.
        * Missing target → plain overwrite write (table creation). Kept
          reference-faithful (basic.py:169-174): the conditions do NOT
          apply on creation, so the first merge writes every incremental
          row even under an insert_condition — callers needing a filtered
          bootstrap (or a delete-flag-free bootstrap) must pre-filter or
          create the table first.
        * Schema drift → ValueError unless ``merge_schemas=True`` (null-fill
          both directions, reference basic.py:193-220).
        """
        if isinstance(update_condition, bool):
            update_condition = str(update_condition).lower()
        if isinstance(insert_condition, bool):
            insert_condition = str(insert_condition).lower()
        if isinstance(delete_condition, bool):
            delete_condition = str(delete_condition).lower()
        if update_condition == insert_condition == "false" and (
            delete_condition is None or delete_condition == "false"
        ):
            raise ValueError(
                "Inserts, updates, and deletes are all ignored; this "
                "operation would have no effect."
            )

        self._recover_interrupted_swap(path)
        if not self.exists(path):
            self.write(
                df,
                path,
                format=_MERGE_CREATE_FORMAT,
                mode="overwrite",
                partition_fields=partition_fields,
            )
            return

        spark = _active_session()
        if _HAS_DELTA and DeltaTable.isDeltaTable(spark, path):
            df = self._merge_schema(df, path, "delta", merge_schemas)
            builder = (
                DeltaTable.forPath(spark, path)
                .alias("full")
                .merge(df.alias("incremental"), merge_condition)
            )
            if delete_condition is not None:
                # first clause added = first evaluated: delete precedence
                builder = builder.whenMatchedDelete(delete_condition)
            (
                builder.whenMatchedUpdateAll(update_condition)
                .whenNotMatchedInsertAll(insert_condition)
                .execute()
            )
            self.notify_output_observers(df, path)
            return

        # Native path: same semantics reconstructed relationally on parquet.
        fmt = "parquet"
        try:
            full = self.read(path, format=fmt)
        except AnalysisException as e:
            raise ValueError(
                "The given path is not a mergeable table "
                f"(unreadable as {fmt}): {e}"
            ) from e

        df = self._merge_schema(df, path, fmt, merge_schemas, current_table=full)
        full = self._null_fill_new_fields(full, df)
        result = _merge_rewrite(
            full, df, merge_condition,
            update_condition, insert_condition, delete_condition,
        )

        try:
            self._atomic_overwrite(result, path, fmt, partition_fields)
        except Exception as e:  # noqa: BLE001 — marker-translated below
            if _MULTI_MATCH_MARKER in str(e):
                raise ValueError(
                    "Multiple source rows matched and would update the same "
                    "target row (merge condition is not selective enough)."
                ) from e
            raise
        self.notify_output_observers(df, path)

    def _merge_schema(
        self,
        df: DataFrame,
        path: str,
        format: str,
        merge_schemas: bool,
        current_table: DataFrame = None,
    ) -> DataFrame:
        """Null-fill schema evolution (reference basic.py:193-220).

        Fields missing from the incremental side are added as typed nulls;
        new incremental fields are null-filled into the stored table (the
        Delta branch rewrites it — without the reference's bogus
        ``replaceWhere`` option, quirk Q9; the native branch evolves the
        in-memory target, materialized by the merge rewrite itself).
        """
        current = (
            current_table
            if current_table is not None
            else self.read(path, format=format)
        )
        if schemas.are_equal(df.schema, current.schema):
            return df

        current_names = {f.name for f in current.schema.fields}
        incoming_names = {f.name for f in df.schema.fields}
        new = [f for f in df.schema.fields if f.name not in current_names]
        missing = [f for f in current.schema.fields if f.name not in incoming_names]

        if not merge_schemas:
            raise ValueError(
                "Incremental data have a different schema.\n"
                f"New fields: {new}\nMissing fields: {missing}"
            )

        for f in missing:
            df = df.withColumn(f.name, F.lit(None).cast(f.dataType))

        if new and format == "delta":
            for f in new:
                current = current.withColumn(f.name, F.lit(None).cast(f.dataType))
            self.write(
                current, path, format="delta", mode="overwrite",
                options={"mergeSchema": "true"},
            )
        return df

    @staticmethod
    def _null_fill_new_fields(full: DataFrame, df: DataFrame) -> DataFrame:
        """Add incremental-only fields to the target as typed nulls."""
        have = {f.name for f in full.schema.fields}
        for f in df.schema.fields:
            if f.name not in have:
                full = full.withColumn(f.name, F.lit(None).cast(f.dataType))
        return full

    def _recover_interrupted_swap(self, path: str) -> None:
        """Roll forward a crash inside :meth:`_atomic_overwrite`'s rename
        pair: if the table is missing but its ``…__old__`` copy exists, the
        previous merge died between rename (2) and (3) — restore the old
        copy as the table. Without this, a retried merge would see a
        missing target, rebuild the table from the incremental rows alone,
        and later delete the only full copy as a "stale leftover"."""
        spark = _active_session()
        jvm = spark.sparkContext._jvm
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        HPath = jvm.org.apache.hadoop.fs.Path
        old = HPath(path.rstrip("/") + "__jorvik_merge_old__")
        # No blanket except around the probe: if getFileSystem/exists
        # throws (transient FS/credential error), we CANNOT know whether
        # an interrupted swap left the table aside — silently skipping
        # recovery would let the retrying merge "create" the table from
        # the incremental batch alone and later delete the __old__ copy
        # as a stale leftover: permanent loss of the full table, the
        # exact scenario this roll-forward exists to prevent. Failing the
        # merge loudly is the only safe answer to an unanswerable probe.
        fs = HPath(path).getFileSystem(hconf)
        if fs.exists(old) and not fs.exists(HPath(path)):
            if not fs.rename(old, HPath(path)):
                raise IOError(
                    f"Found interrupted merge swap but could not "
                    f"restore {old} -> {path}"
                )

    def _atomic_overwrite(
        self,
        result: DataFrame,
        path: str,
        format: str,
        partition_fields: Union[str, List[str]] = "",
    ) -> None:
        """Rewrite ``path`` with ``result`` while ``result`` still reads
        from ``path``: materialize into a temp sibling, then swap via the
        Hadoop FileSystem API (portable across local/HDFS/S3A).

        Swap protocol is rename-aside, so a crash at any step leaves a
        recoverable table: (1) write to ``…__tmp__``; (2) rename ``path``
        → ``…__old__``; (3) rename ``…__tmp__`` → ``path`` (restoring
        ``…__old__`` on failure); (4) delete ``…__old__``. The table is
        absent only inside the (2)–(3) rename pair — never deleted before
        its replacement exists. Note HDFS/local renames are atomic but
        the pair is not one transaction; object stores without atomic
        rename (raw S3) want a manifest-committer or Delta instead.
        """
        spark = _active_session()
        base = path.rstrip("/")
        tmp = base + "__jorvik_merge_tmp__"
        old = base + "__jorvik_merge_old__"
        writer = result.write.format(format).mode("overwrite")
        if partition_fields:
            writer = writer.partitionBy(partition_fields)
        writer.save(tmp)

        jvm = spark.sparkContext._jvm
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        HPath = jvm.org.apache.hadoop.fs.Path
        fs = HPath(path).getFileSystem(hconf)
        fs.delete(HPath(old), True)  # stale leftover from a prior crash
        if fs.exists(HPath(path)) and not fs.rename(HPath(path), HPath(old)):
            raise IOError(f"Swap failed: could not move {path} aside")
        if not fs.rename(HPath(tmp), HPath(path)):
            fs.rename(HPath(old), HPath(path))  # restore the original
            raise IOError(f"Swap failed: could not rename {tmp} -> {path}")
        fs.delete(HPath(old), True)

    # -- existence --------------------------------------------------------

    def exists(self, path: str) -> bool:
        """3-tier path probe (reference basic.py:222-254): Delta check when
        available → Hadoop FileSystem.exists → text-read sniff. Directory
        existence counts even when empty (quirk Q7, kept — tests rely on it).
        """
        spark = _active_session()
        if _HAS_DELTA and DeltaTable.isDeltaTable(spark, path):
            return True
        try:
            sc = spark.sparkContext
            jvm = sc._jvm
            hpath = jvm.org.apache.hadoop.fs.Path(path)
            # The path's OWN filesystem, not the default FS: with a local/
            # HDFS default, FileSystem.get(conf) throws Wrong-FS for every
            # s3a://... path and forces the slow tier-3 text-read sniff —
            # and exists() sits on the hot path of every isolated read.
            fs = hpath.getFileSystem(sc._jsc.hadoopConfiguration())
            return fs.exists(hpath)
        except Exception:
            pass
        try:
            spark.read.format("text").load(path)
            return True
        except AnalysisException as e:
            if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
                return False
            raise

    # -- observers --------------------------------------------------------

    def register_output_observer(self, observer: OutputObserver) -> None:
        """Subscribe to (df, output_path) write events (basic.py:256-262)."""
        self.output_observers.append(observer)

    def notify_output_observers(self, df: DataFrame, output_path: str) -> None:
        for observer in self.output_observers:
            observer.update(df, output_path)
