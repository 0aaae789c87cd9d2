"""IsolatedStorage: dev-branch sandbox via transparent path rewriting.

Reference: /root/reference/jorvik/storage/isolation.py:13-337. Writes from
a feature branch land in ``<mount>/<iso_folder>/<context>/...``; reads
prefer the isolated copy and fall back to production; production reads can
be forced. Path algebra (reference isolation.py:31-83):

    create:  /mnt/X           → /mnt/<iso_folder>/<context>/X
    remove:  /mnt/<iso_folder>/<context>/X → /mnt/X   (inverse)

Deliberate deviation (quirk Q6, SURVEY.md Appendix A): ``merge`` ALWAYS
targets the isolated path. The reference silently merges into production
when no isolated copy exists; here a first merge from a feature branch
creates the isolated table instead (BasicStorage.merge handles the
missing-target case by creating it), so a sandbox run can never mutate
production data.

Scale note: isolation is a pre-plan, driver-side string rewrite — zero
effect on the physical plan, shuffles, or pushdown.
"""

from __future__ import annotations

import datetime
import os
import re
from typing import Callable, List, Optional, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from jorvik_spark.storage.basic import BasicStorage

_SCHEME = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*://")

def _normalize(path: str) -> str:
    """Collapse duplicate slashes WITHOUT destroying a URI scheme: the
    plain ``re.sub('/+', '/')`` turns ``s3a://bucket/x`` into
    ``s3a:/bucket/x``, silently breaking every isolation rewrite on an
    object-store lake. The scheme's ``//`` is preserved; the path part
    is collapsed as before."""
    m = _SCHEME.match(path)
    if m:
        return m.group(0) + re.sub("/+", "/", path[m.end():])
    return re.sub("/+", "/", path)


MOUNT_POINT_CONF = "io.jorvik.storage.mount_point"
ISOLATION_FOLDER_CONF = "io.jorvik.storage.isolation_folder"
DEFAULT_MOUNT_POINT = "/mnt"
DEFAULT_ISOLATION_FOLDER = "jorvik_isolation"


class IsolatedStorage:
    """Wrap a BasicStorage so every operation is sandboxed by context."""

    def __init__(
        self,
        storage: BasicStorage,
        verbose: bool = False,
        isolation_provider: Callable[[], str] = None,
    ):
        self.storage = storage
        self.verbose = verbose
        self.isolation_provider = isolation_provider

    # -- path algebra -----------------------------------------------------

    def _mount_point(self) -> str:
        spark = SparkSession.getActiveSession()
        mount = (spark.conf.get(MOUNT_POINT_CONF, "") or "").rstrip("/")
        if not mount:
            mount = DEFAULT_MOUNT_POINT
        # URI-addressed lakes (s3a://bucket/lake, abfss://...) keep their
        # scheme verbatim; only bare paths get the leading slash.
        if not mount.startswith("/") and not _SCHEME.match(mount):
            mount = "/" + mount
        return mount

    def _isolation_folder(self) -> str:
        spark = SparkSession.getActiveSession()
        return (
            spark.conf.get(ISOLATION_FOLDER_CONF, DEFAULT_ISOLATION_FOLDER)
            or ""
        ).strip("/")

    def _create_isolation_path(self, path: str) -> str:
        """Rewrite ``<mount>/X`` → ``<mount>/<folder>/<context>/X``
        (reference isolation.py:31-64; unit table
        test/storage/test_isolation.py:47-66). Raises when the isolation
        folder has not been provisioned, or when ``path`` is not under the
        mount point at all — a path the algebra cannot isolate must never
        silently fall through to its production location (the reference's
        unanchored ``replace`` did exactly that for e.g. ``s3a://…``, and
        corrupted lookalikes like ``/mnt2/x``)."""
        rewritten = self._try_create_isolation_path(path)
        if rewritten is None:
            raise ValueError(
                f"Path {path!r} is not under the mount point "
                f"{self._mount_point()!r} and cannot be isolated; "
                "configure io.jorvik.storage.mount_point or use an "
                "un-isolated storage for non-lake paths."
            )
        return rewritten

    def _try_create_isolation_path(self, path: str) -> Optional[str]:
        """Anchored rewrite; ``None`` when ``path`` is outside the mount
        (read paths fall back to production, write paths must raise).

        The out-of-mount test runs BEFORE the provisioned-folder check: a
        path the algebra cannot isolate anyway must fall back (or raise
        ValueError on write) identically whether or not the sandbox
        folder exists — an unprovisioned folder used to turn a
        documented production fallback into a RuntimeError."""
        mount = self._mount_point()
        normalized = _normalize(path)
        if not normalized.startswith(mount.rstrip("/") + "/"):
            return None
        folder = self._isolation_folder()
        mounted_folder = os.path.join(mount, folder)
        if not self.storage.exists(mounted_folder):
            raise RuntimeError(
                f"Isolation folder: {mounted_folder} does not exist! "
                "Have you mounted it?"
            )
        context = (self.isolation_provider() or "").strip("/")
        rewritten = normalized.replace(
            mount, mount + "/" + folder + "/" + context + "/", 1
        )
        return _normalize(rewritten)

    def _remove_isolation_path(self, path: str) -> str:
        """Inverse rewrite for forced production reads (isolation.py:66-83).

        Anchored to the exact ``<mount>/<folder>/<context>/`` prefix that
        :meth:`_create_isolation_path` produces, unlike the reference's
        global substring replace (which corrupts e.g. ``/mnt/datalake/x``
        → ``/mnt/lake/x`` when the context is ``data``). A path without
        the isolation prefix is returned unchanged (slash-normalized).
        """
        mount = self._mount_point()
        folder = self._isolation_folder()
        context = (self.isolation_provider() or "").strip("/")
        normalized = _normalize(path)
        prefix = _normalize(
            mount + "/" + folder + "/" + context
        ).rstrip("/")
        if normalized.startswith(prefix + "/"):
            return _normalize(
                mount + "/" + normalized[len(prefix) + 1:]
            )
        return normalized

    # -- verbose diagnostics ---------------------------------------------

    def _verbose_table_name(self, path: str) -> str:
        """Compressed human label for a path (isolation.py:124-165).

        Filters mount-point segments using the raw conf value (which has no
        leading slash when set like ``custom``), not the normalized form.
        """
        spark = SparkSession.getActiveSession()
        raw_mount = spark.conf.get(MOUNT_POINT_CONF, "") or DEFAULT_MOUNT_POINT
        skip = {"", "mnt", "dbfs", raw_mount, raw_mount.strip("/")}
        path = path.rstrip("/")
        parts = [p for p in path.split("/") if p not in skip]
        if not parts:
            return "Unknown"
        if len(parts) > 2:
            return f"{parts[0]}...{parts[-2]}/{parts[-1]}"
        if len(parts) > 1:
            return f"{parts[0]}...{parts[-1]}"
        return parts[-1]

    def _verbose_print_path(self, path: str, operation: str) -> None:
        prefix = f"{operation}: {self._verbose_table_name(path)}"
        dots = "." * max(1, 50 - len(prefix))
        print(f"{prefix} {dots} path: {path}")

    def _verbose_print_last_updated(self, path: str) -> None:
        """Print table age (isolation.py:85-122). The reference reads Delta
        history; without delta-spark we fall back to the Hadoop FS
        modification time of the table directory — same diagnostic intent."""
        ts = None
        try:
            from delta.tables import DeltaTable
            from pyspark.sql import functions as F

            spark = SparkSession.getActiveSession()
            ts = (
                DeltaTable.forPath(spark, path)
                .history()
                .filter(F.col("operation").isin(["WRITE", "MERGE", "STREAMING"]))
                .limit(1)
                .select(F.max("timestamp").alias("latest_update"))
                .collect()[0][0]
            )
        except ImportError:
            spark = SparkSession.getActiveSession()
            try:
                sc = spark.sparkContext
                jvm = sc._jvm
                fs = jvm.org.apache.hadoop.fs.FileSystem.get(
                    sc._jsc.hadoopConfiguration()
                )
                status = fs.getFileStatus(jvm.org.apache.hadoop.fs.Path(path))
                ts = datetime.datetime.fromtimestamp(
                    status.getModificationTime() / 1000.0
                )
            except Exception:
                ts = None
        except Exception:
            ts = None

        if ts is None:
            print("No update history found for table.\n")
            return
        delta_t = datetime.datetime.now() - ts
        total = delta_t.total_seconds()
        print(
            f"Table was last updated: {delta_t.days} days, "
            f"{int(total // 3600) % 24} hours, {int(total // 60) % 60} "
            "minutes ago.\n"
        )

    def _verbose_output(self, path: str, operation: str, format: str) -> None:
        self._verbose_print_path(path, operation)
        if operation in ("Merging", "Reading") and format in ("delta", "parquet"):
            self._verbose_print_last_updated(path)

    # -- storage surface --------------------------------------------------

    def exists(self, path: str) -> bool:
        """True when :meth:`read` would find something: the isolated copy
        or, failing that, the production table. A bare production check
        would disagree with read() on any branch that has only written
        its sandbox copy (``if exists: read`` must not re-bootstrap).

        An unprovisioned isolation folder is not an error here (reference
        isolation.py answers existence probes rather than raising): with
        no sandbox mounted, only production can match.
        """
        try:
            isolation_path = self._try_create_isolation_path(path)
        except RuntimeError:
            isolation_path = None
        if isolation_path is not None and self.storage.exists(isolation_path):
            return True
        return self.storage.exists(path)

    def _resolve_read_path(self, path: str) -> str:
        """Isolated copy if present, else production. A path outside the
        mount has no isolated copy by construction — read it as-is.

        An unprovisioned isolation folder means no sandbox copy can
        exist, so reads fall back to production — the same probe
        semantics as :meth:`exists` (``if exists(p): read(p)`` must not
        raise where exists() answered). Only WRITES require the
        provisioned folder (reference isolation.py:53 raises there)."""
        try:
            isolation_path = self._try_create_isolation_path(path)
        except RuntimeError:
            isolation_path = None
        if isolation_path is not None and self.storage.exists(isolation_path):
            return isolation_path
        return path

    def read(self, path: str, format: str = "parquet", options: dict = None) -> DataFrame:
        """Isolated copy if present, else production (isolation.py:208-228)."""
        path = self._resolve_read_path(path)
        if self.verbose:
            self._verbose_output(path, "Reading", format=format)
        return self.storage.read(path, format, options)

    def readStream(
        self, path: str, format: str = "parquet", options: dict = None, schema=None
    ) -> DataFrame:
        path = self._resolve_read_path(path)
        if self.verbose:
            self._verbose_output(path, "Reading", format=format)
        return self.storage.readStream(path, format, options, schema=schema)

    def read_production_data(
        self, path: str, format: str = "parquet", options: dict = None
    ) -> DataFrame:
        """Forced production read — isolation stripped (isolation.py:253-272)."""
        production_path = self._remove_isolation_path(path)
        if self.verbose:
            self._verbose_output(production_path, "Reading", format=format)
        return self.storage.read(production_path, format=format, options=options)

    def write(
        self,
        df: DataFrame,
        path: str,
        format: str = "parquet",
        mode: str = "append",
        partition_fields: Union[str, List[str]] = "",
        options: dict = None,
    ) -> None:
        """Always write to the isolated path (isolation.py:274-292)."""
        isolation_path = self._create_isolation_path(path)
        if self.verbose:
            self._verbose_output(path, "Writing", format=format)
        self.storage.write(df, isolation_path, format, mode, partition_fields, options)

    def append_table(self, table, path: str) -> None:
        """Append a small ``pyarrow.Table`` to the isolated path, routed
        exactly like :meth:`write`."""
        isolation_path = self._create_isolation_path(path)
        if self.verbose:
            self._verbose_output(path, "Writing", format="parquet")
        self.storage.append_table(table, isolation_path)

    def writeStream(
        self,
        df: DataFrame,
        path: str,
        format: str = "parquet",
        checkpoint: str = None,
        partition_fields: Union[str, List[str]] = "",
        options: dict = None,
    ) -> StreamingQuery:
        """Stream to the isolated path — including the CHECKPOINT when it
        lives under the mount: a sandbox stream running against the
        production checkpoint would either collide with the live prod
        query or silently advance its offsets (skipped data on the next
        prod run). A checkpoint outside the mount (e.g. a local temp dir)
        passes through unchanged."""
        isolation_path = self._create_isolation_path(path)
        iso_checkpoint = (
            self._try_create_isolation_path(checkpoint)
            if checkpoint
            else None
        )
        if self.verbose:
            self._verbose_output(path, "Writing", format=format)
        return self.storage.writeStream(
            df,
            isolation_path,
            format,
            iso_checkpoint or checkpoint,
            partition_fields,
            options,
        )

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
        """Merge into the isolated path, creating it on first use (Q6 fix —
        the reference falls through to the production path instead)."""
        isolation_path = self._create_isolation_path(path)
        if self.verbose:
            self._verbose_output(isolation_path, "Merging", format="parquet")
        self.storage.merge(
            df,
            isolation_path,
            merge_condition,
            partition_fields=partition_fields,
            merge_schemas=merge_schemas,
            update_condition=update_condition,
            insert_condition=insert_condition,
            delete_condition=delete_condition,
        )
