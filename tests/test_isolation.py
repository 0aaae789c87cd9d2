"""Isolation path algebra + delegation tests, ported from
/root/reference/test/storage/test_isolation.py:47-129 (parametrized path
tables kept verbatim) and :192-274 (delegation with a fake storage).
"""

import pytest

from jorvik_spark.storage.isolation import (
    ISOLATION_FOLDER_CONF,
    MOUNT_POINT_CONF,
    IsolatedStorage,
)


class FakeStorage:
    """Record-only storage double; exists() always True so the isolation
    folder probe and the isolated-copy check both pass."""

    def __init__(self, exists=True):
        self._exists = exists
        self.calls = []

    def exists(self, path):
        self.calls.append(("exists", path))
        return self._exists

    def read(self, path, format="parquet", options=None):
        self.calls.append(("read", path))
        return f"df@{path}"

    def readStream(self, path, format="parquet", options=None, schema=None):
        self.calls.append(("readStream", path))
        return f"stream@{path}"

    def write(self, df, path, format="parquet", mode="append",
              partition_fields="", options=None):
        self.calls.append(("write", path))

    def writeStream(self, df, path, format="parquet", checkpoint=None,
                    partition_fields="", options=None):
        self.calls.append(("writeStream", path))
        return f"query@{path}"

    def merge(self, df, path, merge_condition, **kwargs):
        self.calls.append(("merge", path))

    def append_table(self, table, path):
        self.calls.append(("append_table", path))


@pytest.fixture
def set_conf(spark):
    keys = [MOUNT_POINT_CONF, ISOLATION_FOLDER_CONF]

    def _set(mount, folder):
        spark.conf.set(MOUNT_POINT_CONF, mount)
        spark.conf.set(ISOLATION_FOLDER_CONF, folder)

    yield _set
    for k in keys:
        spark.conf.unset(k)


@pytest.mark.parametrize(
    "mount_point, isolation_folder, isolation_context, input_path, expected",
    [
        ("", "folder/", "branch", "/mnt/data/file.parquet",
         "/mnt/folder/branch/data/file.parquet"),
        ("", "folder", "/branch/", "/mnt/data/file.parquet",
         "/mnt/folder/branch/data/file.parquet"),
        ("/mnt/", "folder/", "branch", "/mnt/data/file.parquet",
         "/mnt/folder/branch/data/file.parquet"),
        ("/mnt/", "/folder/", "/branch/", "/mnt/data/file.parquet",
         "/mnt/folder/branch/data/file.parquet"),
        ("data", "iso", "dev", "/data/file.parquet",
         "/data/iso/dev/file.parquet"),
        ("/data", "iso", "dev", "/data/file.parquet",
         "/data/iso/dev/file.parquet"),
    ],
)
def test_create_isolation_path(
    spark, set_conf, mount_point, isolation_folder, isolation_context,
    input_path, expected,
):
    set_conf(mount_point, isolation_folder)
    st = IsolatedStorage(
        storage=FakeStorage(), isolation_provider=lambda: isolation_context
    )
    assert st._create_isolation_path(input_path) == expected


def test_create_isolation_path_requires_folder(spark, set_conf):
    set_conf("/mnt", "iso")
    st = IsolatedStorage(
        storage=FakeStorage(exists=False), isolation_provider=lambda: "dev"
    )
    with pytest.raises(RuntimeError, match="does not exist"):
        st._create_isolation_path("/mnt/data")


@pytest.mark.parametrize(
    "input_path, isolation_folder, isolation_context, expected",
    [
        ("/mnt/data/file.parquet", "container", "branch",
         "/mnt/data/file.parquet"),
        ("/mnt/container/branch/data/file.parquet", "container", "branch",
         "/mnt/data/file.parquet"),
        ("/mnt/foo/bar/data/file.parquet", "container", "branch",
         "/mnt/foo/bar/data/file.parquet"),
        # Anchored strip: a context that happens to be a substring of a
        # table path must not corrupt it (the reference's global-replace
        # bug would turn /mnt/datalake into /mnt/lake for context 'data').
        ("/mnt/datalake/file.parquet", "container", "data",
         "/mnt/datalake/file.parquet"),
        ("/mnt/container/data/datalake/file.parquet", "container", "data",
         "/mnt/datalake/file.parquet"),
    ],
)
def test_remove_isolation_path(
    spark, set_conf, input_path, isolation_folder, isolation_context, expected
):
    set_conf("/mnt", isolation_folder)
    st = IsolatedStorage(
        storage=FakeStorage(), isolation_provider=lambda: isolation_context
    )
    assert st._remove_isolation_path(input_path) == expected


@pytest.mark.parametrize(
    "input_path, mount_point, expected",
    [
        ("/mnt/folder/bronze/my_table", "", "folder...bronze/my_table"),
        ("/dbfs///folder/bronze/foo/bar/table", "", "folder...bar/table"),
        ("/mnt/data/folder/file/////", "", "data...folder/file"),
        ("/mnt/bronze/my_table", "", "bronze...my_table"),
        ("/mnt/justone", "", "justone"),
        ("/mnt/", "", "Unknown"),
        ("", "", "Unknown"),
        ("/", "", "Unknown"),
        ("/custom/bronze/my_table", "custom", "bronze...my_table"),
    ],
)
def test_verbose_table_name(spark, set_conf, input_path, mount_point, expected):
    set_conf(mount_point, "iso")
    st = IsolatedStorage(storage=FakeStorage(), isolation_provider=lambda: "")
    assert st._verbose_table_name(input_path) == expected


def test_read_prefers_isolated_copy(spark, set_conf):
    set_conf("/mnt", "iso")
    fake = FakeStorage(exists=True)
    st = IsolatedStorage(storage=fake, isolation_provider=lambda: "dev")
    result = st.read("/mnt/data/t", "parquet")
    assert result == "df@/mnt/iso/dev/data/t"


def test_read_falls_back_to_production(spark, set_conf):
    set_conf("/mnt", "iso")
    fake = FakeStorage(exists=True)
    # isolated copy missing (second exists call), folder present (first call)
    answers = iter([True, False])
    fake.exists = lambda path: next(answers)
    st = IsolatedStorage(storage=fake, isolation_provider=lambda: "dev")
    assert st.read("/mnt/data/t", "parquet") == "df@/mnt/data/t"


def test_read_production_data_strips_isolation(spark, set_conf):
    set_conf("/mnt", "iso")
    fake = FakeStorage()
    st = IsolatedStorage(storage=fake, isolation_provider=lambda: "dev")
    assert st.read_production_data("/mnt/iso/dev/data/t", "parquet") == "df@/mnt/data/t"


def test_write_always_isolated(spark, set_conf):
    set_conf("/mnt", "iso")
    fake = FakeStorage()
    st = IsolatedStorage(storage=fake, isolation_provider=lambda: "dev")
    st.write("df", "/mnt/data/t", "parquet", "overwrite")
    assert ("write", "/mnt/iso/dev/data/t") in fake.calls


def test_append_table_always_isolated(spark, set_conf):
    """A driver-side append is routed like a write: sandboxed, and refused
    outside the mount."""
    set_conf("/mnt", "iso")
    fake = FakeStorage()
    st = IsolatedStorage(storage=fake, isolation_provider=lambda: "dev")
    st.append_table("table", "/mnt/_lineage/log")
    assert ("append_table", "/mnt/iso/dev/_lineage/log") in fake.calls
    with pytest.raises(ValueError, match="not under the mount point"):
        st.append_table("table", "/elsewhere/log")


def test_merge_always_isolated(spark, set_conf):
    """Q6 fix: merge targets the isolated path even when no isolated copy
    exists yet (the reference would merge into production)."""
    set_conf("/mnt", "iso")
    fake = FakeStorage(exists=True)
    answers = iter([True, False])  # folder exists; isolated copy does NOT
    fake.exists = lambda path: next(answers)
    st = IsolatedStorage(storage=fake, isolation_provider=lambda: "dev")
    st.merge("df", "/mnt/data/t", "full.id == incremental.id")
    assert ("merge", "/mnt/iso/dev/data/t") in fake.calls


# configure() factory (A9), mirroring the four contract tests at
# /root/reference/test/storage/test_storage.py::test_configure_*.


@pytest.fixture
def conf_keys(spark):
    from jorvik_spark.storage import LINEAGE_LOG_PATH_CONF, PRODUCTION_CONTEXT_CONF

    keys = [
        LINEAGE_LOG_PATH_CONF,
        PRODUCTION_CONTEXT_CONF,
        "io.jorvik.storage.isolation_provider",
    ]
    yield
    for k in keys:
        try:
            spark.conf.unset(k)
        except Exception:
            pass


def test_configure_no_arguments_no_config(spark, conf_keys):
    """Defaults: NO_ISOLATION provider + no lineage path → plain
    BasicStorage with no observers."""
    from jorvik_spark import storage

    st = storage.configure()
    assert type(st) is storage.BasicStorage
    assert st.output_observers == []


def test_configure_with_isolation_provider(spark, conf_keys):
    """A non-production context from an explicit provider → IsolatedStorage."""
    from jorvik_spark import storage

    st = storage.configure(isolation_provider=lambda: "feature-x")
    assert isinstance(st, IsolatedStorage)
    assert st.isolation_provider() == "feature-x"


def test_configure_production_context_not_isolated(spark, conf_keys):
    """Contexts in the production list (default main,master,production,prod)
    stay un-sandboxed, case-insensitively."""
    from jorvik_spark import storage

    for ctx in ("main", "MASTER", "prod"):
        st = storage.configure(isolation_provider=lambda c=ctx: c)
        assert type(st) is storage.BasicStorage


def test_configure_with_track_lineage(spark, conf_keys, tmp_path):
    """A lineage log path in the Spark conf attaches the observer; the
    track_lineage=False escape hatch removes it."""
    from jorvik_spark import storage
    from jorvik_spark.storage import LINEAGE_LOG_PATH_CONF
    from jorvik_spark.data_lineage.observer import DataLineageLogger

    spark.conf.set(LINEAGE_LOG_PATH_CONF, str(tmp_path / "lineage"))
    st = storage.configure()
    assert any(isinstance(o, DataLineageLogger) for o in st.output_observers)
    st2 = storage.configure(track_lineage=False)
    assert st2.output_observers == []


def test_configure_with_config(spark, conf_keys):
    """Session conf overrides the production-context list (Q12: session
    beats context conf, so both are runtime-settable)."""
    from jorvik_spark import storage
    from jorvik_spark.storage import PRODUCTION_CONTEXT_CONF

    spark.conf.set(PRODUCTION_CONTEXT_CONF, "trunk")
    assert type(storage.configure(isolation_provider=lambda: "trunk")) is (
        storage.BasicStorage
    )
    assert isinstance(
        storage.configure(isolation_provider=lambda: "main"), IsolatedStorage
    )


# Verbose diagnostics (A16), mirroring
# /root/reference/test/storage/test_isolation.py::test_verbose_*.


def _verbose_st(spark, set_conf):
    set_conf("/mnt", "iso")
    return IsolatedStorage(
        storage=FakeStorage(), isolation_provider=lambda: "dev", verbose=True
    )


def test_verbose_print_path(spark, set_conf, capsys):
    st = _verbose_st(spark, set_conf)
    st._verbose_print_path("/mnt/data/sales/orders", "Reading")
    out = capsys.readouterr().out
    assert out.startswith("Reading: data...sales/orders ")
    assert out.rstrip().endswith("path: /mnt/data/sales/orders")


def test_verbose_output_triggers_last_updated_for_reading_delta(
    spark, set_conf, capsys, tmp_path
):
    """Reading/Merging a delta|parquet table appends the table-age line
    (here via the Hadoop-FS mtime fallback — no delta-spark installed)."""
    st = _verbose_st(spark, set_conf)
    d = tmp_path / "t"
    d.mkdir()
    st._verbose_output(str(d), "Reading", "parquet")
    out = capsys.readouterr().out
    assert "Table was last updated:" in out


def test_verbose_output_skips_last_updated_when_not_reading_merging_delta(
    spark, set_conf, capsys
):
    st = _verbose_st(spark, set_conf)
    st._verbose_output("/mnt/data/t", "Writing", "parquet")
    st._verbose_output("/mnt/data/t", "Reading", "csv")
    out = capsys.readouterr().out
    assert "last updated" not in out
    assert "No update history" not in out


def test_verbose_print_last_updated_missing_table(spark, set_conf, capsys):
    st = _verbose_st(spark, set_conf)
    st._verbose_print_last_updated("/no/such/path")
    assert "No update history found" in capsys.readouterr().out


class PathAwareFakeStorage(FakeStorage):
    """exists() answers from an explicit set instead of a constant."""

    def __init__(self, existing=()):
        super().__init__()
        self.existing = set(existing)

    def exists(self, path):
        self.calls.append(("exists", path))
        return path in self.existing


def test_write_outside_mount_raises(spark, set_conf):
    """A path the algebra cannot isolate must never silently land on its
    production location (the reference's unanchored replace wrote
    s3a://... straight to production from a sandbox)."""
    set_conf("/mnt", "container")
    st = IsolatedStorage(
        storage=FakeStorage(), isolation_provider=lambda: "branch"
    )
    for bad in ("s3a://bucket/t", "/mnt2/t", "/data/mnt/t"):
        with pytest.raises(ValueError, match="not under the mount point"):
            st.write(None, bad)


def test_read_outside_mount_falls_back_to_production(spark, set_conf):
    """Reads of non-mount paths have no isolated copy by construction —
    they pass through unchanged (reference-compatible read behavior)."""
    set_conf("/mnt", "container")
    fake = FakeStorage()
    st = IsolatedStorage(storage=fake, isolation_provider=lambda: "branch")
    assert st.read("/other/t") == "df@/other/t"


def test_exists_prefers_isolated_copy(spark, set_conf):
    """exists() must agree with read(): True when only the sandbox copy
    exists, and still True for a production table."""
    set_conf("/mnt", "container")
    iso = "/mnt/container/branch/t"
    fake = PathAwareFakeStorage(
        existing={"/mnt/container", iso}  # folder probe + sandbox copy
    )
    st = IsolatedStorage(storage=fake, isolation_provider=lambda: "branch")
    assert st.exists("/mnt/t") is True          # sandbox-only table
    assert st.read("/mnt/t") == f"df@{iso}"     # read agrees
    prod_only = PathAwareFakeStorage(existing={"/mnt/container", "/mnt/p"})
    st2 = IsolatedStorage(storage=prod_only, isolation_provider=lambda: "branch")
    assert st2.exists("/mnt/p") is True         # production table
    assert st2.exists("/mnt/absent") is False


def test_writestream_isolates_mounted_checkpoint(spark, set_conf):
    """A sandbox stream must not touch the production checkpoint; local
    (non-mount) checkpoints pass through unchanged."""
    set_conf("/mnt", "container")
    fake = FakeStorage()
    st = IsolatedStorage(storage=fake, isolation_provider=lambda: "branch")
    st.writeStream(None, "/mnt/out", checkpoint="/mnt/chk/job1")
    st.writeStream(None, "/mnt/out", checkpoint="/tmp/local_chk")
    calls = [c for c in fake.calls if c[0] == "writeStream"]
    assert calls == [
        ("writeStream", "/mnt/container/branch/out"),
        ("writeStream", "/mnt/container/branch/out"),
    ]


def test_exists_falls_back_when_isolation_unprovisioned(spark, set_conf):
    """exists() answers the probe instead of raising when the isolation
    folder is not mounted — with no sandbox, only production can match
    (reference semantics; _create_isolation_path still raises for writes)."""
    set_conf("/mnt", "iso")
    fake = FakeStorage(exists=False)
    # folder probe → False (unprovisioned), production probe → whatever
    st = IsolatedStorage(storage=fake, isolation_provider=lambda: "dev")
    assert st.exists("/mnt/data/t") is False
    # and when production has the table, it reports True
    answers = iter([False, True])  # folder missing, production present
    fake.exists = lambda path: next(answers)
    assert st.exists("/mnt/data/t") is True


class _FolderlessStorage(FakeStorage):
    """exists() is False ONLY for the isolation folder itself — the
    unprovisioned-sandbox environment."""

    def __init__(self, folder_prefix):
        super().__init__(exists=True)
        self._folder_prefix = folder_prefix

    def exists(self, path):
        self.calls.append(("exists", path))
        return not path.startswith(self._folder_prefix)


def test_unprovisioned_folder_probes_fall_back_but_writes_raise(
    spark, set_conf
):
    """With the isolation folder NOT mounted: (a) reading a path outside
    the mount falls back to production (the out-of-mount test runs before
    the provisioned-folder check); (b) reading an under-mount path falls
    back to production — the same probe semantics exists() documents, so
    `if exists(p): read(p)` never raises; (c) writing under the mount
    still raises the reference's RuntimeError (isolation.py:53)."""
    set_conf("/mnt", "iso")
    st = IsolatedStorage(
        storage=_FolderlessStorage("/mnt/iso"),
        isolation_provider=lambda: "branch",
    )
    assert st.read("/data/outside.parquet") == "df@/data/outside.parquet"
    assert st.exists("/mnt/data/t.parquet")
    assert st.read("/mnt/data/t.parquet") == "df@/mnt/data/t.parquet"
    with pytest.raises(RuntimeError, match="Have you mounted"):
        st.write("df", "/mnt/data/t.parquet")


def test_uri_scheme_mount_round_trips(spark, set_conf):
    """An object-store lake (s3a://bucket/lake) must isolate and invert
    without the scheme's // collapsing to / — the plain slash-normalizer
    silently corrupted every URI rewrite."""
    set_conf("s3a://bucket/lake", "iso")
    st = IsolatedStorage(
        storage=FakeStorage(), isolation_provider=lambda: "branch"
    )
    prod = "s3a://bucket/lake/tables/t.parquet"
    isolated = st._create_isolation_path(prod)
    assert isolated == "s3a://bucket/lake/iso/branch/tables/t.parquet"
    assert st._remove_isolation_path(isolated) == prod
    # outside the bucket → not isolatable, reads fall back
    assert st._try_create_isolation_path("s3a://other/t") is None


def test_sandboxed_lineage_row_lands_in_sandbox_log(spark, set_conf, conf_keys, tmp_path):
    """A feature-branch write logs its lineage row into the sandbox copy
    of the log, never the production log, with the write's instant."""
    import datetime

    from jorvik_spark import storage
    from jorvik_spark.storage import LINEAGE_LOG_PATH_CONF

    mnt = str(tmp_path / "mnt")
    (tmp_path / "mnt" / "iso").mkdir(parents=True)
    set_conf(mnt, "iso")
    spark.conf.set(LINEAGE_LOG_PATH_CONF, f"{mnt}/_lineage/log")
    spark.conf.set("io.jorvik.storage.isolation_provider", "SPARK_CONFIG")
    spark.conf.set("io.jorvik.storage.isolation_context", "dev")
    try:
        st = storage.configure()
        assert isinstance(st, IsolatedStorage)
        before = datetime.datetime.now(datetime.timezone.utc)
        st.write(spark.range(3), f"{mnt}/out", mode="overwrite")
        after = datetime.datetime.now(datetime.timezone.utc)
    finally:
        spark.conf.unset("io.jorvik.storage.isolation_context")
    assert not (tmp_path / "mnt" / "_lineage").exists()
    log = spark.read.parquet(f"{mnt}/iso/dev/_lineage/log")
    row = log.selectExpr("output_path", "unix_micros(observation_ts) AS u").collect()
    assert [r.output_path for r in row] == [f"{mnt}/iso/dev/out"]
    micros = [int(t.timestamp() * 1_000_000) for t in (before, after)]
    assert micros[0] - 1_000_000 <= row[0].u <= micros[1] + 1_000_000
