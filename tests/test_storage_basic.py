"""Golden tests for BasicStorage, ported from the reference contract suite
(/root/reference/test/storage/test_basic.py:27-249), adapted to the
delta-less container: the format matrix drops 'delta' and MERGE runs the
native parquet reconstruction path.
"""

import os
import random

import pytest
from pyspark.testing import assertDataFrameEqual

from jorvik_spark.storage.basic import BasicStorage, _merge_rewrite


@pytest.fixture
def data(spark):
    return spark.createDataFrame(
        [(1, "Alice", 1.0), (2, "Bob", 2.0), (3, "Cathy", 3.0)],
        ["id", "name", "value"],
    )


@pytest.fixture
def st():
    return BasicStorage()


FORMATS = ["parquet", "json", "csv", "orc"]


@pytest.mark.parametrize("format", FORMATS)
def test_read_and_write(data, st, format, tmp_path):
    target = str(tmp_path / "t")
    st.write(data, target, format, "overwrite")
    result = st.read(target, format)
    if format == "csv":  # inferSchema reads small ints as int
        result = result.withColumn("id", result["id"].cast("long"))
    assertDataFrameEqual(data, result)


@pytest.mark.parametrize("format", ["parquet", "json", "orc"])
def test_read_and_write_streams(data, st, format, tmp_path):
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    cp = str(tmp_path / "cp")
    st.write(data, src, format, "overwrite")
    stream = st.readStream(src, format)
    assert stream.isStreaming
    query = st.writeStream(stream, dst, format, checkpoint=cp)
    query.processAllAvailable()
    query.stop()
    result = st.read(dst, format)
    assertDataFrameEqual(data, result)


def test_read_stream_uses_declared_schema(data, st, tmp_path):
    """Q3 fix: a declared schema skips the batch-inference read."""
    src = str(tmp_path / "src")
    st.write(data, src, "parquet", "overwrite")
    stream = st.readStream(src, "parquet", schema=data.schema)
    assert stream.schema == data.schema


def test_unsupported_format(data, st, tmp_path):
    with pytest.raises(ValueError, match="Unsupported format"):
        st.read(str(tmp_path), "avro")
    with pytest.raises(ValueError, match="Unsupported format"):
        st.write(data, str(tmp_path), "xml", "overwrite")


def test_mixed_formats(data, st, tmp_path):
    target = str(tmp_path / "t")
    st.write(data, target, "csv", "overwrite")
    with pytest.raises(Exception):
        st.read(target, "parquet").collect()


def test_exists_empty_folder(spark, st, tmp_path):
    """Quirk Q7 (kept): directory existence counts, even empty."""
    empty = tmp_path / "empty"
    empty.mkdir()
    assert st.exists(str(empty))
    assert not st.exists(str(tmp_path / "never_created"))


@pytest.mark.parametrize("format", FORMATS)
def test_exists(data, st, format, tmp_path):
    target = str(tmp_path / "t")
    st.write(data, target, format, "overwrite")
    assert st.exists(target)


def test_write_observers_notified(data, st, tmp_path):
    seen = []

    class Obs:
        def update(self, df, output_path):
            seen.append(output_path)

    st.register_output_observer(Obs())
    target = str(tmp_path / "t")
    st.write(data, target, "parquet", "overwrite")
    assert seen == [target]


# -- MERGE golden tests (reference test_basic.py:112-249) ------------------


def kv(spark, rows):
    return spark.createDataFrame(rows, "id long, value string")


def test_merge(spark, st, tmp_path):
    """Conditional insert + update + keep (reference test_basic.py:112-146)."""
    target = str(tmp_path / "t")
    st.write(
        kv(spark, [(1, "existing"), (2, "existing"), (3, "existing")]),
        target, "parquet", "overwrite",
    )
    incremental = kv(
        spark, [(2, "updated"), (3, "updated"), (4, "added"), (5, "added")]
    )
    st.merge(
        incremental, target,
        merge_condition="full.id == incremental.id",
        insert_condition="incremental.id != 4",
        update_condition="incremental.id != 2",
    )
    expected = kv(
        spark, [(1, "existing"), (2, "existing"), (3, "updated"), (5, "added")]
    )
    assertDataFrameEqual(st.read(target, "parquet"), expected)


def test_merge_cdc_delete(spark, st, tmp_path):
    """delete_condition (engine extension): a CDC batch with a tombstone
    column deletes its matched target rows, updates the others, inserts
    unseen keys — and the insert condition keeps tombstones for unseen
    keys OUT of the table."""
    target = str(tmp_path / "t")
    st.write(
        kv(spark, [(1, "a"), (2, "b"), (3, "c")]), target, "parquet", "overwrite"
    )
    cdc = spark.createDataFrame(
        [
            (2, "b2", "U"),   # matched update
            (3, None, "D"),   # matched delete
            (4, "d", "I"),    # unmatched insert
            (5, None, "D"),   # unmatched tombstone: must NOT insert
        ],
        "id long, value string, op string",
    )
    st.merge(
        cdc.select("id", "value", "op"),
        target,
        merge_condition="full.id == incremental.id",
        delete_condition="incremental.op = 'D'",
        insert_condition="incremental.op != 'D'",
        merge_schemas=True,  # target gains the op column (null for keeps)
    )
    got = {
        r.id: (r.value, r.op)
        for r in st.read(target, "parquet").collect()
    }
    assert got == {1: ("a", None), 2: ("b2", "U"), 4: ("d", "I")}


def test_merge_delete_takes_precedence_over_update(spark, st, tmp_path):
    """A matched row satisfying BOTH delete and update conditions is
    deleted — same clause order as Delta's whenMatchedDelete-first."""
    target = str(tmp_path / "t")
    st.write(kv(spark, [(1, "a"), (2, "b")]), target, "parquet", "overwrite")
    st.merge(
        kv(spark, [(1, "x"), (2, "y")]),
        target,
        merge_condition="full.id == incremental.id",
        delete_condition="incremental.id = 1",
        update_condition=True,
        insert_condition=False,
    )
    got = {r.id: r.value for r in st.read(target, "parquet").collect()}
    assert got == {2: "y"}


def test_merge_delete_only_is_a_valid_operation(spark, st, tmp_path):
    """update=False + insert=False is no longer an error when a delete
    condition gives the merge an effect (delete-only anti-merge)."""
    target = str(tmp_path / "t")
    st.write(kv(spark, [(1, "a"), (2, "b"), (3, "c")]), target, "parquet", "overwrite")
    st.merge(
        kv(spark, [(2, "zz"), (9, "zz")]),
        target,
        merge_condition="full.id == incremental.id",
        update_condition=False,
        insert_condition=False,
        delete_condition=True,
    )
    got = sorted(r.id for r in st.read(target, "parquet").collect())
    assert got == [1, 3]
    # ...but with delete disabled too, the all-no-op error stands
    with pytest.raises(ValueError, match="no effect"):
        st.merge(
            kv(spark, [(1, "x")]), target,
            merge_condition="full.id == incremental.id",
            update_condition=False, insert_condition=False,
        )


def test_merge_duplicate_delete_matches_raise(spark, st, tmp_path):
    """Two source rows deleting the same target row is the same
    ambiguous-match contract violation as two updates."""
    target = str(tmp_path / "t")
    st.write(kv(spark, [(1, "a")]), target, "parquet", "overwrite")
    dup = spark.createDataFrame(
        [(1, "x", "D"), (1, "y", "D")], "id long, value string, op string"
    )
    with pytest.raises(ValueError, match="Multiple source rows"):
        st.merge(
            dup, target,
            merge_condition="full.id == incremental.id",
            delete_condition="incremental.op = 'D'",
            merge_schemas=True,
        )


def test_merge_multi_match_failure_leaves_target_intact(spark, st, tmp_path):
    """r18: the multi-match guard is folded into the single rewrite
    action (no separate count pass, no persist), so the contract raise
    now surfaces from inside the write — which must happen BEFORE any
    rename: the target stays readable and unchanged, and a subsequent
    clean merge on the same path succeeds (the stranded __tmp__ dir is
    overwritten, not tripped over)."""
    target = str(tmp_path / "t")
    st.write(kv(spark, [(1, "a"), (2, "b")]), target, "parquet", "overwrite")
    dup = kv(spark, [(1, "x"), (1, "y")])
    with pytest.raises(ValueError, match="Multiple source rows"):
        st.merge(dup, target, merge_condition="full.id == incremental.id")
    # target untouched by the failed merge
    assert sorted((r.id, r.value) for r in st.read(target, "parquet").collect()) == [
        (1, "a"),
        (2, "b"),
    ]
    # a clean retry converges normally
    st.merge(
        kv(spark, [(1, "x"), (3, "c")]),
        target,
        merge_condition="full.id == incremental.id",
    )
    assert sorted((r.id, r.value) for r in st.read(target, "parquet").collect()) == [
        (1, "x"),
        (2, "b"),
        (3, "c"),
    ]


def test_merge_creates_missing_target(spark, st, tmp_path):
    target = str(tmp_path / "t")
    incremental = kv(spark, [(1, "a"), (2, "b")])
    st.merge(incremental, target, merge_condition="full.id == incremental.id")
    assertDataFrameEqual(st.read(target, "parquet"), incremental)


def test_merge_with_schema_changes(spark, st, tmp_path):
    """Schema drift errors unless merge_schemas=True, then null-fills both
    directions (reference test_basic.py:149-186)."""
    target = str(tmp_path / "t")
    st.write(
        spark.createDataFrame(
            [(1, "existing", 1), (2, "existing", 1), (3, "existing", 1)],
            "id long, value string, old long",
        ),
        target, "parquet", "overwrite",
    )
    incremental = spark.createDataFrame(
        [(3, "updated", 2), (4, "added", 2)], "id long, value string, new long"
    )
    with pytest.raises(ValueError):
        st.merge(incremental, target, merge_condition="full.id == incremental.id")

    st.merge(
        incremental, target,
        merge_condition="full.id == incremental.id",
        merge_schemas=True,
    )
    expected = spark.createDataFrame(
        [
            (1, "existing", 1, None),
            (2, "existing", 1, None),
            (3, "updated", None, 2),
            (4, "added", None, 2),
        ],
        "id long, value string, old long, new long",
    )
    result = st.read(target, "parquet").select("id", "value", "old", "new")
    assertDataFrameEqual(result, expected)


def test_merge_ignore_updates(spark, st, tmp_path):
    target = str(tmp_path / "t")
    st.write(
        kv(spark, [(1, "existing"), (2, "existing"), (3, "existing")]),
        target, "parquet", "overwrite",
    )
    st.merge(
        kv(spark, [(3, "updated"), (4, "added")]), target,
        merge_condition="full.id == incremental.id",
        update_condition=False,
    )
    expected = kv(
        spark, [(1, "existing"), (2, "existing"), (3, "existing"), (4, "added")]
    )
    assertDataFrameEqual(st.read(target, "parquet"), expected)


def test_merge_ignore_inserts(spark, st, tmp_path):
    target = str(tmp_path / "t")
    st.write(
        kv(spark, [(1, "existing"), (2, "existing"), (3, "existing")]),
        target, "parquet", "overwrite",
    )
    st.merge(
        kv(spark, [(3, "updated"), (4, "added")]), target,
        merge_condition="full.id == incremental.id",
        insert_condition=False,
    )
    expected = kv(spark, [(1, "existing"), (2, "existing"), (3, "updated")])
    assertDataFrameEqual(st.read(target, "parquet"), expected)


def test_inserts_and_updates_are_ignored(st):
    with pytest.raises(ValueError):
        st.merge(None, "", "", insert_condition=False, update_condition=False)


def test_merge_multiple_matches_raise(spark, st, tmp_path):
    """Delta MERGE contract: several source rows updating one target row."""
    target = str(tmp_path / "t")
    st.write(kv(spark, [(1, "existing")]), target, "parquet", "overwrite")
    with pytest.raises(ValueError, match="[Mm]ultiple source rows"):
        st.merge(
            kv(spark, [(1, "a"), (1, "b")]), target,
            merge_condition="full.id == incremental.id",
        )


def test_merge_update_condition_on_both_sides(spark, st, tmp_path):
    """Update condition may compare full vs incremental columns."""
    target = str(tmp_path / "t")
    st.write(
        spark.createDataFrame([(1, 10), (2, 20)], "id long, score long"),
        target, "parquet", "overwrite",
    )
    st.merge(
        spark.createDataFrame([(1, 5), (2, 30)], "id long, score long"),
        target,
        merge_condition="full.id == incremental.id",
        update_condition="incremental.score > full.score",  # only id=2
    )
    expected = spark.createDataFrame([(1, 10), (2, 30)], "id long, score long")
    assertDataFrameEqual(st.read(target, "parquet"), expected)


def test_merge_recovers_interrupted_swap(spark, st, tmp_path):
    """A crash between _atomic_overwrite's two renames leaves the table
    at …__jorvik_merge_old__ and nothing at the real path. The next merge
    must roll the old copy forward and merge into it — not rebuild the
    table from the incremental rows alone and then delete the only full
    copy as a stale leftover."""
    target = str(tmp_path / "t")
    st.write(kv(spark, [(1, "keep"), (2, "update-me")]), target,
             "parquet", "overwrite")
    # Simulate the crash window: table moved aside, nothing at `target`.
    os.rename(target, target + "__jorvik_merge_old__")
    assert not os.path.exists(target)

    st.merge(
        kv(spark, [(2, "updated"), (3, "inserted")]), target,
        merge_condition="full.id == incremental.id",
    )
    expected = kv(spark, [(1, "keep"), (2, "updated"), (3, "inserted")])
    assertDataFrameEqual(st.read(target, "parquet"), expected)
    assert not os.path.exists(target + "__jorvik_merge_old__")


# -- native merge: NULL conditions, column names, file count, plan shape ---


def _ids_values(st, target):
    return sorted((r.id, r.value) for r in st.read(target, "parquet").collect())


def test_merge_null_update_condition_is_not_a_multi_match(spark, st, tmp_path):
    """A matched source row whose update condition is NULL does not
    apply: the target is unchanged, and no multi-match error is raised."""
    target = str(tmp_path / "t")
    st.write(kv(spark, [(1, "a"), (2, "b")]), target, "parquet", "overwrite")
    st.merge(
        kv(spark, [(1, None)]), target,
        merge_condition="full.id == incremental.id",
        update_condition="incremental.value = 'U'",
    )
    assert _ids_values(st, target) == [(1, "a"), (2, "b")]


def test_merge_null_delete_condition_keeps_the_row(spark, st, tmp_path):
    """NULL delete and update conditions: the matched row is neither
    deleted nor updated."""
    target = str(tmp_path / "t")
    st.write(kv(spark, [(1, "a"), (2, "b")]), target, "parquet", "overwrite")
    st.merge(
        kv(spark, [(1, None)]), target,
        merge_condition="full.id == incremental.id",
        delete_condition="incremental.value = 'D'",
        update_condition="incremental.value <> 'D'",
    )
    assert _ids_values(st, target) == [(1, "a"), (2, "b")]


def test_merge_two_matches_only_one_applies(spark, st, tmp_path):
    """Only source rows whose clause applies count as matches: target 1
    meets one applying and one NULL-condition row, target 2 only a
    NULL-condition row."""
    target = str(tmp_path / "t")
    st.write(kv(spark, [(1, "a"), (2, "b")]), target, "parquet", "overwrite")
    st.merge(
        kv(spark, [(1, "U"), (1, None), (2, None)]), target,
        merge_condition="full.id == incremental.id",
        update_condition="incremental.value = 'U'",
    )
    assert _ids_values(st, target) == [(1, "U"), (2, "b")]


def test_merge_odd_column_names(spark, st, tmp_path):
    """Column names with a space, a dot and a backtick are plain names,
    not nested-field paths; so is a struct field's name."""
    schema = "`a b` long, `x.y` string, `q``t` string, s struct<`p.q r`: int>"
    target = str(tmp_path / "t")
    st.write(
        spark.createDataFrame([(1, "a", "p", (1,)), (2, "b", "q", (2,))], schema),
        target, "parquet", "overwrite",
    )
    st.merge(
        spark.createDataFrame([(2, "B", "Q", (20,)), (3, "c", "r", (3,))], schema),
        target, merge_condition="full.`a b` = incremental.`a b`",
    )
    got = sorted(
        (r[0], r[1], r[2], r[3][0]) for r in st.read(target, "parquet").collect()
    )
    assert got == [(1, "a", "p", 1), (2, "B", "Q", 20), (3, "c", "r", 3)]


def test_merge_file_count_does_not_grow(spark, st, tmp_path):
    """Insert-only merges of one-partition batches into a one-file table
    leave one file: the rewrite is coalesced back to the larger of the
    target's and the source's partition counts."""
    target = str(tmp_path / "t")
    kv(spark, [(0, "a")]).coalesce(1).write.parquet(target)
    for i in range(1, 11):
        st.merge(
            kv(spark, [(i, "a")]).coalesce(1), target,
            merge_condition="full.id == incremental.id",
        )
    assert sorted(r.id for r in st.read(target, "parquet").collect()) == list(range(11))
    parts = [f for f in os.listdir(target) if f.startswith("part-")]
    assert len(parts) == 1, parts


def _plan_nodes(plan):
    """(node, ancestors) for every node of a physical plan."""
    def walk(node, above):
        yield node, above
        children = node.children()
        for i in range(children.size()):
            yield from walk(children.apply(i), above + [node])

    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    return list(walk(plan, []))


def test_merge_rewrite_plan_is_exchange_free(spark, tmp_path):
    """With a broadcastable source the rewrite has no Window, and no
    Exchange sits between the target scan and the write in the rewrite
    branch; the witness branch shuffles only the joined matches."""
    target, source = str(tmp_path / "t"), str(tmp_path / "s")
    spark.range(1000).selectExpr("id", "'a' AS value").write.parquet(target)
    kv(spark, [(1, "x"), (5000, "y")]).write.parquet(source)
    full, src = spark.read.parquet(target), spark.read.parquet(source)
    result = _merge_rewrite(
        full, src, "full.id = incremental.id", None, None, "incremental.value = 'D'"
    )
    nodes = _plan_nodes(result._jdf.queryExecution().executedPlan())
    kinds = [n.getClass().getSimpleName() for n, _ in nodes]
    assert not [k for k in kinds if "Window" in k], kinds

    def exchanges(above):
        return [a.getClass().getSimpleName() for a in above
                if "Exchange" in a.getClass().getSimpleName()]

    target_scans = [
        exchanges(above) for node, above in nodes
        if node.getClass().getSimpleName() == "FileSourceScanExec"
        and node.relation().location().rootPaths().head().toString().endswith("/t")
    ]
    # rewrite (no exchange), inserts (target broadcast), witness (one shuffle)
    assert sorted(target_scans) == [
        [], ["BroadcastExchangeExec"], ["ShuffleExchangeExec"]
    ], target_scans


# -- differential: the native merge against a replay of its contract -------
#
# Conditions are NULL-aware Python twins of the SQL ones (None is NULL).


def _eq(a, b):
    return None if a is None or b is None else a == b


def _cmp(a, b, op):
    return None if a is None or b is None else op(a, b)


def _and(*xs):
    if any(x is False for x in xs):
        return False
    return None if any(x is None for x in xs) else True


def _op_is(flag):
    return lambda t, s: _eq(s["op"], flag)


_BY_KEY = ("full.k = incremental.k", lambda t, s: _eq(t["k"], s["k"]))

# name → (merge, update, insert, delete); each a (sql, twin) pair, a bool
# (the SQL literal) or None (the default)
MERGE_CONFIGS = {
    "upsert": (_BY_KEY, None, None, None),
    "delete": (_BY_KEY, None, None, ("incremental.op = 'D'", _op_is("D"))),
    "update_both_sides": (
        _BY_KEY,
        ("incremental.v > full.v", lambda t, s: _cmp(s["v"], t["v"], lambda a, b: a > b)),
        None, None,
    ),
    "update_delete_insert": (
        _BY_KEY,
        ("incremental.op = 'U'", _op_is("U")),
        ("incremental.op = 'I'", lambda t, s: _eq(s["op"], "I")),
        ("incremental.op = 'D'", _op_is("D")),
    ),
    "non_equi": (
        (
            "full.k <= incremental.k AND full.k + 1 >= incremental.k",
            lambda t, s: _and(
                _cmp(t["k"], s["k"], lambda a, b: a <= b),
                None if t["k"] is None or s["k"] is None else t["k"] + 1 >= s["k"],
            ),
        ),
        None, None, None,
    ),
    "no_update_with_delete": (
        _BY_KEY, False, None, ("incremental.op = 'D'", _op_is("D")),
    ),
}


def _twin(clause, default):
    if clause is None or isinstance(clause, bool):
        value = default if clause is None else clause
        return lambda t, s: value
    return clause[1]


def _replay(target, source, config):
    """The contract documented in BasicStorage.merge, row by row: a
    matched clause applies when its condition is true (NULL does not
    fire), delete before update, more than one applying source row per
    target row raises, unmatched source rows insert under the insert
    condition. None stands for the ValueError."""
    merge, update, insert, delete = config
    on = merge[1]
    upd, ins, dele = _twin(update, True), _twin(insert, True), _twin(delete, False)
    out = []
    for t in target:
        hits = [s for s in source
                if on(t, s) is True and (dele(t, s) is True or upd(t, s) is True)]
        if len(hits) > 1:
            return None
        if not hits:
            out.append(t)
        elif dele(t, hits[0]) is not True:
            out.append(hits[0])
    out += [s for s in source
            if not any(on(t, s) is True for t in target) and ins(None, s) is True]
    return sorted((tuple(r.values()) for r in out), key=repr)


def _random_rows(rng, n, keys, unique):
    picks = rng.sample(keys, n) if unique else [rng.choice(keys) for _ in range(n)]
    return [
        {
            "k": None if not unique and rng.random() < 0.1 else k,
            "v": None if rng.random() < 0.2 else rng.randrange(10),
            "op": rng.choice(["U", "D", "I", None]),
        }
        for k in picks
    ]


@pytest.mark.parametrize("broadcast", [True, False], ids=["broadcast", "no_broadcast"])
@pytest.mark.parametrize("config", sorted(MERGE_CONFIGS))
@pytest.mark.parametrize("seed", range(4))
def test_merge_matches_contract_replay(spark, st, tmp_path, config, broadcast, seed):
    rng = random.Random(f"{config}-{seed}")
    target_rows = _random_rows(rng, rng.randrange(1, 21), list(range(20)), unique=True)
    source_rows = _random_rows(rng, rng.randrange(5, 16), list(range(25)), unique=False)
    schema = "k int, v int, op string"
    target, source = str(tmp_path / "t"), str(tmp_path / "s")
    spark.createDataFrame([tuple(r.values()) for r in target_rows], schema) \
        .write.parquet(target)
    spark.createDataFrame([tuple(r.values()) for r in source_rows], schema) \
        .write.parquet(source)

    def sql(clause):
        return clause if clause is None or isinstance(clause, bool) else clause[0]

    merge, update, insert, delete = MERGE_CONFIGS[config]
    clauses = dict(
        merge_condition=merge[0], update_condition=sql(update),
        insert_condition=sql(insert), delete_condition=sql(delete),
    )
    expected = _replay(target_rows, source_rows, MERGE_CONFIGS[config])
    key = "spark.sql.autoBroadcastJoinThreshold"
    before = spark.conf.get(key)
    if not broadcast:
        spark.conf.set(key, "-1")
    try:
        if expected is None:
            with pytest.raises(ValueError, match="Multiple source rows"):
                st.merge(spark.read.parquet(source), target, **clauses)
            return
        st.merge(spark.read.parquet(source), target, **clauses)
    finally:
        spark.conf.set(key, before)
    got = sorted((tuple(r) for r in spark.read.parquet(target).collect()), key=repr)
    assert got == expected


class _FailingRename:
    """A Hadoop FileSystem whose ``rename`` returns False or raises."""

    def __init__(self, fs, raises):
        self._fs, self._raises = fs, raises

    def rename(self, src, dst):
        if self._raises:
            raise IOError("rename refused")
        return False

    def __getattr__(self, name):
        return getattr(self._fs, name)


@pytest.mark.parametrize("raises", [False, True], ids=["returns_false", "raises"])
def test_append_table_leaves_no_temp_file_on_failure(st, tmp_path, monkeypatch, raises):
    """A failed publish deletes its hidden temp file (and its checksum)
    and raises."""
    import pyarrow as pa

    from jorvik_spark.storage import basic

    real = basic._hadoop_fs

    def failing(spark, path):
        fs, root = real(spark, path)
        return _FailingRename(fs, raises), root

    monkeypatch.setattr(basic, "_hadoop_fs", failing)
    target = tmp_path / "log"
    target.mkdir()
    with pytest.raises(IOError):
        st.append_table(pa.table({"a": [1]}), str(target))
    assert os.listdir(target) == []
