"""Property-based tests (hypothesis) for the pure-Python contract layers.

The golden contract suites (test_storage_basic / test_isolation /
test_schemas_audit) pin the reference's documented cases; these properties
pin the *laws* those cases are instances of, over randomized inputs:

* schema audit: reflexivity, permutation/nullability invariance, subset
  antisymmetry up to normalization;
* MERGE semantics: for random upsert batches, the engine's parquet MERGE
  equals the relational reconstruction the oracle SQL uses (update rows
  replace matches, inserts are the anti-join).

Both run against real Spark where needed, but input generation is tiny
(≤8 rows) so the suite stays fast.
"""

from __future__ import annotations

import random

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from jorvik_spark.audit import schemas as audit

_LEAF_TYPES = [IntegerType(), LongType(), DoubleType(), StringType()]


@st.composite
def struct_types(draw, max_fields=5, depth=2):
    n = draw(st.integers(1, max_fields))
    names = draw(
        st.lists(
            st.text("abcdefgh", min_size=1, max_size=4),
            min_size=n, max_size=n, unique=True,
        )
    )
    fields = []
    for name in names:
        if depth > 0 and draw(st.booleans()) and draw(st.booleans()):
            dt = draw(struct_types(max_fields=2, depth=depth - 1))
        elif draw(st.booleans()):
            dt = ArrayType(draw(st.sampled_from(_LEAF_TYPES)), draw(st.booleans()))
        else:
            dt = draw(st.sampled_from(_LEAF_TYPES))
        fields.append(StructField(name, dt, draw(st.booleans())))
    return StructType(fields)


def _shuffled(schema: StructType, seed: int) -> StructType:
    fields = list(schema.fields)
    random.Random(seed).shuffle(fields)
    return StructType(fields)


def _flip_nullability(schema: StructType) -> StructType:
    return StructType(
        [StructField(f.name, f.dataType, not f.nullable) for f in schema.fields]
    )


@given(struct_types())
@settings(max_examples=50, deadline=None)
def test_schema_equality_reflexive_and_invariant(s):
    assert audit.are_equal(s, s)
    assert audit.are_equal(s, _shuffled(s, 7))
    assert audit.are_equal(s, _flip_nullability(s))
    assert audit.is_subset(s, s)
    assert audit.is_subset(s, _shuffled(s, 11))


@given(struct_types(), st.integers(0, 10_000))
@settings(max_examples=50, deadline=None)
def test_schema_subset_of_extension(s, salt):
    extended = StructType(
        list(s.fields) + [StructField(f"extra_{salt}", StringType(), True)]
    )
    assert audit.is_subset(s, extended)
    # strict extension is not equal, and not a subset the other way
    assert not audit.are_equal(s, extended)
    assert not audit.is_subset(extended, s)


@given(struct_types())
@settings(max_examples=30, deadline=None)
def test_schema_diff_empty_iff_equal(s):
    assert audit.diff(s, _shuffled(s, 3)) == "  (schemas equal)" or not audit.are_equal(
        s, _shuffled(s, 3)
    )


# ---------------------------------------------------------------------------
# MERGE law: engine merge == relational reconstruction, on random batches.
# ---------------------------------------------------------------------------

_rows = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 100)),
    min_size=1, max_size=8,
    unique_by=lambda t: t[0],
)


@given(target=_rows, source=_rows)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_merge_matches_relational_model(spark, tmp_path_factory, target, source):
    from jorvik_spark.storage import BasicStorage

    st_ = BasicStorage()
    path = str(tmp_path_factory.mktemp("merge_prop")) + "/t"
    tgt = spark.createDataFrame(target, "id int, v int")
    src = spark.createDataFrame(source, "id int, v int")
    st_.write(tgt, path, mode="overwrite")
    st_.merge(src, path, "full.id = incremental.id")

    got = {(r.id, r.v) for r in st_.read(path).collect()}
    # relational model: source wins on matched ids, unmatched target kept
    tmap = dict(target)
    tmap.update(dict(source))
    assert got == set(tmap.items())


# -- isolation path algebra: create/remove round-trip -----------------------

_SEG = st.text("abcdefghijklmnopqrstuvwxyz0123456789_-", min_size=1, max_size=8)


@settings(max_examples=60, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    segments=st.lists(_SEG, min_size=1, max_size=4),
    folder=_SEG,
    context=_SEG,
)
def test_isolation_path_roundtrip(spark, segments, folder, context):
    """_remove_isolation_path inverts _create_isolation_path for any
    mount-rooted path — including contexts that appear as substrings of
    table-path segments (the anchored-strip law behind the reference's
    global-replace bug fix)."""
    from jorvik_spark.storage.isolation import (
        ISOLATION_FOLDER_CONF,
        MOUNT_POINT_CONF,
        IsolatedStorage,
    )
    from tests.test_isolation import FakeStorage

    spark.conf.set(MOUNT_POINT_CONF, "/mnt")
    spark.conf.set(ISOLATION_FOLDER_CONF, folder)
    try:
        st_ = IsolatedStorage(
            storage=FakeStorage(), isolation_provider=lambda: context
        )
        prod = "/mnt/" + "/".join(segments)
        isolated = st_._create_isolation_path(prod)
        assert isolated == f"/mnt/{folder}/{context}/" + "/".join(segments)
        assert st_._remove_isolation_path(isolated) == prod
        # A path that was never isolated comes back unchanged — unless it
        # coincidentally starts with <mount>/<folder>/<context>/ (e.g.
        # folder=context='0', prod='/mnt/0/0/0'), where isolated and
        # production paths are genuinely indistinguishable by any string
        # algebra; the rewrite must (and does) treat those as isolated.
        if not prod.startswith(f"/mnt/{folder}/{context}/"):
            assert st_._remove_isolation_path(prod) == prod
    finally:
        spark.conf.unset(MOUNT_POINT_CONF)
        spark.conf.unset(ISOLATION_FOLDER_CONF)


def test_fixed_point_quantization_cross_engine(spark):
    """The dsum/davg quantization floor(x*1e6 + 0.5), rendered from the
    one template for each engine, must produce the same BIGINT for the
    same IEEE double in Spark and DuckDB — including half-boundary,
    negative, and subnormal-ish magnitudes. This is the bitwise law the
    oracle hash parity of every money aggregation rests on."""
    import duckdb

    from jorvik_spark.queries.registry import sql_units, units

    vals = [
        0.0, -0.0, 1.5e-6, -1.5e-6, 0.5e-6, -0.5e-6,
        123.4567895, -123.4567895, 0.1, 0.2, 0.3, 1 / 3, 2 / 3,
        949.9999995, -949.9999995, 9211.6249999999,
        104949.50000000001, -104949.50000000001,
        8999999.999999, 0.0000005, 0.0000015, 0.0000025,
    ] + [x * 0.1 + 7e-7 for x in range(-50, 50)]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = [
        r.q for r in df.select(units("x").alias("q")).collect()
    ]
    con = duckdb.connect()
    want = [
        con.execute(f"SELECT {sql_units('?')}", [v]).fetchone()[0]
        for v in vals
    ]
    assert got == want, [
        (v, g, w) for v, g, w in zip(vals, got, want) if g != w
    ][:5]


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(st.sampled_from("ab"), min_size=0, max_size=30).map(
            lambda toks: " ".join(toks)
        ),
        min_size=1,
        max_size=6,
    )
)
def test_passage_spans_law(spark, docs):
    """Law behind dedup_passage_spans, checked against a brute-force
    Python model: the reported spans are exactly the merged coverage of
    every 8-token window whose text occurs >= 2 times in the corpus."""
    import pandas as pd
    import tempfile

    from jorvik_spark.queries import QUERIES
    from jorvik_spark.queries.registry import _MEMO, _drop_memo_entry

    K = 8
    d = tempfile.mkdtemp(prefix="spans_prop_")
    pd.DataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(docs)],
        columns=["doc_id", "text", "lang", "source", "n_chars"],
    ).to_parquet(f"{d}/documents.parquet")
    # distinct tmpdir per example → distinct memo keys; drop stale ones
    for k in list(_MEMO):
        _drop_memo_entry(_MEMO.pop(k))

    # Python model: count window occurrences corpus-wide, merge covers.
    from collections import Counter

    toks = [t.split() for t in docs]
    wins = Counter()
    for t in toks:
        for i in range(len(t) - K + 1):
            wins[" ".join(t[i : i + K])] += 1
    want = set()
    for doc_id, t in enumerate(toks):
        pos = [
            i
            for i in range(len(t) - K + 1)
            if wins[" ".join(t[i : i + K])] >= 2
        ]
        # merge starts whose covers overlap/touch (gap <= K)
        run = []
        for p in pos:
            if run and p - run[-1] > K:
                want.add((doc_id, run[0], run[-1] + K - 1))
                run = []
            run.append(p)
        if run:
            want.add((doc_id, run[0], run[-1] + K - 1))

    got = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in QUERIES["dedup_passage_spans"](spark, d).collect()
    }
    assert got == want


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    keys=st.lists(
        st.tuples(st.integers(0, 10**6), st.integers(0, 10**6)),
        min_size=1,
        max_size=50,
    )
)
def test_zorder_buckets_are_monotone_rectangles(spark, keys):
    """Laws behind sink_zorder_layout: every row lands in exactly one
    bucket, bucket ids are the z-value ranges in order, and each
    bucket's z-window is the fixed width — independent of the key
    distribution hypothesis generates."""
    import pandas as pd
    import tempfile

    from jorvik_spark.queries import QUERIES
    from jorvik_spark.queries.storage_ops import _Z_BUCKETS

    d = tempfile.mkdtemp(prefix="zorder_prop_")
    pd.DataFrame(
        [
            (ok, pk, 1, 1.0, "N")
            for ok, pk in keys
        ],
        columns=[
            "l_orderkey", "l_partkey", "l_linenumber", "l_quantity",
            "l_returnflag",
        ],
    ).to_parquet(f"{d}/lineitem.parquet")
    rows = QUERIES["sink_zorder_layout"](spark, d).collect()
    assert sum(r["n_rows"] for r in rows) == len(keys)
    assert all(0 <= r["zbucket"] < _Z_BUCKETS for r in rows)


@given(n_bytes=st.integers(0, 4 * 16_000 * 8 + 13))
@settings(max_examples=60, deadline=None)
def test_chunk_audio_partition_law(n_bytes):
    """For any blob size: chunk indices are contiguous from 0, starts
    advance by exactly one rate-window, sample counts sum to
    min(n_samples, cap × SR), every chunk except a lone empty-blob
    marker is non-empty, and the layout is a pure function of size
    (keys aside)."""
    from jorvik_spark.queries.multimodal import (
        _AUDIO_BYTES_PER_SAMPLE,
        _AUDIO_MAX_CHUNKS,
        _AUDIO_SR,
        chunk_audio,
    )

    content = b"\x7f" * n_bytes
    chunks = chunk_audio(content)
    n_samples = n_bytes // _AUDIO_BYTES_PER_SAMPLE
    assert 1 <= len(chunks) <= _AUDIO_MAX_CHUNKS
    assert [c["chunk_idx"] for c in chunks] == list(range(len(chunks)))
    assert [c["start_sample"] for c in chunks] == [
        i * _AUDIO_SR for i in range(len(chunks))
    ]
    covered = sum(c["n_chunk_samples"] for c in chunks)
    assert covered == min(n_samples, _AUDIO_MAX_CHUNKS * _AUDIO_SR)
    if n_samples > 0:
        assert all(c["n_chunk_samples"] > 0 for c in chunks)
    else:
        assert len(chunks) == 1 and chunks[0]["n_chunk_samples"] == 0


@given(
    sizes=st.lists(st.integers(2, 9), min_size=1, max_size=6),
)
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_cluster_size_histogram_law(spark, sizes):
    """For synthetic clusters of known sizes (exact-duplicate groups →
    every group IS one component), the histogram over the computed
    labels must recover the multiset of planted sizes."""
    from collections import Counter

    from jorvik_spark.queries.dedup import bands_of_docs

    rows, doc_id = [], 0
    for g, size in enumerate(sizes):
        text = " ".join(f"grp{g}w{i}" for i in range(30))
        for _ in range(size):
            rows.append((doc_id, text, "en"))
            doc_id += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    bands = bands_of_docs(docs)
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("x"), F.col("b.doc_id").alias("y"))
        .distinct()
        .collect()
    )
    # exact duplicates always band-collide, so the union-find over the
    # pair list reproduces the planted grouping
    parent = list(range(doc_id))

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for r in pairs:
        parent[find(r.x)] = find(r.y)
    got = Counter(Counter(find(i) for i in range(doc_id)).values())
    assert got == Counter(sizes)


def _docs_parquet(tmp_path_factory, rows):
    """Write (doc_id, text, lang, source, n_chars) rows as a documents
    table in a fresh scratch dir; returns the dir."""
    import pandas as pd

    d = tmp_path_factory.mktemp("prop_docs")
    pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).to_parquet(str(d / "documents.parquet"))
    return str(d)


@given(
    per_source=st.lists(st.integers(1, 30), min_size=1, max_size=4),
    seed=st.integers(0, 10_000),
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_reservoir_sample_laws(spark, tmp_path_factory, per_source, seed):
    """For any per-source population: the sample holds exactly
    min(N, |source|) docs per source with contiguous ranks 1..k, and the
    SELECTED SET is a pure function of the doc ids — invariant under row
    order and partitioning (the reservoir's reproducibility contract)."""
    from collections import Counter

    from jorvik_spark.queries.sampling import (
        _RESERVOIR_N,
        sample_reservoir_per_source,
    )

    rng = random.Random(seed)
    rows, doc_id = [], 0
    for s, n in enumerate(per_source):
        for _ in range(n):
            rows.append((doc_id, f"text {doc_id}", "en", f"s{s}", 10))
            doc_id += 1
    rng.shuffle(rows)  # row order must not matter
    d = _docs_parquet(tmp_path_factory, rows)
    got = sample_reservoir_per_source(spark, d).collect()
    by_source = Counter(r["source"] for r in got)
    for s, n in enumerate(per_source):
        assert by_source[f"s{s}"] == min(_RESERVOIR_N, n)
    for s in by_source:
        ranks = sorted(
            r["sample_rank"] for r in got if r["source"] == s
        )
        assert ranks == list(range(1, len(ranks) + 1))
    # determinism: a second run over a differently-ordered copy of the
    # same population selects the same (doc_id, source, rank) set
    rng.shuffle(rows)
    d2 = _docs_parquet(tmp_path_factory, rows)
    got2 = sample_reservoir_per_source(spark, d2).collect()
    key = lambda r: (r["doc_id"], r["source"], r["sample_rank"])  # noqa: E731
    assert sorted(map(key, got)) == sorted(map(key, got2))


@given(
    sizes=st.lists(st.integers(1, 500), min_size=1, max_size=12),
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_source_gini_matches_integer_formula(spark, tmp_path_factory, sizes):
    """The per-source Gini must equal the brute-force integer rank
    formula computed in Python on the sorted sizes — exactly, not
    approximately (the all-integer design claim) — and uniform sizes
    give exactly 0."""
    rows = [
        (i, f"t {i}", "en", "s0", n) for i, n in enumerate(sizes)
    ]
    d = _docs_parquet(tmp_path_factory, rows)
    from jorvik_spark.queries.sampling import corpus_source_gini

    [r] = corpus_source_gini(spark, d).collect()
    xs = sorted(sizes)
    n, tot = len(xs), sum(xs)
    rank_weighted = sum((i + 1) * x for i, x in enumerate(xs))
    expect = (2 * rank_weighted - (n + 1) * tot) * 1_000_000 // (n * tot)
    assert r["gini_ppm"] == expect
    if len(set(sizes)) == 1:
        assert r["gini_ppm"] == 0


@given(
    clusters=st.lists(
        st.tuples(st.integers(1, 4), st.integers(1, 6)),  # (copies, words)
        min_size=1,
        max_size=6,
    ),
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_dedup_impact_reconciles(spark, tmp_path_factory, clusters):
    """Conservation laws of the attrition report: per source,
    tokens_removed ≤ tokens_total and dup docs < docs; across sources,
    kept docs (n_docs − n_dup_docs summed) equal the number of DISTINCT
    content keys, and removed tokens equal the Python-computed token
    mass of every non-keeper copy."""
    from jorvik_spark.queries.sampling import corpus_dedup_impact

    rows, doc_id, expected_removed = [], 0, 0
    for g, (copies, words) in enumerate(clusters):
        text = " ".join(f"g{g}w{i}" for i in range(words))
        for c in range(copies):
            rows.append(
                (doc_id, text, "en", f"s{doc_id % 2}", len(text))
            )
            if c > 0:  # keeper is the lowest doc_id = first copy
                expected_removed += words
            doc_id += 1
    d = _docs_parquet(tmp_path_factory, rows)
    got = corpus_dedup_impact(spark, d).collect()
    assert sum(r["n_docs"] - r["n_dup_docs"] for r in got) == len(clusters)
    assert sum(r["tokens_removed"] for r in got) == expected_removed
    for r in got:
        assert 0 <= r["tokens_removed"] <= r["tokens_total"]
        # n_dup_docs may EQUAL n_docs: a source is 100% duplicate when
        # every cluster keeper lives in another source — the exact
        # cross-source case the report exists to surface.
        assert 0 <= r["n_dup_docs"] <= r["n_docs"]


def test_ppm_arithmetic_survives_corpus_scale_operands(spark):
    """The ×1e6 ppm scale-ups in the corpus reports run in DECIMAL(38,0):
    pin that the exact expression forms used by corpus_dedup_impact /
    corpus_source_gini / corpus_mixture_epochs / text_simpson_diversity
    return the Python-exact integral quotient for operands past the
    int64 ceiling (tokens_removed ≈ 6e18 · 1e6 ≈ 6e24), where the old
    int64 forms overflowed (ANSI failure or silent wraparound)."""
    removed, total = 6_148_914_691_236_517_205, 9_223_372_036_854_775_783
    df = spark.createDataFrame(
        [(removed, total)], "tokens_removed long, tokens_total long"
    )
    [r] = df.select(
        F.expr(
            "CAST(tokens_removed AS DECIMAL(38,0)) * 1000000"
            " div tokens_total"
        ).cast("long").alias("ppm"),
        F.expr(
            "(2 * CAST(tokens_removed AS DECIMAL(38,0))"
            " - CAST(3 AS DECIMAL(38,0)) * 2000000000000)"
            " * 1000000 div (CAST(2 AS DECIMAL(38,0)) * tokens_total)"
        ).cast("long").alias("gini_like"),
    ).collect()
    assert r["ppm"] == removed * 1_000_000 // total
    assert (
        r["gini_like"]
        == (2 * removed - 3 * 2_000_000_000_000) * 1_000_000 // (2 * total)
    )


def test_dsum_exceeds_int64_unit_ceiling_and_matches_oracle(spark):
    """registry.dsum accumulates quantized units exactly: two rows of
    ±9e12 currency units (±9e18 quantized each) push the unit sum to
    ±1.8e19 — past int64, where a long accumulator overflows — and the
    result must still match DuckDB's HUGEINT-sum sql_dsum of the same SQL
    text bit-for-bit after the common /1e6 double conversion."""
    import duckdb

    from jorvik_spark.queries.registry import dsum, sql_dsum

    vals = [9.0e12, 9.0e12, 123.456789, -0.25]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW t AS SELECT * FROM (VALUES "
        + ", ".join(f"({v!r})" for v in vals)
        + ") AS v(x)"
    )
    for expr, sign in (("x", 1), ("-x", -1)):
        [got] = df.agg(dsum(expr).alias("s")).collect()
        [(want,)] = con.execute(f"SELECT {sql_dsum(expr)} FROM t").fetchall()
        assert got["s"] == want, expr
        assert abs(got["s"] - sign * sum(vals)) < 1.0  # magnitude right


def test_template_spark_result_types(spark):
    """The Spark rendering of the template keeps the helpers' types:
    DOUBLE for dsum/davg, BIGINT for hash_bucket and INT for octave,
    whose two renderings agree exactly at every octave edge. Spark SQL
    reads an unsuffixed decimal literal as DECIMAL, so a template literal
    written without its ``D`` suffix would silently turn every money
    aggregate DECIMAL; the last part checks that this test would see it."""
    import duckdb

    from jorvik_spark.queries.registry import (
        _SPARK,
        _dsum,
        davg,
        dsum,
        hash_bucket,
        octave,
        sql_octave,
    )

    edges = sorted(
        {0, 1, 1 << 62} | {(1 << k) + d for k in range(1, 63) for d in (-1, 0)}
    )
    ints = spark.createDataFrame([(v,) for v in edges], "v bigint")
    octaves = ints.select("v", octave("v").alias("o")).orderBy("v")
    assert octaves.dtypes[1] == ("o", "int")
    got = [tuple(r) for r in octaves.collect()]
    want = duckdb.sql(
        f"SELECT v, {sql_octave('v')} AS o FROM (SELECT unnest(?::BIGINT[]) AS v)"
        " ORDER BY v",
        params=[edges],
    ).fetchall()
    assert got == want
    assert got == [(v, v.bit_length()) for v in edges]

    df = spark.createDataFrame([(1.25, 7)], "x double, k bigint")
    aggs = df.agg(dsum("x * 2").alias("s"), davg("x").alias("a"))
    assert aggs.dtypes == [("s", "double"), ("a", "double")]
    assert aggs.first() == (2.5, 1.25)
    bucket = df.select(hash_bucket("k", "salt:").alias("b"))
    assert bucket.dtypes == [("b", "bigint")]
    assert 0 <= bucket.first()["b"] < 1000

    decimal_literal = _SPARK._replace(unscale="1000000.0")
    mutated = df.agg(F.expr(_dsum("x", decimal_literal)).alias("s"))
    assert mutated.dtypes[0][1].startswith("decimal")


def test_local_checkpoint_release_private_api_still_resolves(spark):
    """Sentinel for the private plan-leaf reclaim path
    (dedup._release_local_checkpoint and registry._drop_memo_entry both
    call df._jdf.queryExecution().analyzed().rdd().unpersist()). The
    callers swallow failures by design — a Spark upgrade that renames any
    hop would silently downgrade eager storage release to the async
    ContextCleaner and pin memory under load. This test fails LOUDLY in
    that world so the fallback is a decision, not an accident."""
    df = spark.range(4).localCheckpoint()
    rdd = df._jdf.queryExecution().analyzed().rdd()
    # the checkpointed plan leaf must actually carry storage to release
    assert rdd.getStorageLevel().useMemory() or (
        rdd.getStorageLevel().useDisk()
    ), "localCheckpoint leaf no longer reports a storage level"
    rdd.unpersist(False)
    assert not rdd.getStorageLevel().useMemory(), (
        "unpersist on the plan-leaf RDD no longer releases storage"
    )


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(lengths=st.lists(st.integers(0, 60), min_size=1, max_size=5))
def test_chunk_overlap_law(spark, lengths):
    """Laws behind text_chunk_overlap, vs a brute-force Python model:
    chunk i of an n-token doc covers exactly [i*S, min(i*S+C, n)), every
    token index is covered by >= 1 chunk, the chunk count matches the
    closed form, and the fingerprint is md5 of the exact slice."""
    import hashlib
    import tempfile

    import pandas as pd

    from jorvik_spark.queries import QUERIES
    from jorvik_spark.queries.registry import _MEMO, _drop_memo_entry
    from jorvik_spark.queries.sampling import _CHUNK_SIZE, _CHUNK_STRIDE

    d = tempfile.mkdtemp(prefix="chunk_prop_")
    docs = [" ".join(f"t{j}" for j in range(n)) for n in lengths]
    pd.DataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(docs)],
        columns=["doc_id", "text", "lang", "source", "n_chars"],
    ).to_parquet(f"{d}/documents.parquet")
    for k in list(_MEMO):
        _drop_memo_entry(_MEMO.pop(k))

    C, S = _CHUNK_SIZE, _CHUNK_STRIDE
    want = {}
    for doc_id, n in enumerate(lengths):
        if n == 0:
            continue
        n_chunks = 1 if n <= C else 1 + -(-(n - C) // S)
        for i in range(n_chunks):
            piece = [f"t{j}" for j in range(i * S, min(i * S + C, n))]
            want[(doc_id, i)] = (
                i * S,
                len(piece),
                hashlib.md5(" ".join(piece).encode()).hexdigest(),
            )
    got = {
        (r["doc_id"], r["chunk_idx"]): (
            r["start_token"],
            r["n_chunk_tokens"],
            r["chunk_fp"],
        )
        for r in QUERIES["text_chunk_overlap"](spark, d).collect()
    }
    assert got == want
    # coverage: every token index of every doc is inside >= 1 chunk
    for doc_id, n in enumerate(lengths):
        covered = set()
        for (did, i), (start, ln, _) in want.items():
            if did == doc_id:
                covered.update(range(start, start + ln))
        assert covered == set(range(n))


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    counts=st.dictionaries(
        st.integers(1, 40), st.integers(1, 12), min_size=1, max_size=15
    )
)
def test_countmin_sketch_law(spark, counts):
    """Laws behind agg_countmin_sketch, vs a full Python count-min
    model with the same md5 hash rows: the estimate equals the min over
    the 4 salted counter cells (collisions included), and therefore can
    never undercount."""
    import hashlib
    import tempfile

    import pandas as pd

    from jorvik_spark.queries import QUERIES
    from jorvik_spark.queries.aggregates import _CMS_DEPTH, _CMS_WIDTH

    d = tempfile.mkdtemp(prefix="cms_prop_")
    keys = [k for k, c in counts.items() for _ in range(c)]
    pd.DataFrame(
        {
            "o_orderkey": range(len(keys)),
            "o_custkey": keys,
            "o_orderstatus": ["F"] * len(keys),
            "o_totalprice": [1.0] * len(keys),
            "o_orderdate": pd.to_datetime(
                ["1995-01-01"] * len(keys)
            ).as_unit("us"),
            "o_orderpriority": ["1-URGENT"] * len(keys),
        }
    ).to_parquet(f"{d}/orders.parquet")

    def bucket(depth, k):
        h = hashlib.md5(f"cms{depth}:{k}".encode()).hexdigest()
        return int(h[:8], 16) % _CMS_WIDTH

    cells = {}
    for k, c in counts.items():
        for dep in range(_CMS_DEPTH):
            cell = (dep, bucket(dep, k))
            cells[cell] = cells.get(cell, 0) + c
    want_est = {
        k: min(cells[(dep, bucket(dep, k))] for dep in range(_CMS_DEPTH))
        for k in counts
    }
    rows = QUERIES["agg_countmin_sketch"](spark, d).collect()
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    assert [(r["custkey"], r["exact_cnt"]) for r in rows] == top
    for r in rows:
        assert r["cms_est"] == want_est[r["custkey"]]
        assert r["never_under"]
        assert r["cms_est"] >= r["exact_cnt"]


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    events=st.lists(
        st.tuples(
            st.integers(0, 3),  # user
            st.integers(0, 120),  # offset seconds (duplicates likely)
            st.integers(-50, 50),  # value in tenths
        ),
        min_size=1,
        max_size=20,
    )
)
# exact half-way quotients (98437.5 micro-units either sign): both
# engines round them away from zero, a binary-float round() does not
@example(events=[(0, 45, 0), (0, 46, 1), (0, 109, 0)])
@example(events=[(0, 45, 0), (0, 46, -1), (0, 109, 0)])
def test_time_weighted_avg_law(spark, events):
    """Law behind window_time_weighted_avg, vs a brute-force Python
    model: per user, TWA = Σ(value·hold)/Σ(hold) over the sorted
    timeline using only POSITIVE holding intervals — users whose events
    all share one instant produce NO row (never a 0/0). The model rounds
    the exact quotient to 6 places half away from zero, as Spark's and
    DuckDB's round() do."""
    import datetime
    import tempfile

    import pandas as pd

    from jorvik_spark.queries import QUERIES

    d = tempfile.mkdtemp(prefix="twa_prop_")
    base = datetime.datetime(2024, 3, 1)
    rows = [
        (i, base + datetime.timedelta(seconds=off), u, "view", v / 10.0,
         None)
        for i, (u, off, v) in enumerate(events)
    ]
    pdf = pd.DataFrame(
        rows,
        columns=["event_id", "ts", "user_id", "event_type", "value",
                 "props"],
    )
    pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
    pdf.to_parquet(f"{d}/events.parquet")

    want = {}
    by_user = {}
    for i, (u, off, v) in enumerate(events):
        by_user.setdefault(u, []).append((off * 1_000_000, i, v / 10.0))
    for u, evs in by_user.items():
        evs.sort()
        svd = sd = n = 0
        for (t, _, v), (t2, _, _) in zip(evs, evs[1:]):
            dur = t2 - t
            if dur > 0:
                import math

                vu = math.floor(v * 1_000_000 + 0.5)
                svd += vu * dur
                sd += dur
                n += 1
        if sd > 0:
            # svd / sd is the TWA in micro-units: round it to an integer
            k = (2 * abs(svd) + sd) // (2 * sd)
            want[u] = (n, (k if svd >= 0 else -k) / 1_000_000, sd)
    got = {
        r["user_id"]: (
            r["n_intervals"],
            r["twa_value"],
            r["total_dur_us"],
        )
        for r in QUERIES["window_time_weighted_avg"](spark, d).collect()
    }
    assert got == want


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    offsets=st.lists(
        st.integers(0, 7200),  # seconds across two+ hour buckets
        min_size=1,
        max_size=18,
    )
)
# r17 regression pin: a hold ending exactly ON the next hour boundary
# leaked a zero-width carry-in plateau into that bucket's peak
@example(offsets=[6900])
def test_peak_concurrency_law(spark, offsets):
    """Law behind window_peak_concurrency, vs a brute-force sweep: for
    each hour bucket, the reported peak equals the max over the bucket's
    time range of the TRUE concurrency function (half-open [t, t+5min)
    holds), including the carry-in plateau before the bucket's first
    boundary — the case a boundary-rows-only max would miss."""
    import datetime
    import tempfile

    import pandas as pd

    from jorvik_spark.queries import QUERIES
    from jorvik_spark.queries.windows import (
        _CONC_BUCKET_US,
        _CONC_HOLD_MIN,
    )

    d = tempfile.mkdtemp(prefix="conc_prop_")
    base = datetime.datetime(2024, 3, 1)
    rows = [
        (i, base + datetime.timedelta(seconds=off), 0, "view", 1.0, None)
        for i, off in enumerate(offsets)
    ]
    pdf = pd.DataFrame(
        rows,
        columns=["event_id", "ts", "user_id", "event_type", "value",
                 "props"],
    )
    pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
    pdf.to_parquet(f"{d}/events.parquet")

    base_us = int(base.timestamp() * 1_000_000)
    hold = _CONC_HOLD_MIN * 60 * 1_000_000
    ivals = [
        (base_us + off * 1_000_000, base_us + off * 1_000_000 + hold)
        for off in offsets
    ]
    # true concurrency evaluated at every boundary instant (it only
    # changes there); bucket peak = max over instants in the bucket,
    # plus the carry-in value at the bucket's start.
    instants = sorted({t for iv in ivals for t in iv})
    buckets = sorted({t // _CONC_BUCKET_US for t in instants})

    def conc(t):
        return sum(1 for s, e in ivals if s <= t < e)

    want = {}
    for b in buckets:
        lo, hi = b * _CONC_BUCKET_US, (b + 1) * _CONC_BUCKET_US
        pts = [t for t in instants if lo <= t < hi] + [lo]
        want[b] = max(conc(t) for t in pts)
    got = {
        int(r["bucket_start"].timestamp() * 1_000_000) // _CONC_BUCKET_US:
            r["peak_concurrency"]
        for r in QUERIES["window_peak_concurrency"](spark, d).collect()
    }
    assert got == want


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    series=st.lists(
        st.integers(-10_000, 10_000), min_size=3, max_size=40
    )
)
def test_pettitt_matches_bruteforce_mannwhitney(spark, series):
    """Law behind window_pettitt_changepoint: for any series, the
    reported (t*, K) equal the brute-force Pettitt statistic
    K = max_t |Σ_{i≤t}Σ_{j>t} sgn(x_i − x_j)| with the smallest-t
    tie-break — doubled midranks are an implementation detail the
    brute force never sees."""
    import tempfile

    import pandas as pd

    from jorvik_spark.queries import QUERIES

    d = tempfile.mkdtemp(prefix="pettitt_prop_")
    base = 1_700_000_000_000_000  # µs epoch
    pd.DataFrame(
        {
            "event_id": range(1, len(series) + 1),
            "ts": pd.to_datetime(
                [base + i * 60_000_000 for i in range(len(series))], unit="us"
            ),
            "user_id": [1] * len(series),
            "event_type": ["purchase"] * len(series),
            "value": [float(v) for v in series],
            "props": [None] * len(series),
        }
    ).to_parquet(f"{d}/events.parquet")

    n = len(series)
    best_k, best_t = -1, None
    for t in range(1, n):
        u = sum(
            (series[i] > series[j]) - (series[i] < series[j])
            for i in range(t)
            for j in range(t, n)
        )
        if abs(u) > best_k:
            best_k, best_t = abs(u), t
    rows = QUERIES["window_pettitt_changepoint"](spark, d).collect()
    assert len(rows) == 1
    assert (rows[0]["t_star"], rows[0]["k2"]) == (best_t, best_k)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vecs=st.lists(
        st.lists(
            st.floats(
                min_value=-4.0,
                max_value=4.0,
                allow_nan=False,
                allow_infinity=False,
                width=32,
            ),
            min_size=1,
            max_size=64,
        ),
        min_size=2,
        max_size=12,
    )
)
def test_hamming_topk_matches_bruteforce_popcount(spark, vecs):
    """Law behind simsearch_hamming_topk: for arbitrary (short, odd,
    zero) vectors, every reported distance equals the brute-force
    popcount over positional sign bits of the first 64 dims, and the
    ranking respects the (distance, candidate_id) total order."""
    import tempfile

    import pandas as pd

    from jorvik_spark.queries import QUERIES

    d = tempfile.mkdtemp(prefix="ham_prop_")
    pd.DataFrame(
        {
            "vec_id": range(len(vecs)),
            "embedding": [list(map(float, v)) for v in vecs],
            "label": [0] * len(vecs),
        }
    ).to_parquet(f"{d}/embeddings.parquet")

    def bits(v):
        return {i for i, x in enumerate(v[:64]) if x > 0}

    got = QUERIES["simsearch_hamming_topk"](spark, d).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rows_q in by_q.items():
        bq = bits(vecs[q])
        for r in rows_q:
            bc = bits(vecs[r["candidate_id"]])
            assert r["hamming"] == len(bq ^ bc)
        ranked = sorted(rows_q, key=lambda r: r["rnk"])
        keys = [(r["hamming"], r["candidate_id"]) for r in ranked]
        assert keys == sorted(keys)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    series=st.lists(st.integers(-10_000, 10_000), min_size=2, max_size=40)
)
def test_kendall_tau_matches_bruteforce_pairs(spark, series):
    """Law behind window_kendall_tau_trend: for any single-user value
    series (shorter than the recency cap), concordant/discordant equal
    the brute-force time-ordered pair counts and tau_ppm equals
    (C − D)·1e6 truncated toward zero over n(n−1)/2 pairs."""
    import tempfile

    import pandas as pd

    from jorvik_spark.queries import QUERIES

    d = tempfile.mkdtemp(prefix="tau_prop_")
    base = 1_700_000_000_000_000
    pd.DataFrame(
        {
            "event_id": range(1, len(series) + 1),
            "ts": pd.to_datetime(
                [base + i * 60_000_000 for i in range(len(series))], unit="us"
            ),
            "user_id": [1] * len(series),
            "event_type": ["purchase"] * len(series),
            "value": [float(v) for v in series],
            "props": [None] * len(series),
        }
    ).to_parquet(f"{d}/events.parquet")

    n = len(series)
    q = [round(v * 1_000_000) for v in series]  # micro-quantized
    conc = sum(
        1 for i in range(n) for j in range(i + 1, n) if q[j] > q[i]
    )
    disc = sum(
        1 for i in range(n) for j in range(i + 1, n) if q[j] < q[i]
    )
    pairs = n * (n - 1) // 2
    num = (conc - disc) * 1_000_000
    # exact toward-zero integer division (Python // floors)
    want_tau = -((-num) // pairs) if num < 0 else num // pairs
    rows = QUERIES["window_kendall_tau_trend"](spark, d).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["concordant"], r["discordant"], r["n_pairs"]) == (
        conc,
        disc,
        pairs,
    )
    assert r["tau_ppm"] == want_tau


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    keys=st.sets(
        st.integers(0, 20_000), min_size=2, max_size=60
    )
)
def test_stride_census_matches_single_sort(spark, keys):
    """Law behind audit_orderkey_gap_census: the two-level
    (bucket-partitioned lag + boundary extrema) decomposition equals
    the single-global-sort stride census for ANY keyspace, including
    keys straddling the 4096 bucket boundary."""
    import tempfile
    from collections import Counter

    import pandas as pd

    from jorvik_spark.queries import QUERIES

    d = tempfile.mkdtemp(prefix="stride_prop_")
    pd.DataFrame({"o_orderkey": sorted(keys)}).to_parquet(
        f"{d}/orders.parquet"
    )
    ks = sorted(keys)
    want = Counter(b - a for a, b in zip(ks, ks[1:]))
    got = {
        r["stride"]: r["n_pairs"]
        for r in QUERIES["audit_orderkey_gap_census"](spark, d).collect()
    }
    assert got == dict(want)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vecs=st.lists(
        st.lists(
            st.floats(
                min_value=-4.0,
                max_value=4.0,
                allow_nan=False,
                allow_infinity=False,
                width=32,
            ),
            min_size=1,
            max_size=16,
        ),
        min_size=1,
        max_size=6,
    )
)
def test_rp16_sketch_matches_bruteforce_projection(spark, vecs):
    """Law behind embed_rp16_sketch: every sketch component equals the
    brute-force Σ_i sgn(d, i)·floor(v_i·1e6 + 0.5) with the md5-parity
    sign — for arbitrary (short, odd-dimension, zero) vectors. All
    vectors in one table share the position grid, so ragged inputs are
    padded by the test, not the engine."""
    import hashlib
    import math
    import tempfile

    import pandas as pd

    from jorvik_spark.queries import QUERIES

    dim = max(len(v) for v in vecs)
    vecs = [v + [0.0] * (dim - len(v)) for v in vecs]
    d = tempfile.mkdtemp(prefix="rp_prop_")
    pd.DataFrame(
        {
            "vec_id": range(1, len(vecs) + 1),
            "embedding": vecs,
            "label": [0] * len(vecs),
        }
    ).to_parquet(f"{d}/embeddings.parquet")

    def sgn(dd, pos):
        h = hashlib.md5(f"rp16:{dd}:{pos}".encode()).hexdigest()[:8]
        return 1 if int(h, 16) % 2 == 0 else -1

    want = {}
    for vid, v in enumerate(vecs, start=1):
        qv = [math.floor(float(x) * 1_000_000 + 0.5) for x in v]
        for dd in range(16):
            want[(vid, dd)] = sum(
                sgn(dd, i) * qv[i] for i in range(len(qv))
            )
    got = {
        (r["vec_id"], r["proj_dim"]): r["proj_units"]
        for r in QUERIES["embed_rp16_sketch"](spark, d).collect()
    }
    assert got == want
