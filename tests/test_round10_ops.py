"""Round-10 operator tests: PassJoin pigeonhole candidate completeness
(property-tested at edit distance <= 3), the sampled Spearman
calibration mode, and the streaming anomaly z-score's batch/stream
equality. Oracle parity for the exact forms runs through
tests/test_oracle_parity.py; these pin the sampled/blocked/stateful
paths the hash compare can't see."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from jorvik_spark.queries.registry import hash_bucket
from jorvik_spark.queries.text_analysis import (
    corpus_quality_rank_correlation,
    text_bigram_lm_score,
)
from jorvik_spark.tables import default_sf_dir, load_table

SF_DIR = default_sf_dir()


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_spearman_sampled_rejects_bad_permille(spark):
    for bad in (0, 1000, -5):
        with pytest.raises(ValueError):
            corpus_quality_rank_correlation(
                spark, SF_DIR, sample_permille=bad
            )


def test_spearman_sampled_deterministic_and_proportional(spark):
    a = _rows(
        corpus_quality_rank_correlation(spark, SF_DIR, sample_permille=500)
    )
    b = _rows(
        corpus_quality_rank_correlation(spark, SF_DIR, sample_permille=500)
    )
    assert a == b  # hash-mod subset: no RNG state, replay-identical

    exact_n = sum(
        r["n_docs"]
        for r in corpus_quality_rank_correlation(spark, SF_DIR).collect()
    )
    samp_n = sum(r[1] for r in a)
    # permille=500 over independent md5 buckets: binomially concentrated
    # around half the corpus (sources with n<2 drop from BOTH forms).
    assert 0.35 * exact_n <= samp_n <= 0.65 * exact_n


def test_spearman_sample_is_length_unbiased(spark):
    """The hash-mod subset must not correlate with the variable being
    ranked: mean n_chars of the sampled docs stays near the corpus mean
    (a length-biased sampler would invalidate the calibration the query
    exists to measure)."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "n_chars")
    full = docs.agg(F.avg("n_chars")).first()[0]
    samp = (
        docs.filter(hash_bucket("doc_id", "spearman:") < 500)
        .agg(F.avg("n_chars"))
        .first()[0]
    )
    assert samp == pytest.approx(full, rel=0.25)


def test_passjoin_blocking_is_complete(spark):
    """The pigeonhole guarantee, asserted: the PassJoin-blocked result
    equals the brute-force all-pairs edit-distance truth exactly — the
    blocker may only PRUNE candidates that cannot match, never drop a
    true pair (this is what the rejected MinHash-band blocker failed:
    19% recall measured on this vocabulary)."""
    from jorvik_spark.queries.joins import join_fuzzy_name_passjoin

    got = {
        (r["name_a"], r["name_b"]): (r["distance"], r["n_pairs"])
        for r in join_fuzzy_name_passjoin(spark, SF_DIR).collect()
    }

    names = (
        load_table(spark, SF_DIR, "part")
        .filter(F.col("p_name").isNotNull() & (F.length("p_name") >= 4))
        .groupBy("p_name")
        .count()
        .collect()
    )
    counts = {r["p_name"]: r["count"] for r in names}

    def _ed(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(
                        prev[j] + 1,
                        cur[j - 1] + 1,
                        prev[j - 1] + (ca != cb),
                    )
                )
            prev = cur
        return prev[-1]

    truth = {}
    keys = sorted(counts)
    for i, a in enumerate(keys):
        for b in keys[i + 1 :]:
            d = _ed(a, b)
            if 1 <= d <= 3:
                truth[(a, b)] = (d, counts[a] * counts[b])
    assert got == truth


def _seg_bounds(lp: int, j: int) -> tuple[int, int]:
    """Python mirror of joins._seg_len/_seg_start (1-based start)."""
    q, r = divmod(lp, 4)
    length = q + (1 if j > 4 - r else 0)
    start = (j - 1) * q + max(0, (j - 1) - (4 - r)) + 1
    return start, length


def _index_keys(name: str) -> set:
    l = len(name)
    out = set()
    for j in range(1, 5):
        start, ln = _seg_bounds(l, j)
        out.add((l, j, name[start - 1 : start - 1 + ln]))
    return out


def _probe_keys(name: str) -> set:
    l = len(name)
    out = set()
    for lp in range(max(4, l - 3), l + 4):
        for j in range(1, 5):
            start, ln = _seg_bounds(lp, j)
            for p in range(max(1, start - 3), min(l - ln + 1, start + 3) + 1):
                out.add((lp, j, name[p - 1 : p - 1 + ln]))
    return out


def _edit_distance(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@settings(max_examples=300, deadline=None)
@given(
    base=st.text(alphabet="abc", min_size=4, max_size=16),
    edits=st.lists(
        st.tuples(
            st.sampled_from(["sub", "ins", "del"]),
            st.integers(min_value=0, max_value=15),
            st.sampled_from("abc"),
        ),
        min_size=0,
        max_size=3,
    ),
)
def test_passjoin_pigeonhole_property(base, edits):
    """The pigeonhole guarantee at EVERY length pair the fixture
    vocabulary doesn't cover (lengths 4..16+, all l mod 4 classes, all
    edit scripts up to 3 ops): a derived string within edit distance 3
    must share a blocking key with the base — probe(b) ∩ index(a) ≠ ∅
    in at least one direction. Pure-Python mirror of the exact segment
    formulas the Spark and DuckDB sides both evaluate."""
    other = base
    for op, pos, ch in edits:
        if not other:
            break
        p = pos % len(other)
        if op == "sub":
            other = other[:p] + ch + other[p + 1 :]
        elif op == "ins":
            other = other[:p] + ch + other[p:]
        elif len(other) > 1:
            other = other[:p] + other[p + 1 :]
    if len(other) < 4 or other == base:
        return
    d = _edit_distance(base, other)
    assert d <= 3  # ≤3 ops can only produce distance ≤3
    hit = (_probe_keys(other) & _index_keys(base)) or (
        _probe_keys(base) & _index_keys(other)
    )
    assert hit, f"pigeonhole miss: {base!r} ~ {other!r} (d={d})"


def test_passjoin_complete_on_synthetic_vocabulary(spark, tmp_path):
    """End-to-end Spark completeness on an adversarial vocabulary the
    fixtures lack: lengths spanning 4..13 (every l mod 4 class),
    prefix/suffix edits, and equal-length substitution clusters."""
    names = [
        "abcd", "abce", "xbcd",              # l=4 (l%4=0), subs
        "abcde", "abcdf", "bbcde",           # l=5
        "abcdef", "abcdeg",                  # l=6
        "abcdefg", "abcdefgh", "abcdefghi",  # growing lengths 7-9
        "abcdefghij", "abcdefghijk",         # 10-11
        "zbcdefghijk", "abcdefghijkmm",      # 12-13 + dist-2 tail
        "qrstuvwx", "qrstuvwxy",             # unrelated cluster
    ]
    rows = [(i, n, i % 5) for i, n in enumerate(names * 3)]
    spark.createDataFrame(
        rows, "p_partkey long, p_name string, p_size long"
    ).write.parquet(str(tmp_path / "part.parquet"))

    from jorvik_spark.queries.joins import join_fuzzy_name_passjoin

    got = {
        (r["name_a"], r["name_b"]): r["distance"]
        for r in join_fuzzy_name_passjoin(spark, str(tmp_path)).collect()
    }
    uniq = sorted(set(names))
    truth = {}
    for i, a in enumerate(uniq):
        for b in uniq[i + 1 :]:
            d = _edit_distance(a, b)
            if 1 <= d <= 3:
                truth[(a, b)] = d
    assert got == truth
    assert len(truth) >= 10  # the vocabulary actually exercises matches


def test_spearman_sampled_is_exact_statistic_over_subset(spark):
    """Sampling must change WHICH docs are ranked, never HOW: the
    sampled query's output equals a brute-force Python Spearman over
    the same deterministic doc subset, value for value."""
    permille = 500
    fam = {
        r["doc_id"]: r["familiarity_ppm"]
        for r in text_bigram_lm_score(spark, SF_DIR).collect()
    }
    docs = (
        load_table(spark, SF_DIR, "documents")
        .filter(hash_bucket("doc_id", "spearman:") < permille)
        .select("doc_id", "source", "n_chars")
        .collect()
    )
    by_source: dict[str, list] = {}
    for r in docs:
        if r["doc_id"] in fam:  # scored docs only (>=2 tokens)
            by_source.setdefault(r["source"], []).append(
                (r["doc_id"], fam[r["doc_id"]], r["n_chars"])
            )
    expected = {}
    for source, rows in by_source.items():
        n = len(rows)
        if n < 2:
            continue
        rf = {
            d: i + 1
            for i, (d, _, _) in enumerate(
                sorted(rows, key=lambda t: (t[1], t[0]))
            )
        }
        rl = {
            d: i + 1
            for i, (d, _, _) in enumerate(
                sorted(rows, key=lambda t: (t[2], t[0]))
            )
        }
        sd2 = sum((rf[d] - rl[d]) ** 2 for d, _, _ in rows)
        expected[source] = (n, 1_000_000 - (6_000_000 * sd2) // (n**3 - n))

    got = {
        r["source"]: (r["n_docs"], r["spearman_ppm"])
        for r in corpus_quality_rank_correlation(
            spark, SF_DIR, sample_permille=permille
        ).collect()
    }
    assert got == expected


def test_anomaly_zscore_stream_equals_batch(spark, tmp_path):
    """The online detector must flag EXACTLY the batch window query's
    rows under in-order delivery — across a two-file replay so the ≤8
    ring state actually persists through a micro-batch boundary, with a
    null-value row screened identically on both paths."""
    import datetime

    from jorvik_spark.streaming.ops import running_anomaly_zscore

    base = datetime.datetime(2024, 5, 1, 9, 0, 0)
    # user 1: steady 10.0 baseline, then a 500.0 spike (flag) and a
    # return to baseline; user 2: too few events to ever flag; one
    # null value mid-stream that must not perturb the ring.
    # the second spike sits 9 baseline events after the first, so the
    # 500.0 has aged out of the ≤8 ring by the time 480.0 is tested
    vals1 = [10.0, 10.2, 9.9, 10.1, 10.0, 500.0, 10.05, 9.95, 10.0,
             10.1, 9.9, 10.0, 10.05, 10.1, 9.95, 480.0]
    rows = [
        (100 + i, base + datetime.timedelta(minutes=i), 1, "purchase", v, None)
        for i, v in enumerate(vals1)
    ]
    rows.insert(5, (200, base + datetime.timedelta(minutes=4, seconds=30),
                    1, "purchase", None, None))
    rows += [
        (300 + i, base + datetime.timedelta(minutes=i), 2, "purchase",
         float(i), None)
        for i in range(3)
    ]
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    df = spark.createDataFrame(rows, schema)
    src = str(tmp_path / "src")
    # two files, split at the time midpoint, named so listing order ==
    # time order; maxFilesPerTrigger=1 forces the state to cross a
    # micro-batch boundary
    cut = base + datetime.timedelta(minutes=5)
    df.filter(F.col("ts") < cut).coalesce(1).write.parquet(f"{src}/p=a")
    df.filter(F.col("ts") >= cut).coalesce(1).write.parquet(f"{src}/p=b")

    batch = sorted(
        tuple(r)
        for r in running_anomaly_zscore(
            spark.read.parquet(f"{src}/p=a", f"{src}/p=b")
        ).collect()
    )
    assert len(batch) >= 2  # both spikes flag in the batch form

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/p=*")
    )
    out = running_anomaly_zscore(stream)
    dst, cp = str(tmp_path / "dst"), str(tmp_path / "cp")
    q = (
        out.writeStream.foreachBatch(
            lambda b, _i: b.write.mode("append").parquet(dst)
        )
        .option("checkpointLocation", cp)
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    live = sorted(tuple(r) for r in spark.read.parquet(dst).collect())
    assert live == batch
