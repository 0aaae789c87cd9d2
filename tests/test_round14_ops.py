"""Round-14 operator tests.

Covers the round's advice fixes (autocorr chunk-boundary ordering,
tv-distance disjoint pairs, benford empty-input guard) and the operators
added this round.
"""

from __future__ import annotations

import datetime
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from jorvik_spark.tables import default_sf_dir

_SF = default_sf_dir()


@pytest.mark.usefixtures("few_shuffle_partitions")
def test_running_autocorr_pairs_survive_arrow_chunk_boundaries(
    spark, tmp_path
):
    """Advice r13 (medium): with a key's micro-batch spanning multiple
    Arrow record batches, pairs straddling a chunk boundary must still
    form in (ts_us, event_id) order — a per-chunk sort silently pairs
    them in arrival order instead. Pin: tiny maxRecordsPerBatch, one
    20-row micro-batch written in scrambled arrival order, live == batch
    bit-for-bit."""
    from jorvik_spark.streaming.ops import running_autocorr

    base = datetime.datetime(2024, 5, 1, 9, 0, 0)
    # Alternating series → r ≈ −1, but ONLY when paired in ts order;
    # arrival-order pairing over the scramble destroys the alternation.
    rows = [
        (
            i + 1,
            base + datetime.timedelta(minutes=i),
            1,
            "purchase",
            1000.0 if i % 2 == 0 else 10.0,
            None,
        )
        for i in range(20)
    ]
    # Scramble deterministically: reverse-interleave so consecutive ts
    # land in different Arrow chunks.
    scrambled = [rows[i] for i in range(1, 20, 2)] + [
        rows[i] for i in range(18, -1, -2)
    ]
    schema = (
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    )
    df = spark.createDataFrame(scrambled, schema)
    src, dst, cp = (str(tmp_path / d) for d in ("src", "dst", "cp"))
    df.coalesce(1).write.parquet(src)

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "4")
    try:
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            running_autocorr(stream)
            .writeStream.foreachBatch(
                lambda b, i: b.write.mode("append").parquet(dst)
            )
            .option("checkpointLocation", cp)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(300)
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    live = sorted(
        tuple(r)
        for r in spark.read.parquet(dst)
        .select("user_id", "n_pairs", "r_u")
        .collect()
    )
    batch = sorted(
        tuple(r)
        for r in running_autocorr(spark.createDataFrame(rows, schema))
        .select("user_id", "n_pairs", "r_u")
        .collect()
    )
    assert live == batch
    assert live[0][1] == 19
    assert live[0][2] < -900_000  # alternation detected → r ≈ −1


def test_tv_distance_reports_disjoint_vocab_pair(spark, tmp_path):
    """Advice r13 (low): a source pair sharing ZERO tokens must still
    appear with the maximal TV (1,000,000 ppm) instead of vanishing
    from the divergence report."""
    from jorvik_spark.queries import QUERIES

    d = str(tmp_path / "tv")
    os.makedirs(d, exist_ok=True)
    pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "source": ["alpha", "alpha", "beta", "gamma"],
            "lang": ["en"] * 4,
            "text": [
                "apple banana cherry",
                "apple banana",
                "apple dog elephant",
                "zebra yak xylophone",  # disjoint from both others
            ],
        }
    ).to_parquet(f"{d}/documents.parquet")
    got = {
        (r["source_a"], r["source_b"]): r
        for r in QUERIES["corpus_source_tv_distance"](spark, d).collect()
    }
    assert set(got) == {
        ("alpha", "beta"),
        ("alpha", "gamma"),
        ("beta", "gamma"),
    }
    assert got[("alpha", "gamma")]["tv_ppm"] == 1_000_000
    assert got[("alpha", "gamma")]["n_common_types"] == 0
    assert got[("beta", "gamma")]["tv_ppm"] == 1_000_000
    assert 0 < got[("alpha", "beta")]["tv_ppm"] < 1_000_000


def test_benford_digits_empty_input_yields_null_report(spark, tmp_path):
    """Advice r13 (low): zero qualifying rows (all prices NULL or ≤ 0)
    must produce the 9-digit frame with NULL obs_ppm/chi2 — not a NaN
    cast that crashes the DuckDB oracle while the engine 'succeeds'."""
    import shutil

    from jorvik_spark.queries import QUERIES

    d = str(tmp_path / "benford")
    os.makedirs(d, exist_ok=True)
    src = spark.read.parquet(os.path.join(_SF, "lineitem.parquet"))
    src.limit(50).withColumn(
        "l_extendedprice", F.lit(None).cast("double")
    ).write.parquet(f"{d}/lineitem.parquet")
    rows = sorted(
        tuple(r) for r in QUERIES["audit_benford_digits"](spark, d).collect()
    )
    assert len(rows) == 9
    for digit, n_obs, obs_ppm, exp_ppm, chi2 in rows:
        assert n_obs == 0
        assert obs_ppm is None
        assert chi2 is None
        assert exp_ppm > 0
    shutil.rmtree(d, ignore_errors=True)


def test_bpe_pair_counts_argmax_is_trainer_round0(spark):
    """The hash-checkable companion must agree with the rows-only
    trainer where they overlap: the top row of text_bpe_pair_counts
    (count DESC, then l/r lexicographic — the trainer's tie-break) IS
    the trainer's round-0 merge."""
    from jorvik_spark.queries import QUERIES

    top = QUERIES["text_bpe_pair_counts"](spark, _SF).limit(1).collect()[0]
    r0 = (
        QUERIES["text_bpe_train"](spark, _SF)
        .filter(F.col("round") == 0)
        .collect()[0]
    )
    assert (r0["left"], r0["right"], r0["pair_count"]) == (
        top["l"],
        top["r"],
        top["pair_count"],
    )


def test_pettitt_locates_a_known_level_shift(spark, tmp_path):
    """A series that jumps 10 → 1000 at index 6 must report t_star = 6
    with the maximal rank statistic; a constant series reports K = 0;
    a 2-event series is excluded (n < 3)."""
    from jorvik_spark.queries import QUERIES

    base = datetime.datetime(2024, 5, 1, 9, 0, 0)
    rows, eid = [], 0
    for i in range(12):
        eid += 1
        rows.append(
            (eid, base + datetime.timedelta(minutes=i), 1, "purchase",
             10.0 if i < 6 else 1000.0, None)
        )
    for i in range(5):
        eid += 1
        rows.append(
            (eid, base + datetime.timedelta(minutes=i), 2, "purchase",
             7.5, None)
        )
    for i in range(2):
        eid += 1
        rows.append(
            (eid, base + datetime.timedelta(minutes=i), 3, "purchase",
             float(i), None)
        )
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    d = str(tmp_path / "pettitt")
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(rows, schema).write.parquet(f"{d}/events.parquet")
    got = {
        r["user_id"]: r
        for r in QUERIES["window_pettitt_changepoint"](spark, d).collect()
    }
    assert set(got) == {1, 2}  # user 3 excluded (n < 3)
    # U_t for the 6/6 split of a clean shift: max at t = 6 with
    # K = 6 * 6 = 36 (all 36 cross pairs discordant)
    assert got[1]["t_star"] == 6
    assert got[1]["k2"] == 36
    assert got[1]["n_events"] == 12
    assert got[2]["k2"] == 0  # constant series: every rank tied


def test_key_density_census_localizes_lost_batch(spark, tmp_path):
    """A keyspace with a hole must report the missing count and widest
    gap in exactly the bucket holding the hole; dense buckets report
    n_missing = 0; an entirely-lost bucket is absent from the census
    (the bucket-id discontinuity the reader checks)."""
    from jorvik_spark.queries import QUERIES

    B = 1024
    keys = (
        list(range(0, 100))  # bucket 0 head
        + list(range(500, 600))  # bucket 0 tail: hole 100..499 inside
        + list(range(B, 2 * B))  # bucket 1 fully dense
        + list(range(3 * B, 3 * B + 10))  # bucket 3; bucket 2 lost
    )
    d = str(tmp_path / "density")
    os.makedirs(d, exist_ok=True)
    pd.DataFrame({"o_orderkey": keys}).to_parquet(f"{d}/orders.parquet")
    got = {
        r["bucket"]: r for r in QUERIES["audit_key_density"](spark, d).collect()
    }
    assert set(got) == {0, 1, 3}  # bucket 2 lost entirely -> absent row
    assert got[0]["n_missing"] == 400 and got[0]["widest_gap"] == 400
    assert got[1]["n_missing"] == 0 and got[1]["widest_gap"] == 0
    assert got[3]["n_present"] == 10 and got[3]["n_missing"] == 0


def test_sqnorm_census_flags_zero_vectors(spark, tmp_path):
    from jorvik_spark.queries import QUERIES

    d = str(tmp_path / "sqn")
    os.makedirs(d, exist_ok=True)
    pd.DataFrame(
        {
            "vec_id": [1, 2, 3],
            "embedding": [[0.0, 0.0], [1.0, 0.0], [3.0, 4.0]],
            "label": [0, 0, 0],
        }
    ).to_parquet(f"{d}/embeddings.parquet")
    got = {
        r["nsq_bits"]: r
        for r in QUERIES["embed_sqnorm_octave_census"](spark, d).collect()
    }
    assert got[0]["n_vecs"] == 1 and got[0]["min_nsq"] == 0
    # |.|^2 of [1,0] = 1e12 micro^2 -> bits 40; [3,4] -> 25e12 -> bits 45
    assert got[40]["min_nsq"] == 10**12
    assert got[45]["min_nsq"] == 25 * 10**12


def test_readability_grade_formula(spark, tmp_path):
    """Hand-checked ARI: 'The cat sat on the mat.' has 17 chars,
    6 words, 1 sentence -> ARI = 4.71*(17/6) + 0.5*6 - 21.43 = -5.08
    -> clamps to grade 0."""
    from jorvik_spark.queries import QUERIES

    d = str(tmp_path / "ari")
    os.makedirs(d, exist_ok=True)
    pd.DataFrame(
        {
            "doc_id": [1, 2],
            "source": ["a", "a"],
            "lang": ["en", "en"],
            "text": [
                "The cat sat on the mat.",
                # long words, one sentence: high chars/word pushes high
                "extraordinarily incomprehensible characterization "
                "internationalization.",
            ],
        }
    ).to_parquet(f"{d}/documents.parquet")
    rows = QUERIES["text_readability_ari"](spark, d).collect()
    grades = sorted(r["grade"] for r in rows)
    assert grades[0] == 0  # the clamped simple sentence
    assert grades[-1] == 20  # the clamped jargon string


def test_gibberish_screen_flags_consonant_runs(spark, tmp_path):
    from jorvik_spark.queries import QUERIES

    d = str(tmp_path / "gib")
    os.makedirs(d, exist_ok=True)
    pd.DataFrame(
        {
            "doc_id": [1, 2],
            "source": ["a", "a"],
            "lang": ["en", "en"],
            "text": [
                "a perfectly ordinary sentence with small words",
                "xkcdqwrtzpsdfghjklm ##$$%%&&@@!! ~~~||",
            ],
        }
    ).to_parquet(f"{d}/documents.parquet")
    rows = QUERIES["text_gibberish_score"](spark, d).collect()
    total_flagged = sum(r["n_gibberish"] for r in rows)
    assert total_flagged == 1
    assert max(r["max_consonant_run"] for r in rows) >= 19


def test_funnel_windowed_excludes_late_conversions(spark, tmp_path):
    """User 1 converts inside 24 h (counted at every stage); user 2's
    purchase lands after the window (counted through click only);
    user 3 clicks before any view (never past stage 1)."""
    from jorvik_spark.queries import QUERIES

    base = datetime.datetime(2024, 5, 1, 9, 0, 0)
    H = datetime.timedelta(hours=1)
    rows = [
        (1, base, 1, "view", 1.0, None),
        (2, base + H, 1, "click", 1.0, None),
        (3, base + 2 * H, 1, "purchase", 5.0, None),
        (4, base, 2, "view", 1.0, None),
        (5, base + H, 2, "click", 1.0, None),
        (6, base + 30 * H, 2, "purchase", 5.0, None),  # past 24 h
        (7, base, 3, "click", 1.0, None),
        (8, base + H, 3, "view", 1.0, None),
    ]
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    d = str(tmp_path / "funnelw")
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(rows, schema).write.parquet(f"{d}/events.parquet")
    got = {
        r["stage"]: r["n_users"]
        for r in QUERIES["agg_funnel_windowed"](spark, d).collect()
    }
    assert got == {1: 3, 2: 2, 3: 1}


def test_kcore_census_is_monotone_and_typed(spark):
    from jorvik_spark.queries import QUERIES

    rows = QUERIES["graph_kcore_peel3"](spark, _SF).collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r["node_type"], {})[r["round"]] = r["n_nodes"]
    assert set(by_type) == {"customer", "supplier"}
    for counts in by_type.values():
        seq = [counts.get(i, 0) for i in range(4)]
        assert all(a >= b for a, b in zip(seq, seq[1:]))  # peeling shrinks


def test_lm_importance_rates_are_banded_and_deterministic(spark):
    from jorvik_spark.queries import QUERIES

    a = QUERIES["sample_lm_importance"](spark, _SF).collect()
    b = QUERIES["sample_lm_importance"](spark, _SF).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    assert len(a) > 0
    for r in a:
        assert 250 <= r["keep_rate_permille"] <= 1000


def test_suggest_watermark_parameterizes_live_dedup_sink(spark, tmp_path):
    """r13 verdict item #7: the measured-lateness watermark suggestion
    must actually DRIVE a live sink. An out-of-order replayed stream is
    deduped by dedup_within_watermark using suggest_watermark's output;
    the drained result must equal the batch distinct, and the suggested
    horizon must cover the stream's real max lateness (octave edge ≥
    observed, the never-under contract)."""
    import re

    from jorvik_spark.streaming.ops import (
        dedup_within_watermark,
        suggest_watermark,
    )

    base = datetime.datetime(2024, 5, 1, 9, 0, 0)
    S = datetime.timedelta(seconds=1)
    # arrival order = event_id; event 4 arrives 90 s late, event 7 40 s
    # late -> max lateness 90 s -> smallest covering octave edge 128 s
    rows = [
        (1, base + 0 * S, 1, "view", 1.0, None),
        (2, base + 10 * S, 1, "view", 1.0, None),
        (3, base + 100 * S, 1, "click", 1.0, None),
        (4, base + 10 * S, 1, "view", 1.0, None),  # 90 s late
        (5, base + 120 * S, 1, "purchase", 9.0, None),
        (6, base + 130 * S, 2, "view", 1.0, None),
        (7, base + 90 * S, 2, "view", 1.0, None),  # 40 s late
        (8, base + 140 * S, 2, "click", 1.0, None),
    ]
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    df = spark.createDataFrame(rows, schema)

    suggestion = suggest_watermark(df)
    secs = int(re.match(r"(\d+) seconds", suggestion).group(1))
    assert secs >= 90  # never under the observed tail
    assert secs == 127  # the 7-bit octave edge just above it

    # replay: every event twice across two files (at-least-once source)
    src, dst, cp = (str(tmp_path / d) for d in ("src", "dst", "cp"))
    df.coalesce(1).write.parquet(f"{src}/p=a")
    df.coalesce(1).write.parquet(f"{src}/p=b")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/p=*")
    )
    q = (
        dedup_within_watermark(stream, delay=suggestion)
        .writeStream.format("parquet")
        .option("path", dst)
        .option("checkpointLocation", cp)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(300)
    finally:
        q.stop()
    live = sorted(r["event_id"] for r in spark.read.parquet(dst).collect())
    assert live == [r[0] for r in rows]  # each replayed event exactly once


def test_hamming_topk_identical_and_flipped_vectors(spark, tmp_path):
    """An identical-sign copy of the query ranks first at distance 0;
    a fully sign-flipped copy ranks last at distance = n_dims; the
    zero vector participates (packs to word 0)."""
    from jorvik_spark.queries import QUERIES

    d = str(tmp_path / "ham")
    os.makedirs(d, exist_ok=True)
    base = [1.0, -1.0] * 16  # 32 dims
    flipped = [-x for x in base]
    half = base[:16] + flipped[16:]
    pd.DataFrame(
        {
            "vec_id": [0, 10, 11, 12],
            "embedding": [base, list(base), flipped, half],
            "label": [0, 0, 0, 0],
        }
    ).to_parquet(f"{d}/embeddings.parquet")
    rows = {
        r["candidate_id"]: r
        for r in QUERIES["simsearch_hamming_topk"](spark, d).collect()
        if r["query_id"] == 0
    }
    assert rows[10]["hamming"] == 0 and rows[10]["rnk"] == 1
    assert rows[12]["hamming"] == 16
    assert rows[11]["hamming"] == 32  # every sign differs


def test_conversion_hazard_at_risk_and_censoring(spark, tmp_path):
    """Hand funnel: user A converts at 10 s (octave 4), B converts at
    100 s (octave 7), C is last seen 50 s after the view without
    converting (censored, octave 6), D has no view (out of cohort).
    At-risk sets must shrink top-down and the final octave's hazard is
    exactly 1e6."""
    from jorvik_spark.queries import QUERIES

    base = datetime.datetime(2024, 5, 1, 9, 0, 0)
    S = datetime.timedelta(seconds=1)
    rows = [
        (1, base, 1, "view", 1.0, None),
        (2, base + 10 * S, 1, "purchase", 5.0, None),
        (3, base, 2, "view", 1.0, None),
        (4, base + 100 * S, 2, "purchase", 5.0, None),
        (5, base, 3, "view", 1.0, None),
        (6, base + 50 * S, 3, "click", 1.0, None),
        (7, base, 4, "click", 1.0, None),  # no view: out of cohort
    ]
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    d = str(tmp_path / "hazard")
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(rows, schema).write.parquet(f"{d}/events.parquet")
    got = {
        r["octave"]: r
        for r in QUERIES["agg_conversion_hazard"](spark, d).collect()
    }
    assert set(got) == {4, 6, 7}
    assert got[4]["n_at_risk"] == 3 and got[4]["n_converted"] == 1
    assert got[4]["hazard_ppm"] == 333_333
    assert got[6]["n_at_risk"] == 2 and got[6]["n_censored"] == 1
    assert got[6]["hazard_ppm"] == 0
    assert got[7]["n_at_risk"] == 1 and got[7]["hazard_ppm"] == 1_000_000


def test_reconciliation_bands_exact_drift_and_missing_lines(spark, tmp_path):
    """Exact recomputation lands in band 0; a known 1% drift lands in
    its ppm octave; an order with no line items lands in band −1 with
    NULL deviations."""
    from jorvik_spark.queries import QUERIES

    d = str(tmp_path / "recon")
    os.makedirs(d, exist_ok=True)
    # order 1: one line of 100.00 with 0 discount/tax -> exact match
    # order 2: stored total 1% above the recomputed 200.00
    # order 3: no lines at all
    pd.DataFrame(
        {
            "o_orderkey": [1, 2, 3],
            "o_custkey": [1, 1, 1],
            "o_totalprice": [100.0, 202.0, 50.0],
        }
    ).to_parquet(f"{d}/orders.parquet")
    pd.DataFrame(
        {
            "l_orderkey": [1, 2],
            "l_extendedprice": [100.0, 200.0],
            "l_discount": [0.0, 0.0],
            "l_tax": [0.0, 0.0],
        }
    ).to_parquet(f"{d}/lineitem.parquet")
    got = {
        r["band"]: r
        for r in QUERIES["audit_order_total_reconciliation"](spark, d).collect()
    }
    assert got[0]["n_orders"] == 1 and got[0]["min_dev_ppm"] == 0
    assert got[-1]["n_orders"] == 1 and got[-1]["min_dev_ppm"] is None
    # |20200 - 20000| * 1e6 // 20200 = 9900 ppm -> 14 bits
    assert got[14]["min_dev_ppm"] == 9900


def test_linear_attribution_splits_credit_exactly(spark, tmp_path):
    """A purchase with 2 views + 1 click in the hour splits its 9.0
    revenue as view 2/3, click 1/3 (exact micro-unit division); a
    touchless purchase credits 'none' in full; a touch outside the
    window does not count."""
    from jorvik_spark.queries import QUERIES

    base = datetime.datetime(2024, 5, 1, 9, 0, 0)
    M = datetime.timedelta(minutes=1)
    rows = [
        (1, base + 0 * M, 1, "view", 1.0, None),
        (2, base + 5 * M, 1, "view", 1.0, None),
        (3, base + 10 * M, 1, "click", 1.0, None),
        (4, base + 20 * M, 1, "purchase", 9.0, None),
        (5, base, 2, "purchase", 4.0, None),  # no touches at all
        (6, base, 3, "view", 1.0, None),
        (7, base + 120 * M, 3, "purchase", 7.0, None),  # view too old
    ]
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    d = str(tmp_path / "linattr")
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(rows, schema).write.parquet(f"{d}/events.parquet")
    got = {
        r["attributed_to"]: r
        for r in QUERIES["join_attribution_linear"](spark, d).collect()
    }
    assert set(got) == {"view", "click", "none"}
    assert got["view"]["credit_value"] == 6.0  # 9e6 * 2 div 3 = 6e6
    assert got["click"]["credit_value"] == 3.0
    assert got["none"]["credit_value"] == 11.0  # 4.0 + 7.0
    assert got["none"]["n_purchases"] == 2


def test_holt_tracks_a_linear_ramp(spark, tmp_path):
    """On a clean linear ramp the Holt forecast converges onto the next
    value (trend component absorbs the slope) while its trend state
    approaches the true step — the property that distinguishes it from
    the permanently-lagging EWMA."""
    from jorvik_spark.queries import QUERIES

    base = datetime.datetime(2024, 5, 1, 9, 0, 0)
    rows = [
        (i + 1, base + datetime.timedelta(minutes=i), 1, "purchase",
         100.0 + 10.0 * i, None)
        for i in range(16)
    ]
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    d = str(tmp_path / "holt")
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(rows, schema).write.parquet(f"{d}/events.parquet")
    out = {
        r["event_id"]: r
        for r in QUERIES["window_holt_smooth"](spark, d).collect()
    }
    last = out[16]
    assert last["n_in_frame"] == 16
    # true next value is 100 + 10*16 = 260 -> 260e6 micro; the ramp's
    # step is 10e6. Holt converges toward both; EWMA's level alone
    # would sit several steps behind.
    assert last["trend_u"] > 7_000_000
    assert abs(last["forecast_u"] - 260_000_000) < 10_000_000  # within 1 step
    ewma = {
        r["event_id"]: r
        for r in QUERIES["window_ewma_smooth"](spark, d).collect()
    }
    assert abs(last["forecast_u"] - 260_000_000) < abs(
        ewma[16]["ewma_u"] - 260_000_000
    )


@pytest.mark.usefixtures("few_shuffle_partitions")
def test_running_holt_matches_batch_across_restart(spark, tmp_path):
    """The live Holt smoother must equal its batch window form
    bit-for-bit, with the ≤16-value ring surviving a kill mid-stream:
    the post-cut folds are right only if the ring came back exactly
    from the checkpoint."""
    from jorvik_spark.streaming.ops import running_holt

    base = datetime.datetime(2024, 5, 1, 9, 0, 0)
    rows = [
        (i + 1, base + datetime.timedelta(minutes=i), 1 + (i % 2),
         "purchase", 100.0 + 7.0 * i + (13.0 if i % 3 == 0 else 0.0), None)
        for i in range(24)
    ]
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    df = spark.createDataFrame(rows, schema)
    src, dst, cp = (str(tmp_path / d) for d in ("src", "dst", "cp"))
    cut = base + datetime.timedelta(minutes=11, seconds=30)
    df.filter(F.col("ts") < cut).coalesce(1).write.parquet(f"{src}/p=a")

    def drain_once() -> None:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/p=*")
        )
        q = (
            running_holt(stream)
            .writeStream.format("parquet")
            .option("path", dst)
            .option("checkpointLocation", cp)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(300)
        finally:
            q.stop()

    drain_once()
    df.filter(F.col("ts") >= cut).coalesce(1).write.parquet(f"{src}/p=b")
    drain_once()

    live = sorted(tuple(r) for r in spark.read.parquet(dst).collect())
    batch = sorted(tuple(r) for r in running_holt(df).collect())
    assert live == batch
    assert len(live) == 24
