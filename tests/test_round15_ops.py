"""Round-15 operator tests.

Behavior pins for the operators added this round: the JL sketch and its
distortion eval, the seeded BFS reach census, the Kendall-tau trend
census, the epoch-shuffle training-order plan, the hapax census, the
cohort-LTV curve, and the keyspace gap census.
"""

from __future__ import annotations

import datetime
import hashlib
import os

import pandas as pd
import pytest

from jorvik_spark.queries import QUERIES


def _md5_parity_sign(salt: str) -> int:
    return 1 if int(hashlib.md5(salt.encode()).hexdigest()[:8], 16) % 2 == 0 else -1


def _write_events(spark, d, rows):
    schema = (
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    )
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(rows, schema).write.parquet(f"{d}/events.parquet")


def test_rp16_sketch_single_component_vector(spark, tmp_path):
    """A vector with ONE nonzero component x at position p must project
    to exactly sign(d, p) * floor(x*1e6 + 0.5) in every sketch dim —
    pins the quantization, the salt text, and the parity convention
    against an independent Python md5."""
    d = str(tmp_path / "rp")
    os.makedirs(d, exist_ok=True)
    pd.DataFrame(
        {
            "vec_id": [1, 2],
            "embedding": [
                [0.0, 0.0, 0.0, 2.5],  # one component at pos 3
                [0.0, 0.0, 0.0, 0.0],  # zero vector -> all-zero sketch
            ],
            "label": [0, 0],
        }
    ).to_parquet(f"{d}/embeddings.parquet")
    got = {
        (r["vec_id"], r["proj_dim"]): r["proj_units"]
        for r in QUERIES["embed_rp16_sketch"](spark, d).collect()
    }
    assert len(got) == 2 * 16
    for dd in range(16):
        expected = _md5_parity_sign(f"rp16:{dd}:3") * 2500000
        assert got[(1, dd)] == expected, (dd, got[(1, dd)], expected)
        assert got[(2, dd)] == 0


def test_jl_distortion_is_exact_for_axis_pair(spark, tmp_path):
    """Consecutive vectors differing in exactly one component: every
    sketch dim picks up ±diff, so the estimator ||ŷa−ŷb||²/16 equals
    the true distance EXACTLY — distortion_ppm = 1e6, band 4. A
    zero-distance pair must be excluded, not divide by zero."""
    d = str(tmp_path / "jl")
    os.makedirs(d, exist_ok=True)
    pd.DataFrame(
        {
            "vec_id": [1, 2, 3, 4],
            "embedding": [
                [1.0, 2.0],
                [1.0, 5.0],  # pair (1,2): diff only at pos 1
                [7.0, 7.0],
                [7.0, 7.0],  # pair (3,4): zero distance -> excluded
            ],
            "label": [0, 0, 0, 0],
        }
    ).to_parquet(f"{d}/embeddings.parquet")
    rows = QUERIES["embed_jl_distortion_census"](spark, d).collect()
    # pairs sampled: (1,2), (2,3), (3,4); (3,4) excluded -> bands cover
    # (1,2) at exactly 1e6 and (2,3) wherever its corpus geometry lands
    total = sum(r["n_pairs"] for r in rows)
    assert total == 2
    band4 = {r["distortion_band"]: r for r in rows}.get(4)
    assert band4 is not None
    assert band4["min_ppm"] <= 1000000 <= band4["max_ppm"]


def test_bfs_reach_census_depths(spark, tmp_path):
    """Chain c0—s10—c1—s20—c5—s30 with c0 the only seed: depths are
    0,1,2,3 along the chain and the remainder (c5, s30) reports -1."""
    d = str(tmp_path / "bfs")
    os.makedirs(d, exist_ok=True)
    pd.DataFrame(
        {"o_orderkey": [1, 2, 3, 4, 5], "o_custkey": [0, 1, 1, 5, 5]}
    ).to_parquet(f"{d}/orders.parquet")
    pd.DataFrame(
        {"l_orderkey": [1, 2, 3, 4, 5], "l_suppkey": [10, 10, 20, 20, 30]}
    ).to_parquet(f"{d}/lineitem.parquet")
    got = {
        (r["depth"], r["node_type"]): r
        for r in QUERIES["graph_bfs_reach3"](spark, d).collect()
    }
    # node ids: customer c -> 2c, supplier s -> 2s+1
    assert got[(0, "customer")]["n_nodes"] == 1  # c0 (custkey 0 % 97 == 0)
    assert got[(0, "customer")]["min_node"] == 0
    assert got[(1, "supplier")]["n_nodes"] == 1  # s10
    assert got[(1, "supplier")]["min_node"] == 21
    assert got[(2, "customer")]["n_nodes"] == 1  # c1
    assert got[(2, "customer")]["min_node"] == 2
    assert got[(3, "supplier")]["n_nodes"] == 1  # s20
    assert got[(3, "supplier")]["min_node"] == 41
    assert got[(-1, "customer")]["n_nodes"] == 1  # c5, 4 hops away
    assert got[(-1, "supplier")]["n_nodes"] == 1  # s30, 5 hops away


def test_kendall_tau_trend_signs_and_truncation(spark, tmp_path):
    """Monotone-up user pins +1e6, monotone-down −1e6, all-ties 0; a
    single-purchase user is excluded; and a (C−D) = −1 over 3 pairs
    pins the toward-zero truncation (−333333, not −333334)."""
    base = datetime.datetime(2024, 5, 1, 9, 0, 0)
    rows, eid = [], 0
    for i, v in enumerate([1.0, 2.0, 3.0, 4.0]):  # user 1: up
        eid += 1
        rows.append((eid, base + datetime.timedelta(minutes=i), 1, "purchase", v, None))
    for i, v in enumerate([4.0, 3.0, 2.0]):  # user 2: down
        eid += 1
        rows.append((eid, base + datetime.timedelta(minutes=i), 2, "purchase", v, None))
    for i in range(3):  # user 3: constant (ties)
        eid += 1
        rows.append((eid, base + datetime.timedelta(minutes=i), 3, "purchase", 5.0, None))
    eid += 1
    rows.append((eid, base, 4, "purchase", 9.0, None))  # user 4: n=1
    for i, v in enumerate([5.0, 1.0, 2.0]):  # user 5: C=1, D=2
        eid += 1
        rows.append((eid, base + datetime.timedelta(minutes=i), 5, "purchase", v, None))
    d = str(tmp_path / "tau")
    _write_events(spark, d, rows)
    got = {
        r["user_id"]: r
        for r in QUERIES["window_kendall_tau_trend"](spark, d).collect()
    }
    assert set(got) == {1, 2, 3, 5}
    assert got[1]["tau_ppm"] == 1000000 and got[1]["n_pairs"] == 6
    assert got[2]["tau_ppm"] == -1000000
    assert got[3]["tau_ppm"] == 0 and got[3]["concordant"] == 0
    assert (got[5]["concordant"], got[5]["discordant"]) == (1, 2)
    assert got[5]["tau_ppm"] == -333333  # toward-zero, both engines


def test_epoch_shuffle_matches_python_mirror(spark, tmp_path):
    """The whole plan (shard assignment, within-shard order, position)
    re-derives from the salts alone — pinned against an independent
    Python md5 mirror, which also proves restart/resume determinism."""
    d = str(tmp_path / "eshuf")
    os.makedirs(d, exist_ok=True)
    doc_ids = [11, 23, 35, 47, 59, 61, 73, 85]
    pd.DataFrame(
        {
            "doc_id": doc_ids,
            "text": ["x"] * 8,
            "lang": ["en"] * 8,
            "source": ["s"] * 8,
            "n_chars": [1] * 8,
        }
    ).to_parquet(f"{d}/documents.parquet")
    expected = []
    for e in range(3):
        by_shard: dict = {}
        for doc in doc_ids:
            shard = (
                int(hashlib.md5(f"eshard:{e}:{doc}".encode()).hexdigest()[:8], 16)
                % 8
            )
            key = hashlib.md5(f"eshuf:{e}:{doc}".encode()).hexdigest()
            by_shard.setdefault(shard, []).append((key, doc))
        for shard in sorted(by_shard):
            for pos, (_, doc) in enumerate(sorted(by_shard[shard]), start=1):
                expected.append((e, shard, pos, doc))
    got = [
        (r["epoch"], r["shard"], r["position"], r["doc_id"])
        for r in QUERIES["sample_epoch_shuffle"](spark, d).collect()
    ]
    assert got == expected
    # epochs must genuinely reshuffle: the doc order of epoch 0 and 1
    # (concatenated across shards) differs
    e0 = [t[3] for t in expected if t[0] == 0]
    e1 = [t[3] for t in expected if t[0] == 1]
    assert e0 != e1


def test_hapax_census_counts(spark, tmp_path):
    d = str(tmp_path / "hapax")
    os.makedirs(d, exist_ok=True)
    pd.DataFrame(
        {
            "doc_id": [1, 2],
            "text": ["alpha alpha beta", "gamma gamma delta delta epsilon"],
            "lang": ["en", "en"],
            "source": ["a", "b"],
            "n_chars": [16, 31],
        }
    ).to_parquet(f"{d}/documents.parquet")
    got = {
        r["source"]: r for r in QUERIES["text_hapax_legomena"](spark, d).collect()
    }
    a, b = got["a"], got["b"]
    assert (a["n_tokens"], a["n_types"], a["n_hapax"], a["n_dis"]) == (3, 2, 1, 1)
    assert a["hapax_ppm"] == 500000
    assert (b["n_tokens"], b["n_types"], b["n_hapax"], b["n_dis"]) == (5, 3, 1, 2)
    assert b["hapax_ppm"] == 333333


def test_cohort_ltv_cells_and_cumulative(spark, tmp_path):
    """User 1 signs up (first event) Monday week 0, buys 10 in week 0
    and 5 in week 2: cells (age 0, 10.0, cum 10.0) and (age 2, 5.0,
    cum 15.0). A click-only user contributes no cells."""
    w0 = datetime.datetime(2024, 5, 6, 12, 0, 0)  # Monday
    rows = [
        (1, w0, 1, "signup", None, None),
        (2, w0 + datetime.timedelta(hours=1), 1, "purchase", 10.0, None),
        (3, w0 + datetime.timedelta(days=14), 1, "purchase", 5.0, None),
        (4, w0, 2, "click", 1.0, None),
    ]
    d = str(tmp_path / "ltv")
    _write_events(spark, d, rows)
    got = QUERIES["agg_cohort_ltv"](spark, d).collect()
    assert len(got) == 2
    assert [r["age_week"] for r in got] == [0, 2]
    assert [r["revenue"] for r in got] == [10.0, 5.0]
    assert [r["cum_revenue"] for r in got] == [10.0, 15.0]
    assert all(r["n_buyers"] == 1 for r in got)
    # cohort_week is the Monday of the signup week
    assert all(r["cohort_week"] == datetime.datetime(2024, 5, 6) for r in got)


def test_orderkey_gap_census_within_and_across_buckets(spark, tmp_path):
    """A hole inside a bucket and a hole straddling a bucket boundary
    both report at their stride; contiguous pairs report at stride 1
    (the always-value-carrying baseline) — pins the two-level
    decomposition against the single-sort spec."""
    d = str(tmp_path / "gaps")
    os.makedirs(d, exist_ok=True)
    keys = [1, 2, 3, 10, 8192, 8193]  # 3→10 within bucket 0; 10→8192 boundary
    pd.DataFrame({"o_orderkey": keys}).to_parquet(f"{d}/orders.parquet")
    got = {
        r["stride"]: r["n_pairs"]
        for r in QUERIES["audit_orderkey_gap_census"](spark, d).collect()
    }
    assert got == {1: 3, 7: 1, 8182: 1}  # (1,2),(2,3),(8192,8193) at stride 1


# --- wave 2 -------------------------------------------------------------------


def test_rfm_census_bands(spark, tmp_path):
    """User A: last purchase 8h before the corpus anchor, 2 purchases,
    4 currency units → bands (4, 2, 3); user B holds the anchor with 1
    purchase of 2.5 → bands (0, 1, 2)."""
    base = datetime.datetime(2024, 5, 1, 0, 0, 0)
    rows = [
        (1, base, 1, "purchase", 3.0, None),
        (2, base + datetime.timedelta(hours=2), 1, "purchase", 1.0, None),
        (3, base + datetime.timedelta(hours=10), 2, "purchase", 2.5, None),
    ]
    d = str(tmp_path / "rfm")
    _write_events(spark, d, rows)
    got = {
        (r["r_band"], r["f_band"], r["m_band"]): r["n_users"]
        for r in QUERIES["agg_rfm_octave_census"](spark, d).collect()
    }
    assert got == {(4, 2, 3): 1, (0, 1, 2): 1}


def test_churn_census_bands_and_null_scope(spark, tmp_path):
    """User 1's open silence is 8x their worst historical gap → band 8
    (capped); user 2 holds the anchor with gaps → band 0; user 3 is
    single-event (no history) → NULL band, reported not dropped."""
    base = datetime.datetime(2024, 5, 1, 0, 0, 0)
    rows = [
        (1, base, 1, "view", 1.0, None),
        (2, base + datetime.timedelta(seconds=60), 1, "view", 1.0, None),
        (3, base + datetime.timedelta(seconds=120), 1, "view", 1.0, None),
        (4, base, 2, "view", 1.0, None),
        (5, base + datetime.timedelta(seconds=600), 2, "view", 1.0, None),
        (6, base + datetime.timedelta(seconds=300), 3, "view", 1.0, None),
    ]
    d = str(tmp_path / "churn")
    _write_events(spark, d, rows)
    got = {
        r["churn_band"]: r
        for r in QUERIES["audit_user_churn_census"](spark, d).collect()
    }
    # user 1: open gap 480 s vs worst hist gap 60 s → 8e6 ppm → band 8
    assert got[8]["n_users"] == 1 and got[8]["min_ppm"] == 8000000
    # user 2: open gap 0 → ratio 0 → band 0
    assert got[0]["n_users"] == 1 and got[0]["max_ppm"] == 0
    # user 3: single event → NULL band
    assert got[None]["n_users"] == 1


def test_minhash_decontamination_flags_exact_dup_across_split(spark, tmp_path):
    """A test-split doc that is an exact copy of a train-split doc must
    collide on every band; an unrelated test doc reports 0 and
    contaminated = false."""
    def bucket(doc_id):
        return int(hashlib.md5(f"split:{doc_id}".encode()).hexdigest()[:8], 16) % 1000

    train_id = next(i for i in range(1, 500) if bucket(i) < 800)
    test_dup = next(i for i in range(1, 500) if bucket(i) >= 900)
    test_clean = next(
        i for i in range(test_dup + 1, 2000) if bucket(i) >= 900
    )
    shared = "the quick brown fox jumps over the lazy dog again and again"
    d = str(tmp_path / "mhdecon")
    os.makedirs(d, exist_ok=True)
    pd.DataFrame(
        {
            "doc_id": [train_id, test_dup, test_clean],
            "text": [shared, shared, "completely different words everywhere zebra"],
            "lang": ["en"] * 3,
            "source": ["s"] * 3,
            "n_chars": [len(shared), len(shared), 44],
        }
    ).to_parquet(f"{d}/documents.parquet")
    got = {
        r["doc_id"]: r
        for r in QUERIES["decontaminate_minhash"](spark, d).collect()
    }
    assert set(got) == {test_dup, test_clean}
    assert got[test_dup]["contaminated"] and got[test_dup]["n_colliding_bands"] == 4
    assert not got[test_clean]["contaminated"]
    assert got[test_clean]["n_colliding_bands"] == 0


def test_kendall_recency_cap_binds_at_512(spark, tmp_path):
    """With > 512 purchases, only the MOST RECENT 512 evaluate: 8 huge
    early values followed by 512 strictly increasing ones yield a
    perfect +1e6 tau over exactly 512·511/2 pairs — any leak of the
    early rows would create discordant pairs."""
    base = datetime.datetime(2024, 5, 1, 0, 0, 0)
    rows = []
    for i in range(8):
        rows.append(
            (i + 1, base + datetime.timedelta(minutes=i), 1, "purchase",
             1e6, None)
        )
    for i in range(512):
        rows.append(
            (100 + i, base + datetime.timedelta(minutes=8 + i), 1,
             "purchase", float(i), None)
        )
    d = str(tmp_path / "taucap")
    _write_events(spark, d, rows)
    got = QUERIES["window_kendall_tau_trend"](spark, d).collect()
    assert len(got) == 1
    r = got[0]
    assert r["n_purchases"] == 512
    assert r["n_pairs"] == 512 * 511 // 2
    assert r["tau_ppm"] == 1000000


@pytest.mark.usefixtures("few_shuffle_partitions")
def test_running_churn_matches_batch_across_restart(spark, tmp_path):
    """The live churn tracker must equal its batch window form
    bit-for-bit, with the 2-long state surviving a kill mid-stream —
    the post-cut gaps are right only if (last_t, max_gap) came back
    exactly from the checkpoint."""
    from pyspark.sql import functions as F

    from jorvik_spark.streaming.ops import running_churn

    base = datetime.datetime(2024, 5, 1, 9, 0, 0)
    # user 1: irregular gaps incl. a tie; user 2: single pre-cut event
    rows = [
        (1, base, 1, "view", 1.0, None),
        (2, base + datetime.timedelta(seconds=60), 1, "click", 1.0, None),
        (3, base + datetime.timedelta(seconds=60), 1, "view", 1.0, None),
        (4, base + datetime.timedelta(seconds=400), 1, "view", 1.0, None),
        (5, base + datetime.timedelta(seconds=410), 1, "view", 1.0, None),
        (6, base + datetime.timedelta(seconds=1000), 1, "view", 1.0, None),
        (7, base + datetime.timedelta(seconds=5), 2, "view", 1.0, None),
        (8, base + datetime.timedelta(seconds=900), 2, "view", 1.0, None),
    ]
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    df = spark.createDataFrame(rows, schema)
    src, dst, cp = (str(tmp_path / d) for d in ("src", "dst", "cp"))
    cut = base + datetime.timedelta(seconds=405)
    df.filter(F.col("ts") < cut).coalesce(1).write.parquet(f"{src}/p=a")

    def drain_once() -> None:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/p=*")
        )
        q = (
            running_churn(stream)
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
    batch = sorted(tuple(r) for r in running_churn(df).collect())
    assert live == batch
    assert len(live) == 8


def test_running_churn_final_rows_rederive_the_census(spark, tmp_path):
    """Reconciliation: each user's LATEST running_churn row plus the
    corpus anchor re-derives exactly the registered
    audit_user_churn_census bands."""
    from pyspark.sql import functions as F

    base = datetime.datetime(2024, 5, 1, 0, 0, 0)
    rows = [
        (1, base, 1, "view", 1.0, None),
        (2, base + datetime.timedelta(seconds=60), 1, "view", 1.0, None),
        (3, base + datetime.timedelta(seconds=120), 1, "view", 1.0, None),
        (4, base, 2, "view", 1.0, None),
        (5, base + datetime.timedelta(seconds=600), 2, "view", 1.0, None),
        (6, base + datetime.timedelta(seconds=300), 3, "view", 1.0, None),
    ]
    d = str(tmp_path / "churnrec")
    _write_events(spark, d, rows)
    from jorvik_spark.streaming.ops import running_churn

    ev = __import__("jorvik_spark.tables", fromlist=["load_table"]).load_table(
        spark, d, "events"
    )
    twin = running_churn(ev).collect()
    t_now = max(r["t"] for r in twin)
    latest: dict = {}
    for r in twin:
        k = r["user_id"]
        if k not in latest or (r["t"], r["event_id"]) > (
            latest[k]["t"],
            latest[k]["event_id"],
        ):
            latest[k] = r
    want: dict = {}
    for k, r in latest.items():
        mg = r["max_hist_gap_us"]
        if mg is None or mg <= 0:
            band = None
        else:
            band = min((t_now - r["t"]) * 1000000 // mg // 500000, 8)
        want[band] = want.get(band, 0) + 1
    got = {
        r["churn_band"]: r["n_users"]
        for r in QUERIES["audit_user_churn_census"](spark, d).collect()
    }
    assert got == want


@pytest.mark.usefixtures("few_shuffle_partitions")
def test_running_churn_restored_single_event_sentinel_decodes(spark, tmp_path):
    """A single-event key stores the (last_t, -1) no-history sentinel;
    on restore it must decode back to None. The masked failure mode
    (round-15 ADVICE): after a kill-and-resume, an out-of-order
    NEGATIVE-gap event is not > -1, so an undecoded sentinel leaks -1
    into max_hist_gap_us and diverges from the uninterrupted stream."""
    from jorvik_spark.streaming.ops import running_churn

    base = datetime.datetime(2024, 5, 1, 9, 0, 0)
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    first = [(1, base + datetime.timedelta(seconds=100), 3, "view", 1.0, None)]
    # arrives later but carries an EARLIER timestamp: gap = -50 s
    second = [(2, base + datetime.timedelta(seconds=50), 3, "view", 1.0, None)]

    def drain(src: str, dst: str, cp: str) -> None:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/p=*")
        )
        q = (
            running_churn(stream)
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

    # restarted run: kill between the two files
    src1, dst1, cp1 = (str(tmp_path / d) for d in ("s1", "d1", "c1"))
    spark.createDataFrame(first, schema).coalesce(1).write.parquet(f"{src1}/p=a")
    drain(src1, dst1, cp1)
    spark.createDataFrame(second, schema).coalesce(1).write.parquet(f"{src1}/p=b")
    drain(src1, dst1, cp1)

    # uninterrupted run: same files, same arrival order, one query
    src2, dst2, cp2 = (str(tmp_path / d) for d in ("s2", "d2", "c2"))
    spark.createDataFrame(first, schema).coalesce(1).write.parquet(f"{src2}/p=a")
    spark.createDataFrame(second, schema).coalesce(1).write.parquet(f"{src2}/p=b")
    drain(src2, dst2, cp2)

    restarted = sorted(tuple(r) for r in spark.read.parquet(dst1).collect())
    uninterrupted = sorted(tuple(r) for r in spark.read.parquet(dst2).collect())
    assert restarted == uninterrupted
    by_eid = {r[1]: r for r in restarted}
    assert by_eid[2][3] == -50_000_000  # gap_us
    assert by_eid[2][4] == -50_000_000  # max_hist_gap_us: decoded, not -1


def test_churn_census_survives_year_long_open_silence(spark, tmp_path):
    """ratio_ppm widens through DECIMAL(38,0)/HUGEINT before the 1e6
    scale-up (round-15 ADVICE): a 400-day open silence overflows bare
    int64 µs·1e6 (> 9.2e18) — pre-fix an ANSI runtime error on Spark
    and a BIGINT overflow in DuckDB."""
    base = datetime.datetime(2020, 1, 1)
    rows = [
        (1, base, 1, "view", 1.0, None),
        (2, base + datetime.timedelta(hours=1), 1, "view", 1.0, None),
        (3, base + datetime.timedelta(days=400), 2, "view", 1.0, None),
        (4, base + datetime.timedelta(days=400, seconds=30), 2, "view",
         1.0, None),
    ]
    d = str(tmp_path / "churnwide")
    _write_events(spark, d, rows)
    got = {
        r["churn_band"]: (r["n_users"], r["max_ppm"])
        for r in QUERIES["audit_user_churn_census"](spark, d).collect()
    }
    # user 1: open = 400d + 30s (corpus anchor) - 1h, worst gap = 1h
    # -> deep in the cap band
    open_us = (400 * 86400 + 30 - 3600) * 1_000_000
    gap_us = 3600 * 1_000_000
    assert got[8] == (1, open_us * 1_000_000 // gap_us)
    assert got[0][0] == 1  # user 2 anchors the corpus, open gap 0


def test_bfs_broadcast_guard_falls_back_identically(spark, tmp_path):
    """The frontier broadcast is guarded by a row bound derived from
    autoBroadcastJoinThreshold (round-15 ADVICE: a dense-graph hop-2/3
    frontier can approach the full node population — broadcasting it is
    an OOM, not an optimization). With the threshold disabled the
    shuffle-join fallback must produce bit-identical censuses."""
    from jorvik_spark.queries.registry import clear_memos

    d = str(tmp_path / "bfsguard")
    os.makedirs(d, exist_ok=True)
    pd.DataFrame(
        {"o_orderkey": [1, 2, 3, 4, 5], "o_custkey": [0, 1, 1, 5, 5]}
    ).to_parquet(f"{d}/orders.parquet")
    pd.DataFrame(
        {"l_orderkey": [1, 2, 3, 4, 5], "l_suppkey": [10, 10, 20, 20, 30]}
    ).to_parquet(f"{d}/lineitem.parquet")
    hinted = sorted(
        tuple(r) for r in QUERIES["graph_bfs_reach3"](spark, d).collect()
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    clear_memos()
    try:
        fallback = sorted(
            tuple(r) for r in QUERIES["graph_bfs_reach3"](spark, d).collect()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        clear_memos()
    assert fallback == hinted
