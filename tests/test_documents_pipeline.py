"""End-to-end run of the LLM-curation example pipeline
(examples/documents_pipeline) on sf0.001: schema smoke tests per stage,
then a full bronze → silver → gold run checked against an independent
DuckDB computation of the curation semantics."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from examples import documents_pipeline as pipe
from jorvik_spark.pipelines.testing import smoke_test_etl
from jorvik_spark.tables import default_sf_dir

SF_DIR = default_sf_dir()


@pytest.fixture(scope="module")
def lake(spark, tmp_path_factory):
    lake = str(tmp_path_factory.mktemp("doclake"))
    pipe.run_pipeline(SF_DIR, lake)
    return lake


def test_smoke_all_stages(spark, tmp_path):
    lake = str(tmp_path)
    smoke_test_etl(pipe.make_bronze_documents(SF_DIR, lake))
    smoke_test_etl(pipe.make_silver_curated(lake))
    smoke_test_etl(pipe.make_gold_corpus_stats(lake))


def test_silver_curated_semantics(spark, lake):
    """Dedup kept exactly one row per distinct text, the quality gate
    held, and lang partitioning survived the round-trip."""
    silver = spark.read.parquet(f"{lake}/silver/curated")
    rows = silver.collect()
    texts = [r.text for r in rows]
    assert len(texts) == len(set(texts)), "exact dedup left duplicate text"
    assert all(r.n_tokens >= pipe.MIN_TOKENS for r in rows)
    assert all(
        r.stopword_ratio >= pipe.MIN_STOPWORD_RATIO
        for r in rows
        if r.lang == "en"
    )
    # partitioned by lang: the column is present and non-null after read-back
    assert silver.filter(F.col("lang").isNull()).count() == 0


def test_gold_matches_duckdb_rollup(spark, lake):
    """Gold per-language stats equal an independent DuckDB rollup of the
    silver table (sums of bigints + avg — engine-agnostic)."""
    gold = {
        r.lang: (r.n_docs, r.total_tokens, r.total_bpe_tokens)
        for r in spark.read.parquet(f"{lake}/gold/corpus_stats").collect()
    }
    con = duckdb.connect()
    want = {
        lang: (n, t, b)
        for lang, n, t, b in con.execute(
            "SELECT lang, COUNT(*), SUM(n_tokens), SUM(n_bpe_tokens) "
            f"FROM read_parquet('{lake}/silver/curated/*/*.parquet', "
            "hive_partitioning=true) GROUP BY lang"
        ).fetchall()
    }
    assert gold == want


# --- round 15: the full funnel hops (near-dedup → decontaminate →
# temperature-sample → pack → shards → funnel report) -------------------------


@pytest.fixture(scope="module")
def full_lake(spark, tmp_path_factory):
    lake = str(tmp_path_factory.mktemp("doclake_full"))
    pipe.run_full_funnel(SF_DIR, lake)
    return lake


def test_funnel_is_additive_and_matches_tables(spark, full_lake):
    """The gold funnel must satisfy the corpus_curation_funnel
    contract: stages cumulative, drops additive (n_raw − Σ drops =
    final survivors), and every n_surviving equal to the actual row
    count of its stage table."""
    funnel = {
        r.stage: r
        for r in spark.read.parquet(f"{full_lake}/gold/funnel").collect()
    }
    tables = [
        "bronze/documents",
        "silver/curated",
        "silver/near_dedup",
        "silver/decontaminated",
        "silver/sampled",
    ]
    counts = [
        spark.read.parquet(f"{full_lake}/{t}").count() for t in tables
    ]
    assert [funnel[i].n_surviving for i in range(5)] == counts
    assert funnel[0].n_dropped_here == 0
    for i in range(1, 5):
        assert funnel[i].n_dropped_here == counts[i - 1] - counts[i]
    # the additive invariant itself
    total_dropped = sum(funnel[i].n_dropped_here for i in range(5))
    assert counts[0] - total_dropped == counts[-1]
    # every hop is a FILTER of the previous (monotone non-increasing,
    # and genuinely value-carrying at sf0.001: each gate drops or the
    # stage is the near-dedup pass on an already-exact-deduped corpus)
    assert all(counts[i] >= counts[i + 1] for i in range(4))
    assert counts[-1] > 0


def test_registered_funnel_query_shares_the_invariant(spark, full_lake):
    """The registered corpus_curation_funnel obeys the same additive
    contract on the raw lake, and its raw row equals the bronze count
    (the example ingests the full dump)."""
    from jorvik_spark.queries import QUERIES

    rows = {
        r.stage: r
        for r in QUERIES["corpus_curation_funnel"](spark, SF_DIR).collect()
    }
    raw = rows[0].n_surviving
    dropped = sum(rows[i].n_dropped_here for i in rows)
    assert raw - dropped == rows[max(rows)].n_surviving
    bronze = spark.read.parquet(f"{full_lake}/bronze/documents").count()
    assert raw == bronze


def test_packed_offsets_and_shards(spark, full_lake):
    """Packing must be gap-free per language (offsets advance by
    n_tokens modulo the budget; pack_id monotone in doc_id) and the
    shard manifest must account for every pack and every doc."""
    packed = spark.read.parquet(f"{full_lake}/gold/packed")
    rows = sorted(
        packed.collect(), key=lambda r: (r.lang, r.doc_id)
    )
    by_lang: dict = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r)
    for lang, rs in by_lang.items():
        start = 0
        for r in rs:
            assert r.pack_id == start // pipe._PACK_BUDGET, (lang, r)
            assert r.offset_in_pack == start % pipe._PACK_BUDGET, (lang, r)
            start += r.n_tokens
    shards = spark.read.parquet(f"{full_lake}/gold/shards").collect()
    assert sum(s.n_docs for s in shards) == len(rows)
    assert sum(s.n_packs for s in shards) == packed.select(
        "lang", "pack_id"
    ).distinct().count()


def test_decontaminated_is_train_only_and_clean(spark, full_lake):
    """No held-out-split doc survives, and no surviving train doc
    shares a 3-shingle with the held-out split (re-derived
    independently here)."""
    from jorvik_spark.queries.dedup import _SHINGLES_T
    from jorvik_spark.queries.registry import hash_bucket

    dec = spark.read.parquet(f"{full_lake}/silver/decontaminated")
    assert (
        dec.filter(hash_bucket("doc_id", "split:") >= pipe._VAL_LO).count()
        == 0
    )
    near = spark.read.parquet(f"{full_lake}/silver/near_dedup")
    sh = (
        near.withColumn("t", F.expr(pipe._TOKENS))
        .filter(F.size("t") >= 3)
        .select(
            "doc_id",
            hash_bucket("doc_id", "split:").alias("b"),
            F.explode(F.expr(_SHINGLES_T)).alias("shingle"),
        )
    )
    held = sh.filter(F.col("b") >= pipe._VAL_LO).select("shingle").distinct()
    leaked = (
        sh.filter(F.col("b") < pipe._VAL_LO)
        .join(held, "shingle")
        .join(dec.select("doc_id"), "doc_id")
        .count()
    )
    assert leaked == 0
