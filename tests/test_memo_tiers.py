"""Size-gated memo tier for corpus-proportional leaves (r18, the r17
verdict's perf_weak item): under the source-bytes budget the leaf keeps
the localCheckpoint plan-truncation; past it, the spill-capable persist
tier (MEMORY_AND_DISK_DESER) — and the two tiers are result-identical,
including the exchange-free self-join property downstream."""

import pytest

import jorvik_spark.queries.registry as R
from jorvik_spark.queries.registry import (
    clear_memos,
    corpus_memo_cut_lineage,
)
from jorvik_spark.tables import default_sf_dir, table_source_bytes

SF_DIR = default_sf_dir("sf0.001")


@pytest.fixture(autouse=True)
def _fresh_memos():
    clear_memos()
    yield
    clear_memos()


def _leaf(spark):
    from jorvik_spark.queries.dedup import _capped_shingle_index

    return _capped_shingle_index(spark, SF_DIR)


def test_gate_reads_source_bytes(spark):
    nbytes = table_source_bytes(spark, SF_DIR, "documents")
    assert nbytes > 0
    # under the default 4 GiB budget the test lake always checkpoints
    assert corpus_memo_cut_lineage(spark, SF_DIR, "documents") is True


def test_budget_flips_the_gate(spark, monkeypatch):
    monkeypatch.setattr(R, "_CKPT_MAX_SRC_BYTES", 0)
    assert corpus_memo_cut_lineage(spark, SF_DIR, "documents") is False
    monkeypatch.setattr(R, "_CKPT_MAX_SRC_BYTES", 1 << 60)
    assert corpus_memo_cut_lineage(spark, SF_DIR, "documents") is True


def test_persist_tier_spills_and_matches_checkpoint_tier(spark, monkeypatch):
    # default tier: checkpoint (lineage cut, no CacheManager entry)
    small = _leaf(spark)
    assert not small.storageLevel.useMemory  # checkpoint ≠ persist cache
    rows_ckpt = sorted(map(tuple, small.collect()))

    # forced big-corpus tier: persisted with a DISK component (spillable)
    clear_memos()
    monkeypatch.setattr(R, "_CKPT_MAX_SRC_BYTES", 0)
    big = _leaf(spark)
    lvl = big.storageLevel
    assert lvl.useMemory and lvl.useDisk and lvl.deserialized
    rows_persist = sorted(map(tuple, big.collect()))
    assert rows_persist == rows_ckpt


def test_persist_tier_keeps_pair_join_results(spark, monkeypatch):
    """The downstream pair queries are tier-invariant (the persisted
    leaf still retains the explicit shingle partitioning through
    InMemoryRelation)."""
    from jorvik_spark.queries import QUERIES

    base = sorted(
        map(tuple, QUERIES["dedup_containment_ngram"](spark, SF_DIR).collect())
    )
    clear_memos()
    monkeypatch.setattr(R, "_CKPT_MAX_SRC_BYTES", 0)
    forced = sorted(
        map(tuple, QUERIES["dedup_containment_ngram"](spark, SF_DIR).collect())
    )
    assert forced == base
