"""bench.py's cold regime must cover EVERY memo_df key family: a one-time
session build (shingle index, adjacency bitmaps, ANN ground truth, …)
whose cost regresses 10× would otherwise be invisible to every warm gate.
The cold labels are the PINS.json labels with a ``cold`` pin.

Two layers: a STATIC check that every memo key prefix found in the
source has a cold-list shape claiming it, and a DYNAMIC check that
running the cold-list queries from a cleared memo state actually
CREATES every one of those key families (so the static mapping cannot
rot into a comment)."""

from __future__ import annotations

import re
from pathlib import Path

import pytest

import bench
from jorvik_spark.queries import registry
from jorvik_spark.tables import default_sf_dir

QUERIES_DIR = Path(__file__).resolve().parent.parent / "jorvik_spark" / "queries"
SF_DIR = default_sf_dir("sf0.001")

# f"<name>:{sf_dir}" is the memo key convention (registry.memo_df
# docstring); dynamic families embed a format field (kcore_keep{r}) —
# normalized to their literal prefix.
_KEY_RE = re.compile(r'f"([a-zA-Z0-9_{}]+):\{sf_dir\}"')


def source_key_prefixes() -> set[str]:
    prefixes = set()
    for py in QUERIES_DIR.glob("*.py"):
        for m in _KEY_RE.finditer(py.read_text()):
            prefixes.add(re.sub(r"\{[^}]*\}", "", m.group(1)))
    return prefixes


def test_source_scan_finds_the_known_families():
    # canary: the scan itself must keep working (an empty set would make
    # the coverage assertions vacuous)
    found = source_key_prefixes()
    for known in (
        "capped_shingle_index",
        "emb_vecd_spread",
        "cosupply_bitmap",
        "exact_topk_gt",
        "kcore_keep",
        "bfs_front",
    ):
        assert known in found, f"memo key scan lost {known}"
    assert len(found) >= 30


@pytest.mark.slow
def test_cold_list_builds_every_memo_family(spark):
    """Run every cold-list query once from a cleared memo state at
    sf0.001 and assert the union of created memo keys covers every
    source prefix."""
    from jorvik_spark.queries import QUERIES

    cold = {lb: e["query"] for lb, e in bench.load_table()["labels"].items()
            if e["cold"] is not None}
    assert len(cold) >= 29
    registry.clear_memos()
    created: set[str] = set()
    for lb, qn in cold.items():
        assert qn in QUERIES, f"cold label {lb} names unknown query {qn}"
        QUERIES[qn](spark, SF_DIR).collect()
        created |= {k.split(":", 1)[0] for k in registry._MEMO}
    registry.clear_memos()

    missing = {
        p
        for p in source_key_prefixes()
        if not any(c.startswith(p) or p.startswith(c) for c in created)
    }
    assert not missing, (
        f"memo families with no cold-list shape: {sorted(missing)} — "
        "pin a cold regime for a representative query in PINS.json"
    )
