"""No module restates a registry template's formula (no Spark needed).

``registry.units`` / ``sql_units`` (the 1e-6 quantization) and
``registry.octave`` / ``sql_octave`` (the binary-digit count) render one
template per engine. A hand-rolled copy can drift from its twin without
any parity check noticing, so every ``.py`` under ``jorvik_spark/`` and
``examples/`` other than the registry itself is scanned for the copies'
spellings, whatever the whitespace or line breaks between the tokens.
"""

import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
TEMPLATE_HOME = "jorvik_spark/queries/registry.py"

_NUM = r"(?:\.0)?D?"
COPIES = [
    # Column spelling: x * 1_000_000 + F.lit(0.5)
    re.compile(rf"\*\s*1_?000_?000{_NUM}\s*\+\s*F\.lit\(\s*0\.5D?\s*\)"),
    # SQL text spelling: x * 1000000 + 0.5
    re.compile(rf"\*\s*1000000{_NUM}\s*\+\s*0\.5D?"),
    # Spark octave: F.length(F.conv(...))
    re.compile(r"F\.length\(\s*F\.conv\("),
    # DuckDB octave: length(bin(...))
    re.compile(r"length\(\s*bin\("),
]


def template_copies(root: Path = ROOT) -> list[str]:
    """``file:line`` of every hand-rolled template copy under ``root``."""
    hits = []
    for base in ("jorvik_spark", "examples"):
        for path in sorted((root / base).rglob("*.py")):
            rel = path.relative_to(root).as_posix()
            if rel == TEMPLATE_HOME:
                continue
            src = path.read_text(encoding="utf-8")
            for pattern in COPIES:
                for m in pattern.finditer(src):
                    line = src.count("\n", 0, m.start()) + 1
                    hits.append(f"{rel}:{line}")
    return sorted(hits)


def test_no_module_restates_a_template():
    hits = template_copies()
    assert not hits, (
        f"{len(hits)} hand-rolled template copies; render "
        "registry.units/octave (or their spark_/sql_ twins) instead:\n"
        + "\n".join(hits)
    )


def test_guard_sees_each_spelling(tmp_path):
    """Each spelling, split over lines as the copies were, is a hit."""
    mod = tmp_path / "jorvik_spark" / "m.py"
    mod.parent.mkdir()
    mod.write_text(
        'a = F.floor(F.col("v") * 1_000_000\n    + F.lit(0.5))\n'
        'b = """CAST(floor(v *\n    1000000.0 + 0.5D) AS BIGINT)"""\n'
        'c = F.length( F.conv(F.col("n").cast("string"), 10, 2))\n'
        'd = """length(\n    bin(n))"""\n'
    )
    want = [f"jorvik_spark/m.py:{line}" for line in (1, 3, 5, 6)]
    assert template_copies(tmp_path) == want
