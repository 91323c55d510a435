"""COVERAGE.md's §2.1-§2.9 tables are claims about code; check them.

Every backticked ``module.name`` must resolve to an attribute of an
importable engine module, and every cited registry id (``q07``,
``t18``, ``Q28`` …) must name a registered entry. A row that cites a
retired entry or a deleted function fails here, and so does a row whose
function nothing calls.
"""

from __future__ import annotations

import importlib
import re
from pathlib import Path

COVERAGE = Path(__file__).resolve().parents[1] / "COVERAGE.md"
# Tables name modules relative to the package; the §2.2/§2.5 tables drop
# the ``functions/`` prefix (``compare.numbers_match``).
_PACKAGES = ("", "functions.")
_DOTTED = re.compile(r"^([a-z_]+(?:/[a-z_]+)*)\.([A-Za-z_]\w*)")
_ENTRY_ID = re.compile(r"\b[qQtT]\d{2,3}[a-z]?\b")


def _rows() -> list[str]:
    text = COVERAGE.read_text()
    start = text.index("## §2.1")
    end = text.index("\n## ", text.index("## §2.9"))
    return [
        line
        for line in text[start:end].splitlines()
        if line.startswith("|") and not line.startswith("|---")
    ]


def _dotted_claims() -> list[tuple[str, str]]:
    out = set()
    for line in _rows():
        for tick in re.findall(r"`([^`]+)`", line):
            m = _DOTTED.match(tick)
            if m and m.group(2) != "py":
                out.add((m.group(1), m.group(2)))
    return sorted(out)


def _resolve(module: str, name: str) -> bool:
    for pkg in _PACKAGES:
        try:
            mod = importlib.import_module(
                f"datasheet_etl_spark.{pkg}{module.replace('/', '.')}"
            )
        except ModuleNotFoundError:
            continue
        if hasattr(mod, name):
            return True
    return False


def test_cited_functions_exist():
    claims = _dotted_claims()
    assert len(claims) > 50, "COVERAGE tables no longer parse"
    missing = [f"{m}.{n}" for m, n in claims if not _resolve(m, n)]
    assert not missing, f"COVERAGE cites missing functions: {missing}"


def test_cited_entries_are_registered():
    from datasheet_etl_spark.plans import registry

    keys = list(registry())
    missing = set()
    for line in _rows():
        for eid in _ENTRY_ID.findall(line):
            eid = eid.lower()
            if not any(k == eid or k.startswith(eid + "_") for k in keys):
                missing.add(eid)
    assert not missing, f"COVERAGE cites unregistered entries: {sorted(missing)}"


_REPO = COVERAGE.parent
_EXPORTS = _REPO / "datasheet_etl_spark" / "functions" / "__init__.py"


def _is_referenced(name: str, lines: list[str]) -> bool:
    """Whether a line mentions ``name`` without defining it."""
    use = re.compile(rf"\b{re.escape(name)}\b")
    definition = re.compile(
        rf"^\s*(?:def|class)\s+{re.escape(name)}\b|^{re.escape(name)}\s*[:=]"
    )
    return any(use.search(line) and not definition.match(line) for line in lines)


def test_cited_functions_are_reached():
    """A function a §2 row cites is called by an entry, the CLI, a script
    or a test, so the row's "verified by" has something to verify. The
    ``functions`` export list does not count as a caller."""
    lines = [
        line
        for path in _REPO.rglob("*.py")
        if path != _EXPORTS
        for line in path.read_text().splitlines()
    ]
    unreached = [f"{m}.{n}" for m, n in _dotted_claims() if not _is_referenced(n, lines)]
    assert not unreached, f"COVERAGE cites functions nothing calls: {unreached}"
