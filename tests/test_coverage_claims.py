"""COVERAGE.md's §2.1-§2.9 tables are claims about code; check them.

Every backticked ``module.name`` must resolve to an attribute of an
importable engine module, and every cited registry id (``q07``,
``t18``, ``Q28`` …) must name a registered entry. A row that cites a
retired entry or a deleted function fails here, and so does a row whose
function nothing calls, or whose cited ``tests/test_*.py`` files never
name its function. Beyond the tables: every public library function
must have a caller, and no code may name a retired entry.
"""

from __future__ import annotations

import ast
import functools
import importlib
import io
import re
import tokenize
from pathlib import Path

COVERAGE = Path(__file__).resolve().parents[1] / "COVERAGE.md"
# Tables name modules relative to the package; the §2.2/§2.5 tables drop
# the ``functions/`` prefix (``compare.numbers_match``).
_PACKAGES = ("", "functions.")
_DOTTED = re.compile(r"^([a-z_]+(?:/[a-z_]+)*)\.([A-Za-z_]\w*)")
_ENTRY_ID = re.compile(r"\b[qQtT]\d{2,3}[a-z]?\b")
_TEST_FILE = re.compile(r"(?<![\w/])(?:tests/)?(test_\w+\.py)\b")


def _rows() -> list[str]:
    text = COVERAGE.read_text()
    start = text.index("## §2.1")
    end = text.index("\n## ", text.index("## §2.9"))
    return [
        line
        for line in text[start:end].splitlines()
        if line.startswith("|") and not line.startswith("|---")
    ]


def _row_claims(line: str) -> list[tuple[str, str]]:
    """The backticked ``module.name`` citations of one table row."""
    out = []
    for tick in re.findall(r"`([^`]+)`", line):
        m = _DOTTED.match(tick)
        if m and m.group(2) != "py":
            out.append((m.group(1), m.group(2)))
    return out


def _dotted_claims() -> list[tuple[str, str]]:
    return sorted({c for line in _rows() for c in _row_claims(line)})


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
_PKG = _REPO / "datasheet_etl_spark"
_RETIRED = _REPO / "RETIRED.md"


_STATEMENT_START = (tokenize.NEWLINE, tokenize.INDENT, tokenize.DEDENT)


def _strip_prose(src: str) -> list[str]:
    """The lines of ``src`` with comments and docstrings blanked, so a
    name that only prose mentions does not count as used. A docstring is
    any string token that makes up a whole statement."""
    lines = src.split("\n")

    def blank(tok):
        (r0, c0), (r1, c1) = tok.start, tok.end
        for r in range(r0, r1 + 1):
            line = lines[r - 1]
            a = c0 if r == r0 else 0
            b = c1 if r == r1 else len(line)
            lines[r - 1] = line[:a] + " " * (b - a) + line[b:]

    toks = [
        t
        for t in tokenize.generate_tokens(io.StringIO(src).readline)
        if t.type != tokenize.NL
    ]
    prev = tokenize.NEWLINE
    for tok, nxt in zip(toks, toks[1:]):
        if tok.type == tokenize.COMMENT:
            blank(tok)
            continue
        if (
            tok.type == tokenize.STRING
            and prev in _STATEMENT_START
            and nxt.type in (tokenize.NEWLINE, tokenize.ENDMARKER)
        ):
            blank(tok)
        prev = tok.type
    return lines


@functools.lru_cache(maxsize=1)
def _callers() -> dict[Path, tuple[list[str], set[str]]]:
    """Every repo .py file's code lines (prose blanked) and identifiers.
    The package's ``__init__.py`` files are export lists, not callers."""
    out = {}
    for path in _REPO.rglob("*.py"):
        if path.name == "__init__.py" and _PKG in path.parents:
            continue
        lines = _strip_prose(path.read_text())
        out[path] = (lines, set(re.findall(r"\w+", "\n".join(lines))))
    return out


@functools.lru_cache(maxsize=1)
def _definitions() -> dict[str, list[tuple[Path, int, int]]]:
    """Top-level function and class definitions in the package: name →
    (file, first line, last line) of each definition."""
    out: dict[str, list[tuple[Path, int, int]]] = {}
    for path in _PKG.rglob("*.py"):
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                out.setdefault(node.name, []).append(
                    (path, node.lineno, node.end_lineno)
                )
    return out


def _is_referenced(name: str) -> bool:
    """Whether code outside ``name``'s own definition (or module-level
    assignment) uses it. Comments, docstrings and export lists do not
    count."""
    use = re.compile(rf"\b{re.escape(name)}\b")
    assign = re.compile(rf"^{re.escape(name)}\s*(?::|=(?!=))")
    own = _definitions().get(name, [])
    for path, (lines, words) in _callers().items():
        if name not in words:
            continue
        spans = [(a, b) for p, a, b in own if p == path]
        for i, line in enumerate(lines, 1):
            if (
                use.search(line)
                and not assign.match(line)
                and not any(a <= i <= b for a, b in spans)
            ):
                return True
    return False


def test_cited_functions_are_reached():
    """A function a §2 row cites is called by an entry, the CLI, a script
    or a test, so the row's "verified by" has something to verify."""
    unreached = [f"{m}.{n}" for m, n in _dotted_claims() if not _is_referenced(n)]
    assert not unreached, f"COVERAGE cites functions nothing calls: {unreached}"


def test_cited_tests_name_the_cited_functions():
    """A row that cites ``tests/test_*.py`` files says those tests verify
    its backticked functions, so each function must appear in the code
    (comments and docstrings blanked) of one of the row's test files."""
    checked, missing = 0, []
    for line in _rows():
        files = [_REPO / "tests" / f for f in _TEST_FILE.findall(line)]
        if not files:
            continue
        for module, name in _row_claims(line):
            checked += 1
            use = re.compile(rf"\b{re.escape(name)}\b")
            if not any(
                f in _callers() and use.search("\n".join(_callers()[f][0]))
                for f in files
            ):
                missing.append(f"{module}.{name} not in {[f.name for f in files]}")
    assert checked > 40, "no row cites both a test file and a function"
    assert not missing, "COVERAGE rows cite tests that never name:\n" + "\n".join(
        missing
    )


def test_public_library_functions_are_reached():
    """Every public top-level function and class of the library outside
    ``plans/`` is used by an entry, the CLI, a script, a test or other
    library code."""
    public = sorted(
        f"{path.relative_to(_PKG).with_suffix('')}.{name}"
        for name, defs in _definitions().items()
        if not name.startswith("_")
        for path, _, _ in defs
        if "plans" not in path.relative_to(_PKG).parts
    )
    assert len(public) > 300, "no public definitions found"
    unreached = [q for q in public if not _is_referenced(q.rsplit(".", 1)[1])]
    assert not unreached, f"public functions nothing calls: {unreached}"


def test_no_code_names_a_retired_entry():
    """Library, bench and script code (comments and docstrings included)
    names no entry that RETIRED.md lists: what the code does now is said
    in terms of what is registered."""
    ids = re.findall(r"^\| ([qt]\d{2,3}[a-z]?)_\w+ \|", _RETIRED.read_text(), re.M)
    assert len(ids) >= 81, "RETIRED.md tables no longer parse"
    named = re.compile(
        rf"(?<![A-Za-z0-9_])({'|'.join(ids)})(?![A-Za-z0-9])", re.IGNORECASE
    )
    files = [
        *sorted(_PKG.rglob("*.py")),
        _REPO / "bench.py",
        *sorted((_REPO / "scripts").glob("*.py")),
    ]
    hits = [
        f"{path.relative_to(_REPO)}:{i}: {line.strip()}"
        for path in files
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if named.search(line)
    ]
    assert not hits, f"{len(hits)} lines name retired entries:\n" + "\n".join(hits)
