"""Doc-vs-artifact consistency (round-8 verdict task 7).

COVERAGE.md's header paragraph quotes the strict-sweep pass count and the
sweep artifact it came from; round 7 shipped with a stale "156/156" header
while the committed sweep said 187/187.  These tests pin the header to the
live registry and to the named sweep artifact so the numbers cannot drift
again: growing the registry forces a header edit AND a sweep regeneration
in the same change.

Counting convention: the checker's summary line counts EVERY registry
query (rows-only included), so header and artifact both carry
len(QUERIES); the oracle count appears separately in the header prose.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

from lachesis_spark import registry as R

REPO = Path(__file__).resolve().parent.parent
HEADER = "\n".join((REPO / "COVERAGE.md").read_text().splitlines()[:16])


def test_coverage_header_matches_registry_counts():
    m = re.search(r"\*\*(\d+)/(\d+) strict-pass", HEADER)
    assert m, "COVERAGE.md header lost its strict-pass count"
    n = str(len(R.QUERIES))
    assert m.group(1) == m.group(2) == n, (
        f"COVERAGE.md header claims {m.group(0)!r} but the registry has "
        f"{n} queries — update the header AND regenerate the sweep "
        "artifact it names"
    )
    mo = re.search(r"(\d+) DuckDB\s*\noracles", HEADER) or re.search(
        r"(\d+) DuckDB oracles", HEADER
    )
    assert mo and mo.group(1) == str(len(R.ORACLE)), (
        f"COVERAGE.md header oracle count != registry ({len(R.ORACLE)})"
    )


def test_coverage_header_names_a_matching_sweep_artifact():
    m = re.search(r"`(STRICT_SWEEP_r\d+\.txt)`", HEADER)
    assert m, "COVERAGE.md header must name its STRICT_SWEEP artifact"
    sweep = REPO / m.group(1)
    assert sweep.exists(), f"{m.group(1)} named in COVERAGE.md is not committed"
    # anchor to line start so prose notes mentioning "k/k strict-pass"
    # mid-sentence (round 8's post-sweep re-check note) don't count as
    # sweep summaries
    summaries = re.findall(
        r"^(\d+)/(\d+) strict-pass", sweep.read_text(), re.MULTILINE
    )
    # one summary per scale factor; the header claims BOTH pass
    assert len(summaries) >= 2, f"{m.group(1)} must contain both-SF summaries"
    n = str(len(R.QUERIES))
    assert all(s == (n, n) for s in summaries[-2:]), (
        f"{m.group(1)} summaries {summaries[-2:]} != registry query "
        f"count {n} — regenerate the sweep"
    )


def _docstrings(path: Path) -> str:
    tree = ast.parse(path.read_text())
    nodes = [tree] + [
        n for n in ast.walk(tree)
        if isinstance(n, (ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef))
    ]
    return "\n".join(filter(None, map(ast.get_docstring, nodes)))


def test_cited_tools_exist():
    """Every ``tools/<name>.py`` that the living docs, the verify recipe
    and the docstrings under ``lachesis_spark/`` and ``tools/`` cite must
    exist, so a merged or deleted script cannot leave a stale command
    behind.  ADVISOR_DEMO.md and the round-numbered artifacts are
    transcripts of past runs and are exempt."""
    texts = {
        name: (REPO / name).read_text()
        for name in ("README.md", "COVERAGE.md", "SCALE.md",
                     ".claude/skills/verify/SKILL.md")
    }
    for pkg in ("lachesis_spark", "tools"):
        for py in sorted((REPO / pkg).rglob("*.py")):
            texts[str(py.relative_to(REPO))] = _docstrings(py)
    missing = sorted(
        f"{name}: tools/{tool}"
        for name, text in texts.items()
        for tool in set(re.findall(r"\btools/(\w+\.py)\b", text))
        if not (REPO / "tools" / tool).is_file()
    )
    assert not missing, f"cited tools that do not exist: {missing}"
