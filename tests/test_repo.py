"""Repository invariants that need no SparkSession."""

from __future__ import annotations

import glob
import re
from pathlib import Path

from iceberg_benchmark_java_spark import corpus_ref
from tests.conftest import REPO


def test_every_corpus_sql_file_has_an_oracle():
    """The oracle gate covers every SQL file the repo ships: each ``*.sql``
    under ``corpus/`` outside ``*_oracles/`` sits in a suite's query
    directory and has a committed DuckDB oracle."""
    suite_of = {Path(d): suite for suite, (d, _, _) in corpus_ref.SUITES.items()}
    files = [p for p in Path(corpus_ref.CORPUS).rglob("*.sql") if not p.parent.name.endswith("_oracles")]
    unchecked = [
        str(p.relative_to(corpus_ref.CORPUS))
        for p in files
        if p.parent not in suite_of
        or not Path(corpus_ref.oracle_path(suite_of[p.parent], p.stem)).is_file()
    ]
    assert files and not unchecked, unchecked


# ROADMAP, CHANGES and VERDICT name deleted and planned files on purpose.
_DOCS = ("README.md", "COVERAGE.md", "FIXTURES.md", "TESTDATA.md", ".claude/skills/verify/SKILL.md")
_REPO_DIRS = (
    "corpus/", "tools/", "tests/", "artifacts/", "iceberg_benchmark_java_spark/",
    "perfbench/", "fixtures/", "plans/",
)


def _globs(path: str) -> list[str]:
    """``{a,b}`` expands to each alternative; a placeholder such as ``{N}`` reads as ``*``."""
    m = re.search(r"\{([^{}]*)\}", path)
    if not m:
        return [path]
    alts = m.group(1).split(",") if "," in m.group(1) else ["*"]
    return [g for a in alts for g in _globs(path[: m.start()] + a + path[m.end() :])]


def test_doc_repo_paths_exist():
    """Every repo path a user-facing doc cites in a code span exists."""
    missing = []
    for doc in _DOCS:
        text = re.sub(r"^```.*?^```", "", (REPO / doc).read_text(), flags=re.M | re.S)
        for span in re.findall(r"`([^`]+)`", text):
            path = span.split()[0].split("::")[0]
            if path.startswith(_REPO_DIRS) and not any(glob.glob(str(REPO / g)) for g in _globs(path)):
                missing.append(f"{doc}: {path}")
    assert not missing, missing
