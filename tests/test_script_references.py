"""Every script or root artifact the code, the tests or the verify skill names
must exist, and no deleted plan dump may be cited: a deletion that leaves
a stale pointer behind fails here instead of in a reader's shell."""

from __future__ import annotations

import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "etl_gcp_function_tmabrasil_spark"
SCANNED = [
    *PACKAGE.rglob("*.py"),
    REPO / "bench.py",
    *(REPO / "scripts").glob("*.py"),
    *(REPO / "tests").glob("*.py"),
    REPO / ".claude" / "skills" / "verify" / "SKILL.md",
]
SCRIPT_REF = re.compile(r"scripts/(\w+\.py)")
# a repo-root plans/ path; the package's own plans/ module is cited with
# its package prefix or as a dotted import
PLANS_REF = re.compile(r"(?<![\w/.])plans/\w")
# a bare repo-root artifact name such as BENCH_LOCAL.json; a name template
# (CORRECTNESS_r{N}.json) does not match
ARTIFACT_REF = re.compile(r"(?<![\w/.])[A-Z][A-Za-z0-9_]+\.json\b")


def _scanned() -> list[Path]:
    return [p for p in SCANNED if p.exists() and p != Path(__file__).resolve()]


def test_every_named_script_exists():
    missing = sorted(
        f"{p.relative_to(REPO)}: scripts/{name}"
        for p in _scanned()
        for name in SCRIPT_REF.findall(p.read_text())
        if not (REPO / "scripts" / name).is_file()
    )
    assert not missing, missing


def test_every_named_root_artifact_exists():
    ignored = set((REPO / ".gitignore").read_text().split())
    missing = sorted(
        f"{p.relative_to(REPO)}: {name}"
        for p in _scanned()
        for name in ARTIFACT_REF.findall(p.read_text())
        if not (REPO / name).is_file() and name not in ignored
    )
    assert not missing, missing


def test_no_plan_dump_is_cited():
    cited = sorted(
        f"{p.relative_to(REPO)}:{i}"
        for p in _scanned()
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if PLANS_REF.search(line)
    )
    assert not cited, cited
