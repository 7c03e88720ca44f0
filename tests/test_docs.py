"""Docs/README consistency guards.

Round-11 verdict item 7: README.md carried a stale catalog count
("304/304 as of round 11" in one section, 305/305 in another). The
counts are now asserted against the live registry so a new query
landing without a README status update fails the suite instead of
shipping a self-inconsistent doc.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

import reddit_tech_jobs_data_pipeline_spark.plans  # noqa: F401  (registers catalogs)
from reddit_tech_jobs_data_pipeline_spark.plans.catalog import get_registry

REPO = Path(__file__).resolve().parents[1]
README = REPO / "README.md"
SKILL = REPO / ".claude" / "skills" / "verify" / "SKILL.md"


def test_readme_oracle_counts_match_registry():
    """Only the LATEST '### Round N status' section is held to the live
    count — earlier sections are historical records of what was true
    when those rounds closed and must not be rewritten."""
    n = len(get_registry())
    text = README.read_text()
    heads = list(re.finditer(r"### Round \d+ status", text))
    assert heads, "README should carry a Round status section"
    latest = text[heads[-1].start():]
    # "oracle 311/311" style claims in the latest section must be live.
    claims = re.findall(r"oracle (\d+)/(\d+)", latest)
    assert claims, (
        "the latest Round status section should state the full-catalog "
        "oracle count (oracle N/N)"
    )
    for a, b in claims:
        assert int(a) == int(b) == n, (
            f"latest Round status claims oracle {a}/{b} but the registry "
            f"has {n} queries — add/refresh the Round status section"
        )
    # "-> 311 oracle-gated queries" growth notation: the RIGHT side of
    # the arrow must be current in the latest section.
    for m in re.findall(r"→ (\d+) oracle-gated queries", latest):
        assert int(m) == n, (
            f"latest Round status claims {m} oracle-gated queries; "
            f"registry has {n}"
        )


def test_documented_tools_exist():
    """Every ``tools/<name>.py`` the README or the verify skill tells a
    reader to run is still in the tree."""
    named = {m for doc in (README, SKILL) for m in re.findall(r"tools/(\w+)\.py", doc.read_text())}
    assert named
    assert sorted(n for n in named if not (REPO / "tools" / f"{n}.py").exists()) == []


def test_no_tool_shadows_a_stdlib_module():
    """A script's own directory leads ``sys.path``, so a ``tools/<name>.py``
    named like a stdlib module is imported in its place by every other
    tool (``profile.py`` broke ``import pyspark``, whose cProfile imports
    ``profile``)."""
    stems = {p.stem for p in (REPO / "tools").glob("*.py")}
    assert sorted(stems & sys.stdlib_module_names) == []
