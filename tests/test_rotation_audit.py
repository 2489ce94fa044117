"""Red-bar enforcement of the 50-slot driver-window rotation rule
(VERDICT r5 #3) — see tools/rotation_audit.py for the rule and method.

No Spark session needed: the audit inspects registered source regions
and git history only. Its first run caught a real violation
(text_quality_score's oracle refactored onto duck_quality_expr() after
its r2 green row), which is exactly the failure mode this guards.
"""

import os
import shutil
import subprocess

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _has_git_history() -> bool:
    if shutil.which("git") is None:
        return False
    try:
        subprocess.run(
            ["git", "rev-parse", "HEAD"],
            capture_output=True, check=True, cwd=REPO,
        )
        return True
    except Exception:
        return False


@pytest.mark.skipif(not _has_git_history(), reason="no git history")
def test_rotation_rule_holds():
    from tools.rotation_audit import audit

    violations = audit()
    assert not violations, "\n".join(violations)


def test_never_driver_checked_queries_sit_in_window():
    """Registration-time invariant (VERDICT r6 #2): a registered query
    with NO CORRECTNESS_r*.json row at all — never seen by the driver
    under any verdict — must sit inside the first-50 window so the NEXT
    driver run checks it. The git-walking audit above enforces the full
    unchanged-since-green rule; this cheap check needs no history and
    makes the round-6 failure mode (register a query in the end-of-round
    commit, never run the driver) structurally impossible to ship green.
    """
    import json
    from pathlib import Path

    import __spark_entry__ as entry

    repo = Path(__file__).resolve().parents[1]
    ever_checked: set[str] = set()
    for f in repo.glob("CORRECTNESS_r*.json"):
        ever_checked.update(json.loads(f.read_text()).keys())
    names = list(entry.queries())
    window = set(names[:50])
    rogue = [n for n in names if n not in ever_checked and n not in window]
    assert not rogue, (
        f"registered but never driver-checked and OUT of the 50-slot window: {rogue}"
    )


def test_generated_catalogs_cover_the_registry():
    """QUERIES.md and PLANS.md are generated artifacts ('do not edit');
    round 6 shipped both stale (VERDICT r6 #3). Their query sets must
    equal the live registry's."""
    import re
    from pathlib import Path

    import __spark_entry__ as entry

    repo = Path(__file__).resolve().parents[1]
    registry = set(entry.queries())
    queries_md = set(
        re.findall(r"^\| \d+[^|]*\| `([a-z0-9_]+)` \|", (repo / "QUERIES.md").read_text(), re.M)
    )
    plans_md = set(
        re.findall(r"^\| ([a-z0-9_]+) \|", (repo / "PLANS.md").read_text(), re.M)
    ) - {"query"}  # drop the markdown table header row
    assert queries_md == registry, (
        f"QUERIES.md stale: missing={sorted(registry - queries_md)} "
        f"extra={sorted(queries_md - registry)}"
    )
    assert plans_md == registry, (
        f"PLANS.md stale: missing={sorted(registry - plans_md)} "
        f"extra={sorted(plans_md - registry)}"
    )


def test_dependency_closure_sees_helpers_and_constants():
    """Round 7: the audit's former blind spot — helpers/constants a query
    body references — is now part of its checked source region. Pin the
    closure on a known query: graph_degree_topk builds on the shared
    edges view and its module constants."""
    import __spark_entry__ as entry
    from tools.rotation_audit import dependency_segments

    qs, _ = entry._registry()
    deps = dependency_segments(qs["graph_degree_topk"])
    names = {n for (_m, n) in deps}
    assert "_edges_view" in names  # shared helper function
    assert "MIN_SUPPORT" in names or "_COPURCHASE_EDGES_SQL" in names  # constants
    # every segment is real source text
    assert all(isinstance(s, str) and s for s in deps.values())


@pytest.mark.skipif(not _has_git_history(), reason="no git history")
def test_segment_in_tree_rejects_foreign_text():
    """A segment that never existed in the boundary tree must not verify
    — the red bar for the whole verbatim-match mechanism."""
    from tools.rotation_audit import _git, _segment_in_tree

    head = _git("rev-parse", "HEAD").strip()
    # concatenated at runtime so this very test file (committed!) can
    # never satisfy its own probe
    probe = "def __never_" + "committed_fn_" + "xyzzy(): pass"
    assert not _segment_in_tree(head, None, probe)
    # and a genuine segment verifies (this very test file is committed in
    # the parent commit's tree only after this round closes, so probe a
    # stable anchor instead: the audit module's own docstring first line)
    assert _segment_in_tree(head, "tools/rotation_audit.py", "WINDOW = 50")
