"""Guards that keep one mechanism per job from being hand-copied again:
overlapped Spark actions go through `streaming.sinks.overlap` (the only
thread pool in the package), and one-off per-round scripts are folded
into their general tool (e.g. `scripts/dump_plans.py --round N`)."""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PACKAGE = REPO / "real_time_financial_market_data_pipeline_spark"
OVERLAP_HOME = PACKAGE / "streaming" / "sinks.py"


def _imports_concurrent_futures(path: Path) -> bool:
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names = [alias.name for alias in node.names]
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            # `from concurrent import futures` names the module too
            names = [f"{node.module}.{alias.name}" for alias in node.names]
        else:
            continue
        if any((n + ".").startswith("concurrent.futures.") for n in names):
            return True
    return False


def test_thread_pools_only_in_overlap_helper():
    offenders = [
        str(p.relative_to(REPO))
        for p in sorted(PACKAGE.rglob("*.py"))
        if p != OVERLAP_HOME and _imports_concurrent_futures(p)
    ]
    assert not offenders, (
        f"concurrent.futures imported outside streaming/sinks.py: {offenders} — "
        "overlap independent actions with streaming.sinks.overlap instead"
    )
    assert _imports_concurrent_futures(OVERLAP_HOME)


def test_no_per_round_scripts():
    per_round = sorted(p.name for p in (REPO / "scripts").glob("*_r[0-9]*.py"))
    assert not per_round, (
        f"per-round scripts {per_round}: fold them into the general tool "
        "(e.g. scripts/dump_plans.py --round N)"
    )
