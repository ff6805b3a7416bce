"""Guards that keep one mechanism per job from being hand-copied again:
overlapped Spark actions go through `streaming.sinks.overlap` (the only
thread pool in the package), the corpus spec `_corpus_spec.json` has
one reader and one writer (so one format-version check guards every
on-disk layout), `parquet_sink` runs one Spark action per micro-batch
(its write), and one-off per-round scripts are folded into their
general tool (e.g. `scripts/dump_plans.py --round N`)."""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PACKAGE = REPO / "real_time_financial_market_data_pipeline_spark"
SINKS = PACKAGE / "streaming" / "sinks.py"
SPEC_HOME = PACKAGE / "streaming" / "incremental.py"
SPEC_IO = {"_read_corpus_spec", "_write_corpus_spec"}


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
        if p != SINKS and _imports_concurrent_futures(p)
    ]
    assert not offenders, (
        f"concurrent.futures imported outside streaming/sinks.py: {offenders} — "
        "overlap independent actions with streaming.sinks.overlap instead"
    )
    assert _imports_concurrent_futures(SINKS)


def _corpus_spec_uses(path: Path) -> list[tuple[str | None, int]]:
    """(enclosing function or None, line) of every code use of the
    corpus spec: the file-name literal, reads of the
    `_CORPUS_SPEC_MARKER` constant, and imports of that constant."""
    uses = []

    def visit(node, func):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, child.name)
                continue
            if (
                (isinstance(child, ast.Constant) and child.value == "_corpus_spec.json")
                or (
                    isinstance(child, ast.Name)
                    and isinstance(child.ctx, ast.Load)
                    and child.id == "_CORPUS_SPEC_MARKER"
                )
                or (
                    isinstance(child, ast.alias)
                    and child.name == "_CORPUS_SPEC_MARKER"
                )
            ):
                uses.append((func, child.lineno))
            visit(child, func)

    visit(ast.parse(path.read_text(), str(path)), None)
    return uses


def test_corpus_spec_has_one_reader_and_one_writer():
    offenders = []
    for p in sorted(PACKAGE.rglob("*.py")):
        rel = str(p.relative_to(REPO))
        for func, line in _corpus_spec_uses(p):
            # allowed: the one module-level constant definition and the
            # reader/writer pair, all in incremental.py
            if p == SPEC_HOME and (func is None or func in SPEC_IO):
                continue
            offenders.append(f"{rel}:{line} ({func})")
        if "legacy_defaults" in p.read_text():
            offenders.append(f"{rel}: legacy_defaults")
    assert not offenders, (
        f"corpus spec handled outside {sorted(SPEC_IO)}: {offenders} — read "
        "and write _corpus_spec.json through that pair so the format_version "
        "check stays the only compatibility gate"
    )
    uses = _corpus_spec_uses(SPEC_HOME)
    assert [f for f, _ in uses].count(None) == 1, uses  # the one definition
    assert {f for f, _ in uses} - {None} == SPEC_IO, uses


def test_update_sink_has_no_pre_write_action():
    # inside foreachBatch every action re-runs the micro-batch plan; the
    # sink's row count rides on its write as an Observation instead
    assert "isEmpty(" not in SINKS.read_text(), (
        "isEmpty( in streaming/sinks.py: an emptiness check before the "
        "write runs the stateful batch twice — observe the count on the write"
    )


def test_no_per_round_scripts():
    per_round = sorted(p.name for p in (REPO / "scripts").glob("*_r[0-9]*.py"))
    assert not per_round, (
        f"per-round scripts {per_round}: fold them into the general tool "
        "(e.g. scripts/dump_plans.py --round N)"
    )
