"""Dump formatted physical plans.

    python scripts/dump_plans.py [--sf DIR]
    python scripts/dump_plans.py --round N --tag before|after [--sf DIR] [query ...]

Without --round: regenerate PLANS.md — the headline queries' plans with
the scale-relevant properties called out, plus the plan-budget
dashboard (default sf0.001).

With --round N: optimization-round evidence — one
`.explain("formatted")` file per query per tag under plans/rN/, so
before/after plan diffs are committed artifacts, readable
without running Spark (default sf0.1; with no query names, every
declared query is dumped).  Plans are rendered with
maxMetadataStringLength raised so ReadSchema / PushedFilters are
untruncated.
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

REPO_ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO_ROOT))

from real_time_financial_market_data_pipeline_spark.plans.inspect import count_shuffles, physical_plan
from real_time_financial_market_data_pipeline_spark.serving.queries import QUERIES
from real_time_financial_market_data_pipeline_spark.session import get_spark

SHOWCASE = {
    "ohlcv_5m": (
        "two shuffles — the silver dedup on (symbol, timestamp), then the bar agg "
        "on (symbol, window). The dedup is a single-shuffle SortAggregate (min_by "
        "over the row STRUCT: struct buffers aren't hash-aggregatable, so Spark "
        "sorts within partitions — spill-safe, still one exchange); the bar agg "
        "is a pure HashAggregate since its min_by/max_by operate on scalar price "
        "(the bare ohlcv operator is single-shuffle, see test_ohlcv_is_single_shuffle)"
    ),
    "fuzzy_name_pairs_blocked": (
        "the all-pairs levenshtein join re-expressed as a length-bucket EQUI-join "
        "(right side explodes to its 5 candidate lengths) — a shuffled hash join, "
        "no cartesian/nested-loop operator, levenshtein computed on candidates only"
    ),
    "market_hours_trades": (
        "session labeling is pure column arithmetic (timezone conversion, weekday, "
        "minute-of-day, 20-literal holiday IN-list) fused into the scan stage, then "
        "one hash-agg shuffle on (symbol, session) — no UDF, no join"
    ),
    "daily_price_path": (
        "per-group rank filter caps rows BEFORE collect_list (bounded state on a "
        "hot group); the rank window and the aggregate hash-partition on the same "
        "(symbol, trade_date) keys so the cap adds no extra exchange"
    ),
    "top_revenue_orders": "dimension broadcast + fact-side aggregation + TakeOrderedAndProject (no global sort)",
    "asof_purchase_view": "union + one window shuffle — no range/nested-loop join",
    "latest_bars_per_symbol": "WindowGroupLimit pushes per-group top-k below the shuffle",
    "minhash_near_dups": "id-only band equi-join; shingle arrays never shuffle",
    "knn_bruteforce": "both strategies in one query: JVM HOF cosine + Arrow-batched BLAS matmul, unioned",
    "pricing_summary": "pruned 7-column scan with pushed shipdate filter",
    "doc_chunks": (
        "row-expanding but shuffle-free: tokens staged once, stride sequence + "
        "posexplode generator fans documents to chunks as a map-side pass"
    ),
}


def _family(name: str) -> str:
    """Coarse bucket for the budget dashboard subtotals (review aid
    only — the enforcement unit is the per-query budget)."""
    n = name.lower()
    if any(
        k in n
        for k in (
            "doc",
            "dedup",
            "ngram",
            "near_dup",
            "minhash",
            "knn",
            "embedding",
            "media",
            "dataset_split",
            "bpe",
            "span",
            "chunk",
            "fuzzy",
            "decontam",
            "certificates",
        )
    ):
        return "llm-data"
    if any(
        k in n
        for k in (
            "silver",
            "validation",
            "dead_letters",
            "pipeline_status",
            "ingest",
            "market_hours",
            "latest_prices",
        )
    ):
        return "medallion/serving"
    if any(k in n for k in ("ohlcv", "rolling", "day_over_day", "running_", "cohort", "session", "price_path", "vwap", "moving")):
        return "windows"
    if any(
        k in n
        for k in (
            "order",
            "revenue",
            "nation",
            "supplier",
            "customer",
            "quote",
            "asof",
            "interval",
            "segment",
        )
    ):
        return "joins/analytics"
    if any(k in n for k in ("top_", "latest_bars", "volume")):
        return "topk/agg"
    return "misc"


def budget_dashboard(spark, sf_dir: str) -> list[str]:
    """Round-9 VERDICT task 7: the plan-budget totals as a reviewable
    table instead of pass/fail buried in test code.  Exchanges =
    count_shuffles at plan-compile time; budget columns come straight
    from tests/test_plan_sweep.py::PLAN_BUDGET (the enforced pin)."""
    sys.path.insert(0, str(REPO_ROOT / "tests"))
    from test_plan_sweep import PLAN_BUDGET

    from real_time_financial_market_data_pipeline_spark.plans.inspect import pushed_filters

    rows = []
    for name in sorted(PLAN_BUDGET):
        if name not in QUERIES:
            continue
        max_sh, needs_bhj, min_pushed = PLAN_BUDGET[name]
        df = QUERIES[name](spark, sf_dir)
        actual = count_shuffles(df)
        bhj = "✓" if needs_bhj else ""
        pushed = len([p for p in pushed_filters(df) if p.strip()])
        rows.append((_family(name), name, actual, max_sh, bhj, pushed, min_pushed))

    out = [
        "## Plan-budget dashboard",
        "",
        "Per-query exchange counts vs the budgets pinned in",
        "`tests/test_plan_sweep.py::PLAN_BUDGET` (enforced in CI; this table",
        "makes drift reviewable in diffs). Headroom = budget − actual.",
        "",
        "| family | query | exchanges | budget | headroom | bhj req | pushed | pushed min |",
        "|---|---|---|---|---|---|---|---|",
    ]
    fam_totals: dict[str, list[int]] = {}
    for fam, name, actual, max_sh, bhj, pushed, min_pushed in sorted(rows):
        out.append(
            f"| {fam} | {name} | {actual} | {max_sh} | {max_sh - actual} "
            f"| {bhj} | {pushed} | {min_pushed} |"
        )
        t = fam_totals.setdefault(fam, [0, 0, 0])
        t[0] += actual
        t[1] += max_sh
        t[2] += 1
    out += [
        "",
        "| family | queries | total exchanges | total budget | headroom |",
        "|---|---|---|---|---|",
    ]
    ta = tb = tq = 0
    for fam in sorted(fam_totals):
        a, b, nq = fam_totals[fam]
        ta, tb, tq = ta + a, tb + b, tq + nq
        out.append(f"| {fam} | {nq} | {a} | {b} | {b - a} |")
    out.append(f"| **all** | {tq} | {ta} | {tb} | {tb - ta} |")
    out.append("")
    return out


def dump_round(spark, sf_dir: str, round_no: int, tag: str, names: list[str]) -> None:
    """One plan file per query: plans/r<round_no>/<query>_<tag>.txt."""
    out_dir = REPO_ROOT / "plans" / f"r{round_no}"
    out_dir.mkdir(parents=True, exist_ok=True)
    spark.conf.set("spark.sql.maxMetadataStringLength", "100000")
    failed: list[str] = []
    for name in names or list(QUERIES):
        try:
            plan = physical_plan(QUERIES[name](spark, sf_dir))
        except Exception as exc:  # noqa: BLE001 — keep dumping the rest
            failed.append(f"{name}: {type(exc).__name__}: {exc}")
            continue
        path = out_dir / f"{name}_{tag}.txt"
        path.write_text(
            f"# query: {name}\n# tag: {tag}\n# sf_dir: {sf_dir}\n\n{plan}"
        )
        print(f"wrote {path.relative_to(REPO_ROOT)}")
    if failed:
        print("FAILED:\n" + "\n".join(failed), file=sys.stderr)
        sys.exit(1)


def dump_plans_md(spark, sf_dir: str) -> None:
    out = [
        "# PLANS — headline physical plans",
        "",
        "Generated by `python scripts/dump_plans.py` (sf: "
        + sf_dir.rsplit("sf", 1)[-1]
        + "; `--sf DIR` for another scale; `--round N --tag before|after [query ...]`",
        "writes per-query plan files to plans/rN/ instead). What to look for in each:",
        "pushed filters, pruned ReadSchema, broadcast vs shuffle joins, shuffle count,",
        "WholeStageCodegen spans.",
        "",
    ]
    out += budget_dashboard(spark, sf_dir)
    for name, why in SHOWCASE.items():
        df = QUERIES[name](spark, sf_dir)
        out.append(f"## {name}")
        out.append("")
        out.append(f"**Why this plan is right:** {why}. Shuffles: {count_shuffles(df)}.")
        out.append("")
        out.append("```")
        out.append(physical_plan(df, "formatted").strip())
        out.append("```")
        out.append("")
    with open(REPO_ROOT / "PLANS.md", "w") as f:
        f.write("\n".join(out))
    print(f"wrote {REPO_ROOT / 'PLANS.md'}")


def main() -> None:
    from tests.conftest import SF_DIR

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sf", help="scale-factor dir (default sf0.001, sf0.1 with --round)")
    ap.add_argument("--round", type=int, help="dump per-query plans into plans/r<N>/")
    ap.add_argument("--tag", choices=("before", "after"), default="before")
    ap.add_argument("queries", nargs="*", help="with --round: queries to dump (default all)")
    args = ap.parse_args()
    if args.queries and args.round is None:
        ap.error("query names need --round")
    spark = get_spark(app_name="dump_plans")
    if args.round is None:
        dump_plans_md(spark, args.sf or SF_DIR)
    else:
        sf_dir = args.sf or str(Path(SF_DIR).with_name("sf0.1"))
        dump_round(spark, sf_dir, args.round, args.tag, args.queries)
    spark.stop()


if __name__ == "__main__":
    main()
