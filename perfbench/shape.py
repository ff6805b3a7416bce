#!/usr/bin/env python3
"""Measure the statistics of the sf0.1 `events` and `documents` tables
that perfbench/gen.py derives its constants from.

    python3 perfbench/shape.py <dir holding events.parquet and documents.parquet>

The benchmark itself never reads these tables (a run reads only its
checkout); this script is how the numbers recorded in
perfbench/README.md ("Input shape") were taken.  Events are read as
trades the way the package's Q1 reads them: symbol = event_type,
price = value, volume = props.k, event time = ts.  Prints one JSON
object.
"""

from __future__ import annotations

import json
import os
import sys

import duckdb


def _quantiles(con, sql: str) -> list[float]:
    row = con.execute(
        f"SELECT min(x), quantile_cont(x, 0.25), median(x), quantile_cont(x, 0.75), max(x) FROM ({sql})"
    ).fetchone()
    return [round(float(v), 4) for v in row]


def events(con, path: str) -> dict:
    con.execute(
        f"CREATE VIEW trades AS SELECT event_type AS s, value AS p, "
        f"CAST(json_extract_string(props, '$.k') AS BIGINT) AS v, ts AS t FROM '{path}'"
    )
    rows, symbols, t_lo, t_hi = con.execute(
        "SELECT count(*), count(DISTINCT s), min(t), max(t) FROM trades"
    ).fetchone()
    span_h = (t_hi - t_lo).total_seconds() / 3600
    per_symbol = dict(con.execute("SELECT s, count(*) FROM trades GROUP BY s ORDER BY s").fetchall())
    dup = con.execute("SELECT count(*) - count(DISTINCT (s, t)) FROM trades").fetchone()[0]
    invalid = con.execute(
        "SELECT count(*) FROM trades WHERE p IS NULL OR v IS NULL OR p <= 0 OR v <= 0"
    ).fetchone()[0]
    # per symbol, the relative change from one trade's price to the next
    step = _quantiles(con, "SELECT abs(p / lag(p) OVER (PARTITION BY s ORDER BY t) - 1) AS x FROM trades")
    return {
        "rows": rows,
        "symbols": symbols,
        "rows_per_symbol": per_symbol,
        "span_hours": round(span_h, 2),
        "mean_gap_ms": round(span_h * 3600 * 1000 / max(1, rows - 1), 1),
        "price_quartiles": _quantiles(con, "SELECT p AS x FROM trades"),
        "volume_quartiles": _quantiles(con, "SELECT v AS x FROM trades"),
        "price_step_quartiles": step,
        "duplicate_key_share": round(dup / rows, 5),
        "invalid_share": round(invalid / rows, 5),
    }


def documents(con, path: str) -> dict:
    con.execute(f"CREATE VIEW docs AS SELECT doc_id, string_split(text, ' ') AS toks FROM '{path}'")
    rows = con.execute("SELECT count(*) FROM docs").fetchone()[0]
    vocab = con.execute("SELECT count(DISTINCT w) FROM (SELECT unnest(toks) AS w FROM docs)").fetchone()[0]
    top = con.execute(
        "SELECT count(*) FROM (SELECT unnest(toks) AS w FROM docs) GROUP BY w ORDER BY 1 DESC"
    ).fetchall()
    total = sum(c for (c,) in top)
    dup = con.execute(f"SELECT count(*) - count(DISTINCT text) FROM '{path}'").fetchone()[0]
    return {
        "rows": rows,
        "tokens_quartiles": _quantiles(con, "SELECT len(toks) AS x FROM docs"),
        "vocabulary": vocab,
        "top_word_share": round(top[0][0] / total, 4),
        "least_word_share": round(top[-1][0] / total, 4),
        "exact_duplicate_share": round(dup / rows, 5),
    }


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print(__doc__, file=sys.stderr)
        return 2
    con = duckdb.connect()
    out = {
        "events": events(con, os.path.join(argv[0], "events.parquet")),
        "documents": documents(con, os.path.join(argv[0], "documents.parquet")),
    }
    print(json.dumps(out, indent=1, sort_keys=True, default=str))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
