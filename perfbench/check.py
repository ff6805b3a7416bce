"""Correctness gate helpers: reference frames built from the generator's
ground truth, and mismatch counts between what the program served and
the batch operators' answer over the same accepted rows."""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from real_time_financial_market_data_pipeline_spark.functions.timeutils import epoch_ms_to_timestamp

LATEST_COLS = ["symbol", "last_price", "last_volume", "last_trade_time", "price_change", "price_change_pct"]
GOLD_COLS = ["symbol", "window_start", "window_end", "open", "high", "low", "close", "volume", "trade_count", "vwap"]
# doubles are compared within REL_TOL: the ones the operators compute
# (vwap, price changes) depend on summation order in their last bits
REL_TOL = 1e-9


def trades_frame(spark, rows: list[dict]) -> DataFrame:
    """Wire records ({"s","p","v","t"}) as normalized trade rows."""
    pdf = pd.DataFrame(rows, columns=["s", "p", "v", "t"]).astype(
        {"p": "float64", "v": "int64", "t": "int64"}
    )
    wire = spark.createDataFrame(pdf, "s string, p double, v long, t long")
    ts = epoch_ms_to_timestamp(F.col("t"))
    return wire.select(
        F.col("s").alias("symbol"),
        F.col("p").alias("price"),
        F.col("v").alias("volume"),
        F.col("t").alias("timestamp"),
        ts.alias("event_time"),
        F.to_date(ts).alias("trade_date"),
    )


def rows_diff(got: list, want: list) -> int:
    """Multiset difference between two collected row lists, floats
    compared within REL_TOL."""

    def order(rows):
        split = [
            (tuple(v for v in r if not isinstance(v, float)), [v for v in r if isinstance(v, float)])
            for r in rows
        ]
        return sorted(split, key=lambda p: (repr(p[0]), [round(x, 4) for x in p[1]]))

    a, b = order(got), order(want)
    bad = abs(len(a) - len(b))
    for (ea, fa), (eb, fb) in zip(a, b):
        if ea != eb or len(fa) != len(fb) or not all(
            math.isclose(x, y, rel_tol=REL_TOL, abs_tol=REL_TOL) for x, y in zip(fa, fb)
        ):
            bad += 1
    return bad
