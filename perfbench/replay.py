"""trade_replay — closed loop, backfill shape, then the dashboard reads
it publishes.

Setup writes a seeded trade feed in sf0.1's shape (many symbol keys;
duplicates, invalid rows and beyond-watermark late rows injected) as
event-time-ordered JSON files.  Each cycle then

1. drains it with the default chained `MedallionStreamJob` and then
   `LatestPricesStreamJob` (`availableNow`: one large batch per layer),
   including their post-drain compaction;
2. publishes `gold_5m` and `latest_prices` bucketed;
3. reads the panel mix once per round: Q5 latest bars, Q6/Q7 volume
   by symbol, day-over-day, Q8 from the published table and from
   `latest_prices_view`, a `gold_view` poll and the Q10 silver lookup.

Cycles repeat while another one is expected to end within the run's
seconds (at least one runs).  The last cycle's outputs go through the
correctness gate.
"""

from __future__ import annotations

import os
import random
import time

from pyspark.sql import functions as F

import check
import gen
import probes
from stats import another_cycle, percentile, refresh_time

from real_time_financial_market_data_pipeline_spark.operators.latest import latest_prices
from real_time_financial_market_data_pipeline_spark.operators.ohlcv import ohlcv
from real_time_financial_market_data_pipeline_spark.pipeline.materialize import (
    day_over_day_from_bucketed,
    latest_bars_from_bucketed,
    volume_by_symbol_from_bucketed,
)
from real_time_financial_market_data_pipeline_spark.sources.streaming import read_trade_stream
from real_time_financial_market_data_pipeline_spark.streaming.jobs import (
    LatestPricesStreamJob,
    MedallionStreamJob,
    gold_view,
    latest_prices_view,
)

N_TRADES, N_SYMBOLS, N_FILES = 20_000, 300, 8
WARM = (800, 20, 2)
ROUNDS = 2  # panel-mix rounds per cycle; refresh_ms takes each panel's fastest
LAYER_TIMEOUT_S = 60  # per drained layer; a layer takes a few seconds
QUERY_NAMES = {
    "chained_bronze": "bronze",
    "chained_silver": "silver",
    "chained_dead_letters": "dead_letters",
    "chained_gold_5m": "gold_5m",
    "chained_gold_1h": "gold_1h",
    "latest_prices": "latest_prices",
}


def panels(spark, out: str, gold_table: str, latest_table: str, sym: str, day: str) -> dict:
    """Panel name -> DataFrame builder over one drained output dir."""
    by_sym = F.col("symbol") == sym
    return {
        "latest_bars": lambda: latest_bars_from_bucketed(spark, gold_table).filter(by_sym),
        "volume_by_symbol": lambda: volume_by_symbol_from_bucketed(spark, gold_table, on_date=day),
        "day_over_day": lambda: day_over_day_from_bucketed(spark, gold_table).filter(by_sym),
        "latest_prices_table": lambda: spark.table(latest_table).select(*check.LATEST_COLS),
        "latest_prices_view": lambda: latest_prices_view(spark, out).select(*check.LATEST_COLS),
        "gold_view": lambda: gold_view(spark, out)
        .filter(by_sym)
        .orderBy(F.col("window_start").desc())
        .limit(50)
        .select(*check.GOLD_COLS),
        "silver_lookup": lambda: silver_lookup(spark.read.parquet(os.path.join(out, "silver")), sym, day),
    }


def silver_lookup(silver, sym: str, day: str):
    return (
        silver.filter((F.col("symbol") == sym) & (F.col("trade_date") == F.lit(day).cast("date")))
        .orderBy(F.col("event_time").desc())
        .limit(100)
        .select("symbol", "price", "volume", "event_time")
    )


def write_feed(path: str, files: list[list[dict]]) -> None:
    os.makedirs(path)
    for i, rows in enumerate(files):
        gen.write_jsonl(os.path.join(path, f"part-{i:05d}.json"), rows, 1_000_000_000 + i)


def cycle(r, feed: str, tag: str, choices: list[tuple[str, str]]) -> dict:
    spark, tr = r.spark, r.tracer
    out = os.path.join(r.work, f"out-{tag}")
    t0 = time.perf_counter()
    job = MedallionStreamJob(out_dir=out)
    with tr.span("job.start"):
        mgr = job.start(read_trade_stream(spark, feed), await_timeout_s=LAYER_TIMEOUT_S)
    t_gold = time.perf_counter()
    lp = LatestPricesStreamJob(out_dir=out)
    with tr.span("job.start"):
        mgr_lp = lp.start(read_trade_stream(spark, feed), await_timeout_s=LAYER_TIMEOUT_S)
    t_drained = time.perf_counter()
    r.count(True, "drain")
    gold_table, latest_table = f"gold_5m_{tag}", f"latest_prices_{tag}"
    with tr.span("publish_gold"):
        job.publish_gold_bucketed(spark, "gold_5m", table=gold_table)
    with tr.span("publish_latest"):
        lp.publish_bucketed(spark, table=latest_table)
    t_published = time.perf_counter()

    reads: list[tuple[str, float]] = []
    results: list[tuple[str, str, str, list]] = []
    for i, (sym, day) in enumerate(choices):
        for name, build in panels(spark, out, gold_table, latest_table, sym, day).items():
            rows, secs = r.panel(name, build, f"panel:{tag}:{i}:{name}")
            reads.append((name, secs))
            results.append((name, sym, day, rows))
    return {
        "out": out,
        "drain_s": t_drained - t0,
        "visible_s": [t_gold - t0, t_drained - t0],
        "publish_s": t_published - t_drained,
        "reads": reads,
        "read_wall_s": time.perf_counter() - t_published,
        "results": results,
        "queries": {**mgr.queries, **mgr_lp.queries},
    }


def run(r) -> probes.Outcome:
    out = probes.Outcome()
    (files, manifest), out.gen_s, ok = gen.generate(
        lambda s: gen.trade_feed(s, N_TRADES, N_SYMBOLS, N_FILES), lambda res: res[0], r.seed
    )
    r.count(ok, "generator self-check")
    feed = os.path.join(r.work, "feed")
    write_feed(feed, files)

    rng = random.Random(f"panels:{r.seed}")
    symbols = sorted({row["s"] for f in files for row in f if row["t"] >= manifest["late_before_ms"]})
    days = ["2024-01-01", "2024-01-02"]
    choices = [(rng.choice(symbols), rng.choice(days)) for _ in range(ROUNDS)]

    t = time.perf_counter()
    warm_files, _ = gen.trade_feed(r.seed + 1_000_003, *WARM)
    write_feed(os.path.join(r.work, "warm-feed"), warm_files)
    with r.tracer.span("warm_up"):
        cycle(r, os.path.join(r.work, "warm-feed"), "warm", choices[:1])
    out.warm_s = time.perf_counter() - t

    if r.traced:
        _wrap(r.tracer)
    clock = probes.Meter()
    cycles = []
    while another_cycle(time.time() - clock.t0, [c["cycle_s"] for c in cycles], r.seconds):
        t = time.perf_counter()
        with r.tracer.span("cycle"):
            cycles.append(cycle(r, feed, f"c{len(cycles)}", choices))
        cycles[-1]["cycle_s"] = time.perf_counter() - t
    cpu_s = clock.stop(out) / len(cycles)
    peak = clock.peak_rss_mb
    r.tracer.unwrap_all()

    with r.tracer.span("verify"):
        verify(r, cycles[-1], files, manifest)

    rows = manifest["rows"]
    rates = [rows / c["drain_s"] for c in cycles]
    visible = [v for c in cycles for v in c["visible_s"]]
    reads = [x for c in cycles for x in c["reads"]]
    secs = [s for _, s in reads]
    read_wall = sum(c["read_wall_s"] for c in cycles)
    out.end_to_end = {
        "ingest_per_s": (percentile(rates, 50), "1/s"),
        "visible_p50_s": (percentile(visible, 50), "s"),
        "cpu_s": (cpu_s, "s"),
        "peak_rss_mb": (peak, "MB"),
    }
    p90 = percentile(secs, 90)
    out.lines = [
        ("trades_per_s", percentile(rates, 50), "trades/s", len(rates)),
        ("visible_p50_s", percentile(visible, 50), "s", len(visible)),
        ("query_p50_ms", 1000 * percentile(secs, 50), "ms", len(secs)),
        ("query_p90_ms", None if p90 is None else 1000 * p90, "ms", len(secs)),
        ("queries_per_s", len(secs) / read_wall, "1/s", len(secs)),
        ("refresh_ms", 1000 * refresh_time(reads), "ms", len(reads)),
        ("cpu_s", cpu_s, "s", len(cycles)),
        ("peak_rss_mb", peak, "MB", 1),
    ]
    if r.traced:
        out.layers = layers(r, cycles, manifest, out.window)
    return out


def _wrap(tr) -> None:
    """Traced run: spans around the package's compaction entry points,
    which the jobs call inside start() and inside their sinks."""
    from real_time_financial_market_data_pipeline_spark.streaming import sinks

    tr.wrap(sinks, "compact_latest_state", "compact")
    tr.wrap(sinks, "compact_gold_bucketed", "publish")


def verify(r, c: dict, files: list[list[dict]], manifest: dict) -> None:
    """The correctness gate.  Each side is collected once and compared in
    Python, so the gate costs a few Spark jobs, not a few per check."""
    spark = r.spark
    out = c["out"]
    raw_rows = [row for f in files for row in f]
    late_cut = manifest["late_before_ms"]
    seen, on_time = set(), []
    for row in raw_rows:
        key = (row["s"], row["t"])
        if row["t"] >= late_cut and row["v"] > 0 and 0 < row["p"] <= 1e6 and key not in seen:
            seen.add(key)
            on_time.append(row)

    r.check("bronze rows", abs(spark.read.parquet(os.path.join(out, "bronze")).count() - manifest["rows"]))
    r.check("dead_letters = injected invalid",
            abs(spark.read.parquet(os.path.join(out, "dead_letters")).count() - manifest["invalid"]))
    silver = [
        tuple(x)
        for x in spark.read.parquet(os.path.join(out, "silver"))
        .select("symbol", "price", "volume", "timestamp").collect()
    ]
    r.check("silver on-time rows", check.rows_diff(
        [x for x in silver if x[3] >= late_cut], [(x["s"], x["p"], x["v"], x["t"]) for x in on_time]))
    kept_late = [dict(zip("spvt", x)) for x in silver if x[3] < late_cut]
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for rec in probes.progress_records(c["queries"]["chained_silver"])
        for op in rec.get("stateOperators", [])
    )
    r.check("late rows kept + dropped = injected", abs(len(kept_late) + dropped - manifest["late"]))

    # the batch operators over the rows silver accepted (gold) and over
    # every row the job read (latest prices), collected once each
    accepted = check.trades_frame(spark, on_time + kept_late).cache()
    ref_5m = ohlcv(accepted, "5 minutes").select(*check.GOLD_COLS).cache()
    try:
        ref_gold = {"gold_5m": ref_5m.collect(),
                    "gold_1h": ohlcv(accepted, "60 minutes").select(*check.GOLD_COLS).collect()}
        ref_latest = latest_prices(check.trades_frame(spark, raw_rows)).select(*check.LATEST_COLS).collect()
        for layer, ref in ref_gold.items():
            got = gold_view(spark, out, layer).select(*check.GOLD_COLS).collect()
            r.check(f"{layer} = batch ohlcv", check.rows_diff(got, ref))
        got = latest_prices_view(spark, out).select(*check.LATEST_COLS).collect()
        r.check("latest_prices = batch latest_prices", check.rows_diff(got, ref_latest))

        ref_5m.createOrReplaceTempView("ref_gold_5m")
        last_round = c["results"][-len(panels(spark, out, "", "", "", "")):]
        for name, sym, day, rows in last_round:
            if name.startswith("latest_prices_"):
                ref = ref_latest
            else:
                ref = _reference_panel(spark, name, sym, day, ref_5m, accepted).collect()
            r.check(f"panel {name} = batch recompute", check.rows_diff(rows, ref))
    finally:
        ref_5m.unpersist()
        accepted.unpersist()


def _reference_panel(spark, name, sym, day, ref_gold, accepted):
    by_sym = F.col("symbol") == sym
    if name == "latest_bars":
        return latest_bars_from_bucketed(spark, "ref_gold_5m").filter(by_sym)
    if name == "volume_by_symbol":
        return volume_by_symbol_from_bucketed(spark, "ref_gold_5m", on_date=day)
    if name == "day_over_day":
        return day_over_day_from_bucketed(spark, "ref_gold_5m").filter(by_sym)
    if name == "gold_view":
        return ref_gold.filter(by_sym).orderBy(F.col("window_start").desc()).limit(50)
    return silver_lookup(accepted, sym, day)


def layers(r, cycles: list[dict], manifest: dict, window) -> dict[str, float]:
    sc = r.spark.sparkContext
    lay: dict[str, float] = {}
    recs_all = []
    for qname, short in QUERY_NAMES.items():
        recs = [rec for c in cycles for rec in probes.progress_records(c["queries"][qname])]
        recs_all += recs
        jobs = stages = 0
        for c in cycles:
            j, s = probes.group_counts(sc, str(c["queries"][qname].runId))
            jobs, stages = jobs + j, stages + s
        for k, v in probes.fold_query(recs, jobs, stages).items():
            lay[f"{short}.{k}"] = v
    durs = [rec["durationMs"].get("triggerExecution", 0) / 1000 for rec in recs_all]
    lay["jobs.batch_p90_s"] = percentile(durs, 90) or 0.0
    lay.update(unattributed(r, recs_all, len(cycles)))
    out = cycles[-1]["out"]
    dead = r.spark.read.parquet(os.path.join(out, "dead_letters")).count()
    lay["validate.dead_rows"] = dead
    lay["validate.valid_ratio"] = 1 - dead / manifest["rows"]
    spans = r.tracer.spans  # compactions inside a publish count as publish time
    lay["sinks.compact_s"] = sum(
        s[2] - s[1] for s in r.tracer.closed()
        if s[0] == "compact" and (s[3] is None or spans[s[3]][0] != "publish")
    ) / len(cycles)
    lay["sinks.publish_s"] = sum(c["publish_s"] for c in cycles) / len(cycles)
    lay["sinks.live_dirs"] = sum(
        1
        for layer in ("gold_5m", "gold_1h", "latest_prices")
        for d in os.listdir(os.path.join(out, layer))
        if d.startswith("batch_id=")
    )
    lay.update(serving_layers(
        r, [(n, s) for c in cycles for n, s in c["reads"]], lambda g: not g.startswith("panel:warm:"), window
    ))
    lay["gen.rows"] = manifest["rows"]
    return lay


def unattributed(r, recs: list[dict], n_cycles: int) -> dict[str, float]:
    """Drain wall time (the timed `job.start` spans) that no query batch
    covers, per cycle and as a share of the drain time."""
    t0 = min(rec["start"] for rec in recs) if recs else 0.0
    drains = [(s[1], s[2]) for s in r.tracer.closed() if s[0] == "job.start" and s[2] > t0]
    uncovered = sum(probes.unattributed(w, recs) for w in drains)
    wall = sum(e - b for b, e in drains)
    return {
        "jobs.unattributed_s": uncovered / n_cycles,
        "jobs.unattributed_share": uncovered / wall if wall else 0.0,
    }


def serving_layers(r, reads: list[tuple[str, float]], group_ok, window) -> dict[str, float]:
    """serving.* metrics: per-panel p50 of the timed reads, plus (from
    the traced panel spans inside `window` and the job groups `group_ok`
    accepts) the build/exec split and Spark jobs per read."""
    lay: dict[str, float] = {"serving.refresh_ms": 1000 * refresh_time(reads)}
    for name in sorted({n for n, _ in reads}):
        lay[f"serving.{name}.p50_ms"] = 1000 * percentile([s for n, s in reads if n == name], 50)
    spans = [s for s in r.tracer.closed("panel.") if window[0] <= s[1] < window[1]]
    for part in ("build", "exec"):
        ds = [s[2] - s[1] for s in spans if s[0] == f"panel.{part}"]
        lay[f"serving.{part}_ms_p50"] = 1000 * (percentile(ds, 50) or 0.0)
    sc = r.spark.sparkContext
    jobs = [probes.group_counts(sc, g)[0] for g in r.groups if group_ok(g)]
    lay["serving.jobs_per_query"] = sum(jobs) / len(jobs) if jobs else 0.0
    return lay
