"""parquet_sink's per-batch shape: the write is the only Spark action of
a micro-batch (an extra action would re-run the batch's stateful plan),
an empty batch leaves no `batch_id=<n>` dir and no manifest entry, and a
crash between an empty batch's write and its removal is absorbed by the
replayed batch."""

from __future__ import annotations

import json
import os
import re

import pytest

from real_time_financial_market_data_pipeline_spark.sources.streaming import (
    read_doc_stream,
    read_trade_stream,
)
from real_time_financial_market_data_pipeline_spark.streaming import sinks
from real_time_financial_market_data_pipeline_spark.streaming.docpipeline import DocStreamJob
from real_time_financial_market_data_pipeline_spark.streaming.jobs import (
    LatestPricesStreamJob,
    MedallionStreamJob,
    gold_view,
)

T0 = 1_700_000_100_000  # fixed epoch ms (2023-11-14 22:15:00 UTC)

TRADES = [
    {"s": "AAPL", "p": 150.25, "v": 100, "t": T0},
    {"s": "AAPL", "p": 150.30, "v": 50, "t": T0 + 100},
    {"s": "AAPL", "p": 150.30, "v": 50, "t": T0 + 100},  # exact dup
    {"s": "AAPL", "p": 0.0, "v": 10, "t": T0 + 300},  # invalid
    {"s": "MSFT", "p": 380.0, "v": 200, "t": T0 + 400_000},
]


def _write_json_lines(path: str, rows: list[dict]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        for row in rows:
            fh.write(json.dumps(row) + "\n")


def _batch_dirs(path: str) -> list[str]:
    return sorted(d for d in os.listdir(path) if re.fullmatch(r"batch_id=\d+", d))


def _drain_gold(spark, feed: str, out: str):
    # no compaction: the post-drain fold would rename the layer's dirs
    job = MedallionStreamJob(out_dir=out, compact_every=None)
    return job.start(read_trade_stream(spark, feed))


@pytest.fixture(scope="module")
def medallion(spark, tmp_path_factory):
    """One crash-free chained drain over TRADES: (feed, out, manager)."""
    root = tmp_path_factory.mktemp("update_sink")
    feed, out = str(root / "feed"), str(root / "out")
    _write_json_lines(os.path.join(feed, "b0.json"), TRADES)
    mgr = _drain_gold(spark, feed, out)
    assert mgr.await_all(timeout_s=120)
    return feed, out, mgr


def _jobs_and_batches(spark, query) -> tuple[int, int]:
    jobs = len(spark.sparkContext.statusTracker().getJobIdsForGroup(str(query.runId)))
    return jobs, len(query.recentProgress)


def test_update_sinks_run_one_spark_job_per_batch(spark, tmp_path, medallion):
    """Every parquet_sink query runs exactly one Spark job per
    micro-batch, data-carrying and no-data batches alike."""
    feed, _, gold_mgr = medallion
    latest_mgr = LatestPricesStreamJob(out_dir=str(tmp_path / "latest")).start(
        read_trade_stream(spark, feed)
    )
    docs = str(tmp_path / "docs")
    text = "the quick brown fox jumps over the lazy dog and then it runs off to the hills"
    _write_json_lines(
        os.path.join(docs, "d0.json"),
        [
            {"doc_id": 1, "text": text, "lang": "en", "source": "a"},
            {"doc_id": 2, "text": text, "lang": "en", "source": "b"},  # exact dup
            {"doc_id": 3, "text": "!!! ??? !!!", "lang": "en", "source": "a"},
        ],
    )
    doc_mgr = DocStreamJob(out_dir=str(tmp_path / "doc_out")).start(read_doc_stream(spark, docs))
    assert latest_mgr.await_all(timeout_s=120) and doc_mgr.await_all(timeout_s=120)

    queries = {
        **{n: q for n, q in gold_mgr.queries.items() if "gold" in n},
        **latest_mgr.queries,
        **doc_mgr.queries,
    }
    assert set(queries) == {
        "chained_gold_5m",
        "chained_gold_1h",
        "latest_prices",
        "docs_raw",
        "docs_curated",
    }
    counts = {name: _jobs_and_batches(spark, q) for name, q in queries.items()}
    # the gold layers also ran their no-data (watermark) batch
    assert counts["chained_gold_5m"][1] >= 2, counts
    assert all(b >= 1 and j == b for j, b in counts.values()), f"(jobs, batches): {counts}"


def test_empty_batch_leaves_no_dir_and_its_crash_window_replays(
    spark, tmp_path, medallion, monkeypatch
):
    """The gold no-data batch writes nothing visible; a crash between
    its write and the removal of its dir is repaired by a plain restart,
    which converges to the crash-free result."""
    feed, twin_out, _ = medallion
    twin_gold = os.path.join(twin_out, "gold_5m")
    commits = os.path.join(twin_out, "_checkpoints", "chained_gold_5m", "commits")
    assert os.path.exists(os.path.join(commits, "1"))  # batch 1 ran and committed
    assert _batch_dirs(twin_gold) == ["batch_id=0"]
    assert sinks._read_reader_manifest(twin_gold) == ["batch_id=0"]

    out = str(tmp_path / "out")
    gold = os.path.join(out, "gold_5m")
    crash_dir = os.path.join(gold, "batch_id=1")
    rmtree = sinks.shutil.rmtree
    crashed = []

    def rmtree_crashing_once(path, *args, **kwargs):
        if str(path) == crash_dir and not crashed:
            crashed.append(path)
            raise OSError("simulated crash before the empty dir's removal")
        return rmtree(path, *args, **kwargs)

    monkeypatch.setattr(sinks.shutil, "rmtree", rmtree_crashing_once)
    with pytest.raises(Exception, match="simulated crash"):
        _drain_gold(spark, feed, out)
    for q in spark.streams.active:  # the sibling gold_1h query
        q.awaitTermination(120)
    assert crashed and os.path.isdir(crash_dir)
    assert spark.read.parquet(crash_dir).count() == 0
    assert sinks._read_reader_manifest(gold) == ["batch_id=0"]
    assert not os.path.exists(
        os.path.join(out, "_checkpoints", "chained_gold_5m", "commits", "1")
    )

    assert _drain_gold(spark, feed, out).await_all(timeout_s=120)
    assert _batch_dirs(gold) == ["batch_id=0"]
    assert sinks._read_reader_manifest(gold) == ["batch_id=0"]
    got = sorted(map(tuple, gold_view(spark, out).collect()))
    assert got and got == sorted(map(tuple, gold_view(spark, twin_out).collect()))
