"""Self-tests of the benchmark's pure helpers, its generator and its
BENCHMARK.json (no Spark).  Run: python3 -m pytest perfbench -q"""

from __future__ import annotations

import json
import os
import re

import pytest

import gen
import probes
from stats import another_cycle, failed_ratio, percentile, quartile_spread, refresh_time, self_time, union_length

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_median_always_reported():
    assert percentile([3.0], 50) == 3.0
    assert percentile([1.0, 2.0, 3.0, 4.0], 50) == 2.5
    assert percentile([], 50) is None


def test_p90_needs_ten_samples_beyond_it():
    assert percentile([float(i) for i in range(99)], 90) is None
    vals = [float(i) for i in range(100)]
    assert percentile(vals, 90) == pytest.approx(89.1)
    assert percentile([float(i) for i in range(19)], 50) == 9.0  # the median is exempt


def test_union_of_overlapping_intervals():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10), (2, 3)]) == 10
    assert union_length([(1, 1), (4, 2)]) == 0  # empty and reversed intervals count nothing


def test_self_time_subtracts_union_of_children_inside_parent():
    # children overlap each other and one sticks out of the parent
    assert self_time((0, 10), [(1, 4), (3, 6), (9, 12)]) == pytest.approx(10 - 5 - 1)
    assert self_time((0, 10), []) == 10
    assert self_time((0, 10), [(-5, 20)]) == 0


def test_tracer_self_times_follow_nesting():
    tr = probes.Tracer(True)
    tr.spans = [["drain", 0.0, 10.0, None], ["batch", 1.0, 4.0, 0], ["batch", 3.0, 6.0, 0]]
    self_s = tr.self_times()
    assert self_s["drain"] == pytest.approx(5.0)
    assert self_s["batch"] == pytest.approx(6.0)


def test_disabled_tracer_records_and_wraps_nothing():
    tr = probes.Tracer(False)

    class Owner:
        @staticmethod
        def f():
            return 1

    orig = Owner.f
    tr.wrap(Owner, "f", "f")
    with tr.span("x"):
        pass
    assert tr.spans == [] and Owner.f is orig


def test_tree_memory_counts_this_process():
    assert probes.tree_memory_mb() > 1.0  # this interpreter alone holds several MB


def test_steal_share():
    assert probes.steal_share([0] * 8, [10, 0, 5, 80, 0, 0, 0, 5]) == pytest.approx(0.05)
    assert probes.steal_share([1] * 8, [1] * 8) == 0.0
    assert len(probes.host_cpu_ticks()) == 8


def test_refresh_time_sums_each_panels_fastest_read():
    reads = [("a", 1.0), ("b", 2.0), ("a", 9.0), ("b", 2.5), ("a", 1.2), ("b", 2.1)]
    assert refresh_time(reads) == pytest.approx(1.0 + 2.0)  # the 9 s outlier is ignored


def test_failed_ratio():
    assert failed_ratio(0, 10) == 0.0
    assert failed_ratio(3, 12) == 0.25
    assert failed_ratio(0, 0) == 1.0  # nothing attempted is a failed run


def test_quartile_spread():
    assert quartile_spread([10.0] * 10) == 0.0
    assert quartile_spread([8.0, 9.0, 10.0, 11.0, 12.0]) == pytest.approx((11.5 - 8.5) / 10)


def test_self_check_catches_an_unseeded_generator():
    counter = iter(range(100))
    _, _, ok = gen.generate(lambda s: [[{"n": next(counter)}]], lambda res: res, 1)
    assert not ok
    _, _, ok = gen.generate(lambda s: [[{"n": 0}]], lambda res: res, 1)
    assert not ok  # ignores its seed


def test_trade_feed_is_seeded_and_counts_its_injections():
    (files, m), times, ok = gen.generate(lambda s: gen.trade_feed(s, 2000, 40, 4), lambda res: res[0], 7)
    assert ok and len(times) == 3
    rows = [r for f in files for r in f]
    assert len(rows) == m["rows"] == m["on_time"] + m["duplicates"] + m["invalid"] + m["late"]
    invalid = [r for r in rows if r["v"] <= 0 or not 0 < r["p"] <= 1e6]
    assert len(invalid) == m["invalid"] > 0
    late = [r for r in rows if r["t"] < m["late_before_ms"]]
    assert len(late) == m["late"] > 0
    assert not [r for r in files[0] if r["t"] < m["late_before_ms"]]  # never in the first file
    keys = [(r["s"], r["t"]) for r in rows]
    assert len(keys) - len(set(keys)) == m["duplicates"] > 0
    on_time = [r["t"] for r in rows if r["t"] >= m["late_before_ms"] and r not in invalid]
    assert on_time == sorted(on_time)  # event-time ordered across files
    assert all(0 < r["v"] <= gen.SF_VOLUME_MAX for r in rows if r not in invalid)


def test_doc_feed_is_seeded_and_plants_after_their_source():
    (docs, delta, m), _, ok = gen.generate(
        lambda s: gen.doc_feed(s, 200, 4, 10, 5), lambda res: [res[0], res[1]], 3
    )
    assert ok
    rows = docs + delta
    assert len(rows) == m["docs"] == 210 and len(m["copy_ids"]) == 5
    assert len(m["near_ids"]) == round(gen.SF_NEAR_DUP_SHARE * 200) + 1
    text = {d["doc_id"]: d["text"] for d in rows}
    first_id = {}
    for d in rows:
        first_id.setdefault(d["text"], d["doc_id"])
    for cid in m["copy_ids"]:
        assert first_id[text[cid]] < cid
    for nid in m["near_ids"]:
        src = text[nid].rsplit(" ", 1)[0]
        assert text[nid].endswith(" " + gen.NEAR_DUP_TOKEN) and first_id[src] < nid
        assert len(src.split()) >= gen.NEAR_DUP_MIN_TOKENS
    planted = set(m["copy_ids"]) | set(m["near_ids"])
    sources = {first_id[text[i]] for i in m["copy_ids"]} | {first_id[text[i].rsplit(" ", 1)[0]] for i in m["near_ids"]}
    assert not sources & (planted | set(range(5)))  # plain documents outside the benchmark set
    lengths = [len(d["text"].split()) for d in docs if d["doc_id"] not in planted]
    assert min(lengths) >= gen.SF_TOKENS[0] and max(lengths) <= gen.SF_TOKENS[1]


def test_another_cycle_fits_cycles_in_the_budget():
    assert another_cycle(0.0, [], 1.0)  # the first cycle always runs
    assert another_cycle(25.0, [20.0], 50.0)
    assert not another_cycle(26.0, [20.0, 30.0], 50.0)


def test_benchmark_json_matches_contract_and_catalog():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]] + [
        w["name"] for w in bench["workloads"]
    ]
    assert all(name.match(n) for n in names) and len(names) == len(set(names))
    assert bench["per_layer"] == [
        {"name": n, "unit": probes.layer_unit(n), "better": probes.layer_better(n)}
        for n in probes.layer_names()
    ]
    assert 2 <= len(bench["workloads"]) <= 8 and 1 <= len(bench["per_layer"]) <= 128
    setup = [m for m in bench["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert all(m["bound"] <= 0.25 for m in bench["end_to_end"])
    assert setup[0]["bound"] == max(m["bound"] for m in bench["end_to_end"])
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in bench["workloads"])
    from run import WORKLOADS

    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)


def test_expected_corpus_models_the_ingest_dedup():
    from curate import expected_corpus

    fp = {1: "a", 2: "a", 3: "b", 4: "b", 5: "c", 6: "d"}
    # 2 copies 1 in its batch, 4 copies a kept document, 5 is a near
    # duplicate of kept 1, 6 a near duplicate of 2, which was never kept
    assert expected_corpus([[1, 2, 3], [4, 5, 6]], fp, {5: 1, 6: 2}) == {1, 3, 6}
