"""Unit pins for bench.py's spread-aware normalized-regression
classification (round-15 VERDICT task 2).  Pure-Python — no
SparkSession; `classify_normalized` is deterministic arithmetic and
this is where the round-16 methodology change is executed rather than
argued: the round-15 failure mode (a point calibration ratio whose
intra-day swing exceeds the deltas it adjudicates, flipping the same
code between 1.21x and 0.93x) must land in the UNSTABLE bucket, not in
either verdict list."""

from __future__ import annotations

import bench


def _hc(samples: list[float]) -> dict:
    s = sorted(samples)
    n = len(s)
    med = s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2
    return {
        "samples": samples,
        "n_samples": n,
        "median_s": round(med, 3),
        "min_s": s[0],
        "max_s": s[-1],
        "spread_ratio": round(s[-1] / s[0], 3),
        "mean_s": round(sum(s) / n, 3),
    }


def test_no_calibration_either_side_yields_null_verdicts():
    t, p = {"q": 2.0}, {"q": 1.0}
    assert bench.classify_normalized(t, p, None, None) == (None, None, [])
    assert bench.classify_normalized(t, p, _hc([0.6]), None) == (None, None, [])
    assert bench.classify_normalized(t, p, None, {"mean_s": 0.6}) == (
        None,
        None,
        [],
    )


def test_robust_regression_survives_the_slowest_probe():
    # probes 0.6-0.66 vs prev 0.6: even normalized by ratio_hi=1.1 the
    # entry is 2.0/1.1 = 1.82x prev — a real regression at every
    # plausible host-speed reading
    ratio, robust, unstable = bench.classify_normalized(
        {"q": 2.0}, {"q": 1.0}, _hc([0.6, 0.62, 0.66]), _hc([0.6])
    )
    assert ratio == round(0.62 / 0.6, 3)
    assert [r[0] for r in robust] == ["q"]
    assert robust[0][1] == 1.0 and abs(robust[0][2] - 2.0 / ratio) < 0.01
    assert unstable == []


def test_flip_across_probe_range_lands_in_unstable_not_either_list():
    # the round-15 shape: entry at 1.2x prev raw; probe range wide
    # enough (0.55-0.70 vs prev 0.6) that normalizing by the fastest
    # probe says "regressed" (1.2/0.917=1.31) and by the slowest says
    # "fine" (1.2/1.167=1.03) — the calibration cannot adjudicate it
    ratio, robust, unstable = bench.classify_normalized(
        {"q": 1.2}, {"q": 1.0}, _hc([0.55, 0.60, 0.70]), _hc([0.6])
    )
    assert robust == []
    assert unstable == ["q"]


def test_uniform_host_slowdown_self_adjudicates():
    # host 25% slower, tight probes, every entry 25% slower raw: the
    # normalized verdicts exonerate all of them
    prev_q = {"a": 1.0, "b": 4.0}
    timings = {k: v * 1.25 for k, v in prev_q.items()}
    ratio, robust, unstable = bench.classify_normalized(
        timings, prev_q, _hc([0.75, 0.75, 0.75]), _hc([0.6])
    )
    assert ratio == 1.25
    assert robust == [] and unstable == []


def test_prev_payload_with_only_mean_is_accepted():
    # r14/r15 payloads predate the interleaved fields; median_s falls
    # back to mean_s on the PREV side
    ratio, robust, _ = bench.classify_normalized(
        {"q": 2.0}, {"q": 1.0}, _hc([0.6, 0.6, 0.6]), {"mean_s": 0.6}
    )
    assert ratio == 1.0
    assert [r[0] for r in robust] == ["q"]


def test_tiny_entries_and_new_entries_are_ignored():
    ratio, robust, unstable = bench.classify_normalized(
        {"tiny": 1.0, "new_entry": 9.9},
        {"tiny": 0.04},  # <= 0.05s floor; new_entry absent from prev
        _hc([0.6]),
        _hc([0.6]),
    )
    assert robust == [] and unstable == []


def test_robust_list_sorted_by_normalized_ratio_and_capped():
    prev_q = {f"q{i}": 1.0 for i in range(8)}
    timings = {f"q{i}": 2.0 + i * 0.1 for i in range(8)}
    _, robust, _ = bench.classify_normalized(
        timings, prev_q, _hc([0.58, 0.6, 0.62]), _hc([0.6])
    )
    assert len(robust) == 5
    assert [r[0] for r in robust] == ["q7", "q6", "q5", "q4", "q3"]


def test_streaming_entries_normalized_by_the_streaming_probe():
    # the round-16 A/B finding, executed: a drain 21% slower raw while
    # the shuffle probe is flat is a FALSE regression when the
    # streaming probe shows the host draining 21% slower — per-class
    # normalization exonerates it; the same timings WITHOUT a streaming
    # probe (r16's own baseline round) still flag it, preserving the
    # old behavior until history exists
    cpu = _hc([0.6, 0.6, 0.6])
    t = {"incremental_dedup_drain": 24.2, "pricing_summary": 1.0}
    p = {"incremental_dedup_drain": 20.0, "pricing_summary": 1.0}
    _, robust, unstable = bench.classify_normalized(
        t, p, cpu, cpu,
        streaming_calibration=_hc([1.68, 1.70, 1.72]),
        prev_streaming_calibration=_hc([1.39, 1.40, 1.42]),
    )
    assert robust == [] and unstable == []
    _, robust, _ = bench.classify_normalized(t, p, cpu, cpu)
    assert [r[0] for r in robust] == ["incremental_dedup_drain"]


def test_cpu_entries_unaffected_by_the_streaming_probe():
    # a CPU-bound entry regression must not be laundered by streaming
    # drift: only streaming-classed names use the streaming ratio
    cpu = _hc([0.6, 0.6, 0.6])
    _, robust, unstable = bench.classify_normalized(
        {"pricing_summary": 1.3},
        {"pricing_summary": 1.0},
        cpu,
        cpu,
        streaming_calibration=_hc([1.8, 1.8, 1.8]),
        prev_streaming_calibration=_hc([1.4, 1.4, 1.4]),
    )
    assert [r[0] for r in robust] == ["pricing_summary"]
    assert unstable == []


def test_streaming_classifier_names():
    for name in ("streaming_medallion_10batches", "streaming_quote_enrich",
                 "curated_pipeline_drain", "incremental_dedup_drain",
                 "latest_prices_stream_drain"):
        assert bench.is_streaming_entry(name), name
    for name in ("curated_pipeline_finalize", "ohlcv_1h", "pricing_summary",
                 "latest_prices_publish_bucketed"):
        assert not bench.is_streaming_entry(name), name


def test_streaming_probe_missing_on_either_side_falls_back_to_cpu():
    cpu_slow = _hc([0.75, 0.75, 0.75])  # host 25% slower per CPU probe
    t = {"incremental_dedup_drain": 25.0}
    p = {"incremental_dedup_drain": 20.0}
    for s, ps in ((None, _hc([1.4])), (_hc([1.7]), None), (None, None)):
        _, robust, unstable = bench.classify_normalized(
            t, p, cpu_slow, _hc([0.6]),
            streaming_calibration=s, prev_streaming_calibration=ps,
        )
        assert robust == [] and unstable == []  # exonerated via CPU ratio


def test_derive_round_env_override_and_artifact_derivation(monkeypatch):
    # the hand-bumped constant silently stayed at 10 through round 11
    # (r12 VERDICT task 1); the derived form must track the newest
    # committed driver artifact + 1 and honor the env override
    monkeypatch.setenv("BENCH_ROUND", "42")
    assert bench._derive_round() == 42
    monkeypatch.setenv("BENCH_ROUND", "not-a-number")
    derived = bench._derive_round()
    import glob
    import os
    import re

    here = os.path.dirname(os.path.abspath(bench.__file__))
    rounds = [
        int(m.group(1))
        for p in glob.glob(os.path.join(here, "BENCH_r*.json"))
        if (m := re.search(r"BENCH_r(\d+)\.json$", p))
    ]
    assert rounds, "driver artifacts expected in the repo root"
    assert derived == max(rounds) + 1


def test_degenerate_probe_widens_by_historical_spread():
    # round-16 ADVICE (low): a single-sample current probe must not
    # collapse to the r15 point-ratio failure mode.  When the PREV
    # payload carries an observed spread, the range is widened to it
    # and classification proceeds — a 2x regression survives even the
    # widened slow end (robust), a borderline 1.15x flips across the
    # widened range (unstable)
    hc_one = _hc([0.6])
    prev = _hc([0.55, 0.6, 0.66])  # spread 1.2 -> widen by sqrt(1.2)
    _, robust, unstable = bench.classify_normalized(
        {"big": 2.0, "borderline": 1.15},
        {"big": 1.0, "borderline": 1.0},
        hc_one,
        prev,
    )
    assert [r[0] for r in robust] == ["big"]
    assert unstable == ["borderline"]


def test_degenerate_probe_without_history_never_emits_robust():
    # no historical spread either (prev is itself a point probe):
    # nothing can be "robust across the probe range" — any entry
    # regressed under either the raw or the point-normalized reading
    # routes to unstable, clean entries stay exonerated
    ratio, robust, unstable = bench.classify_normalized(
        {"regressed": 2.0, "clean": 1.05},
        {"regressed": 1.0, "clean": 1.0},
        _hc([0.6]),
        _hc([0.6]),
    )
    assert ratio == 1.0
    assert robust == []
    assert unstable == ["regressed"]


def test_degenerate_probe_raw_regression_not_laundered_by_point_ratio():
    # host "30% slower" per a SINGLE probe sample with no history: a
    # 1.2x raw regression point-normalizes to 0.92x, but a one-sample
    # probe cannot certify that exoneration — unstable, not silent
    _, robust, unstable = bench.classify_normalized(
        {"q": 1.2}, {"q": 1.0}, _hc([0.78]), {"mean_s": 0.6}
    )
    assert robust == []
    assert unstable == ["q"]


def test_multi_sample_probe_with_tied_samples_is_not_degenerate():
    # n>=2 samples that tie are an OBSERVED tight range from
    # interleaved probes, not one-probe blindness: classification is
    # unchanged from the pre-fix behavior
    _, robust, unstable = bench.classify_normalized(
        {"q": 2.0}, {"q": 1.0}, _hc([0.6, 0.6, 0.6]), _hc([0.6])
    )
    assert [r[0] for r in robust] == ["q"]
    assert unstable == []


def test_needs_third_rep_trigger_rule():
    # returns the trigger name (recorded in the digest) — "" when
    # min-of-2 stands; "disagree" wins when both triggers apply
    assert bench.needs_third_rep([8.0, 24.5]) == "disagree"
    assert bench.needs_third_rep([24.0, 25.1], [1.311, 3.803]) == "probe_burst"
    assert bench.needs_third_rep([8.0, 24.5], [1.311, 3.803]) == "disagree"
    assert bench.needs_third_rep([8.0, 9.0]) == ""
    # (a) the two drain samples disagree >1.5x
    assert bench.needs_third_rep([8.0, 24.5])
    assert not bench.needs_third_rep([8.0, 9.0])
    assert not bench.needs_third_rep([2.0, 3.0])  # exactly 1.5: strict >
    assert not bench.needs_third_rep([0.0, 5.0])  # zero-sample guard
    assert not bench.needs_third_rep([8.0])  # single sample: no verdict
    # (b) the adjacent streaming probe caught a burst — the r16 driver
    # shape: drains agree (both burst-inflated), probes [1.311, 3.803]
    assert bench.needs_third_rep([24.0, 25.1], [1.311, 3.803])
    assert not bench.needs_third_rep([8.0, 8.5], [1.311, 1.122])
    assert not bench.needs_third_rep([8.0, 8.5], [3.8])  # 1 probe: no base
    assert not bench.needs_third_rep([8.0, 8.5], [1.0, 2.0])  # exactly 2x
    assert not bench.needs_third_rep([8.0, 8.5], [])
    # min-based baseline, not median: with 2 samples the median is
    # contaminated when one sample IS the burst
    assert bench.needs_third_rep([8.0, 8.5], [1.3, 1.31, 3.9])


def test_summarize_calibration_shape_and_edges():
    assert bench.summarize_calibration([]) is None
    one = bench.summarize_calibration([0.7])
    assert one["median_s"] == 0.7 and one["spread_ratio"] == 1.0
    assert one["n_samples"] == 1
    s = bench.summarize_calibration([0.8, 0.5, 0.6, 0.7])
    assert s["median_s"] == 0.65  # even count: mean of middle two
    assert s["min_s"] == 0.5 and s["max_s"] == 0.8
    assert s["spread_ratio"] == 1.6
    assert s["start_s"] == 0.8 and s["end_s"] == 0.7  # insertion order
    assert s["samples"] == [0.8, 0.5, 0.6, 0.7]  # raw order preserved


# ---- property pins (hypothesis): the classifier's algebraic contract ----

from hypothesis import assume, given, settings
from hypothesis import strategies as st

_sample = st.floats(min_value=0.2, max_value=2.0, allow_nan=False)
_timing = st.floats(min_value=0.06, max_value=100.0, allow_nan=False)


@st.composite
def _calibrations(draw):
    return _hc(draw(st.lists(_sample, min_size=1, max_size=6)))


@given(
    prev_t=_timing,
    cur_t=_timing,
    hc=_calibrations(),
    prev_hc=_calibrations(),
)
@settings(max_examples=200, deadline=None)
def test_property_verdicts_are_exclusive_and_exhaustive(
    prev_t, cur_t, hc, prev_hc
):
    # an entry is robust, unstable, or exonerated — never two at once,
    # and robust implies regressed at EVERY ratio in [lo, hi].
    # Single-sample probes take the degenerate branch (separate
    # property below) — this contract is about OBSERVED ranges.
    assume(hc["n_samples"] >= 2)
    ratio, robust, unstable = bench.classify_normalized(
        {"q": cur_t}, {"q": prev_t}, hc, prev_hc
    )
    names_r = [r[0] for r in robust]
    assert not (set(names_r) & set(unstable))
    prev_cal = prev_hc["median_s"]
    if "q" in names_r:
        assert cur_t / (hc["max_s"] / prev_cal) > prev_t * 1.10
    elif "q" in unstable:
        assert cur_t / (hc["min_s"] / prev_cal) > prev_t * 1.10
        assert cur_t / (hc["max_s"] / prev_cal) <= prev_t * 1.10
    else:
        assert cur_t / (hc["min_s"] / prev_cal) <= prev_t * 1.10


@given(
    prev_t=_timing,
    cur_t=_timing,
    hc=_calibrations(),
    prev_hc=_calibrations(),
    scale=st.floats(min_value=0.25, max_value=4.0),
)
@settings(max_examples=200, deadline=None)
def test_property_uniform_host_scaling_is_invariant(
    prev_t, cur_t, hc, prev_hc, scale
):
    # scaling this round's timings AND every probe sample by the same
    # host-speed factor must not change any verdict — that is the
    # entire point of calibration normalization.  Holds only for
    # probes with an observed range: the degenerate (single-sample)
    # branch keeps a RAW-reading check by design — a point probe must
    # not be able to launder a raw regression — and raw readings are
    # not host-scaling-invariant.
    assume(hc["n_samples"] >= 2)
    base = bench.classify_normalized({"q": cur_t}, {"q": prev_t}, hc, prev_hc)
    scaled_hc = _hc([round(s * scale, 6) for s in hc["samples"]])
    scaled = bench.classify_normalized(
        {"q": cur_t * scale}, {"q": prev_t}, scaled_hc, prev_hc
    )
    assert [r[0] for r in (base[1] or [])] == [r[0] for r in (scaled[1] or [])]
    assert base[2] == scaled[2]


@given(
    prev_t=_timing,
    cur_t=_timing,
    sample=_sample,
    prev_sample=_sample,
)
@settings(max_examples=200, deadline=None)
def test_property_single_probe_without_history_never_robust(
    prev_t, cur_t, sample, prev_sample
):
    # a one-sample probe against a history with no observed spread can
    # NEVER certify a robust regression (the r15 point-ratio failure
    # mode), and flags unstable exactly when either the raw or the
    # point-normalized reading regresses
    ratio, robust, unstable = bench.classify_normalized(
        {"q": cur_t}, {"q": prev_t}, _hc([sample]), _hc([prev_sample])
    )
    assert robust == []
    regressed = (
        cur_t > prev_t * 1.10 or cur_t / ratio > prev_t * 1.10
    )
    assert (unstable == ["q"]) == regressed


def test_payload_digest_fields_round_trip():
    # the emitted digest carries the spread fields the adjudication
    # needs (pinned so a refactor can't silently drop them) — checked
    # against the committed r16 payload when present
    import json
    import os

    p = os.path.join(os.path.dirname(bench.__file__), "BENCH_local_r16.json")
    if not os.path.exists(p):
        return
    hc = json.load(open(p)).get("host_calibration") or {}
    for field in ("samples", "n_samples", "median_s", "min_s", "max_s",
                  "spread_ratio", "mean_s"):
        assert field in hc, field
    assert hc["n_samples"] >= 3, "interleaved probes expected, got fewer"
    # round-17 payloads additionally record the adaptive third-rep
    # firings (dict of entry -> trigger) and the streaming probe
    p17 = os.path.join(os.path.dirname(bench.__file__), "BENCH_local_r17.json")
    if os.path.exists(p17):
        d = json.load(open(p17))
        if d.get("bench_round", 0) >= 17:
            assert isinstance(d.get("drain_third_reps"), dict)
            shc = d.get("host_calibration_streaming") or {}
            assert shc.get("n_samples", 0) >= 3


def test_degenerate_probe_near_flat_history_keeps_unstable_routing():
    # round-18 ADVICE (low): a near-1.0 historical spread (1.001) would
    # widen a single-sample probe to an essentially zero-width range,
    # letting a point ratio certify "robust" — exactly the failure mode
    # the widening exists to avoid.  Below the 1.05 floor the entry
    # keeps point_only (unstable-only) routing: the 2x regression that
    # a real historical spread would certify robust routes to unstable.
    hc_one = _hc([0.6])
    prev = dict(_hc([0.6, 0.6, 0.6]))
    prev["spread_ratio"] = 1.001
    _, robust, unstable = bench.classify_normalized(
        {"big": 2.0}, {"big": 1.0}, hc_one, prev
    )
    assert robust == []
    assert unstable == ["big"]


def test_degenerate_probe_spread_floor_boundary_widens_at_1_05():
    # at exactly the floor (1.05) the widening applies and a clear 2x
    # regression is certified robust across the widened range
    hc_one = _hc([0.6])
    prev = dict(_hc([0.58, 0.6, 0.62]))
    prev["spread_ratio"] = 1.05
    _, robust, unstable = bench.classify_normalized(
        {"big": 2.0}, {"big": 1.0}, hc_one, prev
    )
    assert [r[0] for r in robust] == ["big"]


def test_pick_prev_payload_skips_other_sf(tmp_path):
    # round-18: a leftover sf0.01 smoke payload must not become the
    # sf0.1 digest baseline — the lookup walks backward to the latest
    # prior payload at the SAME sf, skipping mismatches and unreadable
    # files
    import json
    p16 = tmp_path / "BENCH_local_r16.json"
    p17 = tmp_path / "BENCH_local_r17.json"
    p16.write_text(json.dumps({"sf": 0.1, "bench_round": 16}))
    p17.write_text(json.dumps({"sf": 0.01, "bench_round": 17}))
    prev = bench.pick_prev_payload([str(p16), str(p17)], 0.1)
    assert prev["bench_round"] == 16
    # same-sf latest wins when present
    p17.write_text(json.dumps({"sf": 0.1, "bench_round": 17}))
    assert bench.pick_prev_payload([str(p16), str(p17)], 0.1)["bench_round"] == 17
    # nothing matches -> empty dict (digest degrades to no-prev mode)
    assert bench.pick_prev_payload([str(p16), str(p17)], 0.01) == {}
    # unreadable file skipped, not fatal
    p18 = tmp_path / "BENCH_local_r18.json"
    p18.write_text("{corrupt")
    assert bench.pick_prev_payload(
        [str(p16), str(p17), str(p18)], 0.1
    )["bench_round"] == 17


def _digest_fixture(total=169.444):
    return {
        "bench_digest": True,
        "bench_round": 21,
        "total": total,
        "comparable_total": total,
        "prev_total": 126.052,
        "prev_round": 20,
        "calibration_s": 0.825,
        "prev_calibration_s": 0.555,
        "calibration_ratio": 1.486,
        "calibration_spread_ratio": 1.316,
        "streaming_calibration_s": 1.369,
        "prev_streaming_calibration_s": 1.173,
        "streaming_calibration_ratio": 1.167,
        "streaming_calibration_spread_ratio": 1.475,
        "total_normalized": 114.027,
        "n_entries": 44,
        "n_errors": 0,
        "full_payload": "BENCH_local_r21.json",
    }


def test_final_line_carries_driver_contract_and_fits_budget():
    # round-20 VERDICT item 1: the driver parses the LAST JSON line of a
    # 2000-char stdout tail; PERF_r20 extracted zero per-query data
    # because `queries` lived only in the truncated first line.  The
    # final line must carry metric/value/unit/queries/sf AND fit whole.
    import json

    timings = json.load(
        open(
            __file__.replace(
                "tests/test_bench_digest.py", "BENCH_local_r20.json"
            )
        )
    )["queries"]
    line = bench.build_final_line(timings, 0.1, _digest_fixture())
    assert len(line) <= bench.FINAL_LINE_BUDGET
    obj = json.loads(line)
    assert obj["metric"] == "headline_queries_total"
    assert obj["value"] == 169.444 and obj["unit"] == "sec"
    assert obj["queries"] == timings and obj["sf"] == 0.1
    assert obj["bench_round"] == 21 and obj["bench_digest"] is True
    # with today's 44 entries the compact form keeps every optional
    # scalar — the comparator gets calibration + prev totals too
    for k in bench._FINAL_OPTIONAL_KEYS:
        assert k in obj, k
    # final line is the last thing parsed: it must be ONE line
    assert "\n" not in line


def test_final_line_sheds_optional_scalars_before_touching_queries():
    import json

    # ~120 synthetic entries under a budget that shedding scalars alone
    # can meet: optional scalars drop (in declared order) while
    # queries/sf/metric survive intact
    timings = {f"entry_with_a_rather_long_name_{i:03d}": round(1.0 + i * 0.017, 3) for i in range(120)}
    unpressured = bench.build_final_line(timings, 0.1, _digest_fixture(), budget=10**6)
    budget = len(unpressured) - 200
    line = bench.build_final_line(timings, 0.1, _digest_fixture(), budget=budget)
    assert len(line) <= budget
    obj = json.loads(line)
    assert obj["queries"] == timings and "_elided" not in obj
    assert obj["sf"] == 0.1 and obj["unit"] == "sec"
    dropped = [k for k in bench._FINAL_OPTIONAL_KEYS if k not in obj]
    kept = [k for k in bench._FINAL_OPTIONAL_KEYS if k in obj]
    assert dropped and kept
    # drop-first order respected: everything dropped precedes everything kept
    assert bench._FINAL_OPTIONAL_KEYS[: len(dropped)] == dropped, (dropped, kept)


def test_final_line_last_resort_rerounds_queries_to_2_decimals():
    import json

    timings = {f"very_long_query_entry_name_padding_{i:04d}": 123.456 for i in range(200)}
    line = bench.build_final_line(timings, 0.1, _digest_fixture(), budget=1990)
    assert len(line) <= 1990
    obj = json.loads(line)
    # every optional scalar gone, queries re-rounded, contract intact
    assert all(k not in obj for k in bench._FINAL_OPTIONAL_KEYS)
    assert obj["queries"]["very_long_query_entry_name_padding_0000"] == 123.46
    assert obj["metric"] == "headline_queries_total" and obj["sf"] == 0.1
    # still over budget after re-rounding: trailing entries are elided
    # into a count, leading entries kept
    assert 0 < len(obj["queries"]) < len(timings)
    assert len(obj["queries"]) + obj["_elided"] == len(timings)
    assert list(obj["queries"]) == list(timings)[: len(obj["queries"])]


def test_needs_batch_third_rep_trigger_rule():
    # round-18: fires only when the min-of-2 result exceeds the prior
    # canonical value by >1.25x — a burst spanning both reps; quiet on
    # mild drift, missing/trivial priors, and genuine improvements
    assert bench.needs_batch_third_rep(1.38, 0.77) == "regressed_vs_prev"
    assert bench.needs_batch_third_rep(0.9, 0.77) == ""          # mild drift
    assert bench.needs_batch_third_rep(0.5, 0.77) == ""          # improvement
    assert bench.needs_batch_third_rep(1.0, None) == ""          # no prior
    assert bench.needs_batch_third_rep(1.0, 0.04) == ""          # trivial prior
    assert bench.needs_batch_third_rep(0.7, 0.77, threshold=1.25) == ""
    # round-18 ADVICE (second pass): a non-numeric prior (hand-edited
    # payload, future nested record) means "no usable prior", never a
    # TypeError that _guard would convert into a recorded bench error
    assert bench.needs_batch_third_rep(1.38, "0.77") == ""       # string prior
    assert bench.needs_batch_third_rep(1.38, {"v": 0.77}) == ""  # nested prior
    assert bench.needs_batch_third_rep(1.38, [0.77]) == ""       # list prior
    assert bench.needs_batch_third_rep(1.38, True) == ""         # bool != 1.0


def test_drain_min_adaptive_probe_refresh_only_on_probe_burst():
    # round-18 ADVICE (low): one probe_burst must not charge a third
    # rep to every later drain entry — after a probe_burst-triggered
    # rep the adjacent probe is refreshed; a disagree-triggered rep
    # does not touch the probe, and no trigger means no third rep
    calls = {"runs": 0, "probes": 0}

    def mk_run(vals):
        it = iter(vals)

        def run():
            calls["runs"] += 1
            return (next(it),)

        return run

    def refresh():
        calls["probes"] += 1

    # (1) probe_burst: latest probe sample >2x the run minimum; two
    # agreeing drain reps -> third rep fires AND the probe refreshes
    reps = {}
    best = bench.drain_min_adaptive(
        "e1", mk_run([5.0, 5.1, 4.9]), [1.3, 3.8], reps, refresh
    )
    assert best == (4.9,) and reps == {"e1": "probe_burst"}
    assert calls == {"runs": 3, "probes": 1}

    # (2) disagree: drain samples >1.5x apart, probes quiet -> third
    # rep fires but NO probe refresh
    calls = {"runs": 0, "probes": 0}
    reps = {}
    best = bench.drain_min_adaptive(
        "e2", mk_run([9.0, 3.0, 3.1]), [1.3, 1.35], reps, refresh
    )
    assert best == (3.0,) and reps == {"e2": "disagree"}
    assert calls == {"runs": 3, "probes": 0}

    # (3) quiet: agreeing reps, quiet probes -> min-of-2 stands
    calls = {"runs": 0, "probes": 0}
    reps = {}
    best = bench.drain_min_adaptive(
        "e3", mk_run([3.0, 3.1]), [1.3, 1.35], reps, refresh
    )
    assert best == (3.0,) and reps == {}
    assert calls == {"runs": 2, "probes": 0}
