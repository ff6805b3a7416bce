#!/usr/bin/env python3
"""Traced-run tool: per-layer numbers, tracing overhead and the
single-threaded baseline.

    python3 perfbench/layers.py --seed 1

For each workload of BENCHMARK.json it runs `perfbench/run.py` twice
with the same seed, untraced and traced, and reports the per-layer
metrics of the traced run, the tracing overhead (traced minus untraced
end-to-end value, as a share of the untraced one) and the drain time
no query batch covers.  It then runs trade_replay once at local[1] as
the single-threaded baseline.  The report goes to stdout and to
.perfbench/layers-<seed>.json.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from spread import run_once

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    report: dict = {"seed": args.seed, "workloads": {}}
    for w in (w["name"] for w in bench["workloads"]):
        plain = run_once(bench, w, args.seed, 0)
        traced = run_once(bench, w, args.seed, 1)
        with open(os.path.join(ROOT, ".perfbench", f"trace-{w}-seed{args.seed}.json")) as fh:
            trace = json.load(fh)
        e2e = plain["result"]["metrics"]
        overhead = {
            k: (trace["end_to_end"][k] - m["value"]) / m["value"]
            for k, m in e2e.items()
            if k in trace["end_to_end"] and m["value"]
        }
        layers = {k: m["value"] for k, m in traced["result"]["metrics"].items()}
        report["workloads"][w] = {
            "end_to_end": {k: m["value"] for k, m in e2e.items()},
            "tracing_overhead": overhead,
            "unattributed_s": layers["jobs.unattributed_s"],
            "unattributed_share": layers["jobs.unattributed_share"],
            "layers": layers,
            "self_s": trace["self_s"],
            "correct": plain["result"]["correct"] and traced["result"]["correct"],
        }
        print(f"== {w}: correct={report['workloads'][w]['correct']}")
        for k, v in overhead.items():
            print(f"   tracing overhead {k}: {v:+.1%}")
        print(f"   unattributed drain time: {layers['jobs.unattributed_s']:.3f} s "
              f"({layers['jobs.unattributed_share']:.1%} of the drains)")
        for k, v in sorted(layers.items()):
            if v:
                print(f"   {k} = {v:.6g}")
    single = run_once(bench, "trade_replay", args.seed, 0, ["--cpus", "1"])
    report["trade_replay_local1"] = {k: m["value"] for k, m in single["result"]["metrics"].items()}
    print("== trade_replay at local[1] vs default cores")
    base = report["workloads"].get("trade_replay", {}).get("end_to_end", {})
    for k, v in report["trade_replay_local1"].items():
        print(f"   {k}: local[1] {v:.5g}" + (f" vs {base[k]:.5g}" if k in base else ""))
    out = os.path.join(ROOT, ".perfbench", f"layers-{args.seed}.json")
    with open(out, "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True)
    print(f"report: {os.path.relpath(out, ROOT)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
