#!/usr/bin/env python3
"""Run one workload once per seed and report each end-to-end metric's
median and quartile spread against its bound in BENCHMARK.json.

    python3 perfbench/spread.py --workload trade_replay --seeds 1-10

Each run is a fresh `perfbench/run.py` process (its own JVM).  The
spread is (Q3 - Q1) / median over the seeds, as
`statistics.quantiles(values, n=4)` gives the quartiles; a metric is
steady when its spread is within its bound (`setup_s` is only
compared by median).  Results are appended as JSON lines to
.perfbench/spread-<workload>.jsonl.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

from stats import quartile_spread

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_arg(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(bench: dict, workload: str, seed: int, trace: int, extra: list[str] = ()) -> dict:
    """One `run.py` process as BENCHMARK.json describes it: its result
    object and its `#` lines.  Raises if it exits non-zero or prints
    nothing."""
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]), "--trace", str(trace), *extra]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    return {"result": json.loads(lines[-1]), "lines": [ln for ln in lines if ln.startswith("# ")]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    log = os.path.join(ROOT, ".perfbench", f"spread-{args.workload}.jsonl")
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        t0 = time.time()
        try:
            one = run_once(bench, args.workload, seed, 0)
        except RuntimeError as exc:
            print(f"seed {seed}: {exc}", file=sys.stderr)
            return 1
        result = one["result"]
        wall = time.time() - t0
        steal = next((ln.split()[3] for ln in one["lines"] if ln.startswith("# host_steal_share =")), "?")
        with open(log, "a") as fh:
            fh.write(json.dumps({"seed": seed, "wall_s": wall, **result}) + "\n")
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: {wall:.0f}s steal={steal} correct={result['correct']} failed={result['failed']} "
              + " ".join(f"{k}={m['value']:.4g}" for k, m in result["metrics"].items()), flush=True)
    for metric in bench["end_to_end"]:
        vals = values[metric["name"]]
        spread = quartile_spread(vals) if len(vals) > 1 else float("nan")
        flag = "" if metric["name"] == "setup_s" or spread <= metric["bound"] / 3 else "  <-- above bound/3"
        print(f"{metric['name']:>16}: median {statistics.median(vals):.5g} {metric['unit']}, "
              f"spread {spread:.3f} (bound {metric['bound']}){flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
