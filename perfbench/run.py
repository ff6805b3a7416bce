#!/usr/bin/env python3
"""Run one benchmark workload with one seed, check its outputs and print
its metrics.

    python3 perfbench/run.py --workload trade_replay --seed 1 --seconds 30 --trace 0

Run from the root of a checkout.  Every metric is printed on a `#` line
with its unit and sample count; the last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}: with --trace 0 the
end-to-end metrics of BENCHMARK.json, with --trace 1 its per-layer
metrics (the traced run also writes spans and layer details to
.perfbench/trace-<workload>-seed<seed>.json).  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "real_time_financial_market_data_pipeline_spark"
WORKLOADS = {"trade_replay": "replay", "doc_curation": "curate"}
DRIVER_MEMORY = "2g"

from stats import failed_ratio  # noqa: E402


class Run:
    """State of one run, handed to the workload module: the session,
    the work dir, the run settings, the tracer and the op counters."""

    def __init__(self, spark, work: str, seed: int, seconds: float, tracer) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.traced = tracer.enabled
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.groups: list[str] = []  # job groups tagged by group()

    def count(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)

    def check(self, what: str, mismatches: int) -> None:
        """One correctness check; any mismatch makes it a failed op."""
        self.count(mismatches == 0, f"{what}: {mismatches} mismatched rows")

    def group(self, name: str | None) -> None:
        """Tag the Spark jobs this thread starts (traced run only)."""
        if self.traced:
            if name is not None:
                self.groups.append(name)
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", name)

    def panel(self, name: str, build, group: str) -> tuple[list, float]:
        """Build and collect one dashboard panel: (rows, seconds).  The
        traced run splits the time into build (listing, manifest read,
        analysis) and exec (the Spark jobs of collect).  A read that
        raises is a failed op and returns no rows."""
        t0 = time.perf_counter()
        self.group(group)
        try:
            with self.tracer.span(f"panel.{name}"):
                with self.tracer.span("panel.build"):
                    df = build()
                with self.tracer.span("panel.exec"):
                    rows = df.collect()
        except Exception as exc:  # noqa: BLE001 — counted, the run goes on
            self.count(False, f"panel {name}: {exc!r}")
            return [], 0.0
        finally:
            self.group(None)
        self.count(True, name)
        return rows, time.perf_counter() - t0


def _environment(work: str, trace: bool, cpus: int) -> None:
    """Pin the session shape and keep every file Spark, the Python
    workers and the temp-file APIs write inside the work dir."""
    for sub in ("tmp", "local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if trace:
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
            }
        )
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" for k, v in confs.items()
    ) + " pyspark-shell"


def _shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited
    (its Python workers go with it)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=120)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=None,
                    help="local[N] cores (default: $SPARK_GRAFT_CPUS, else nproc)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: {PACKAGE}/ not found next to perfbench/", file=sys.stderr)
        return 2
    cpus = args.cpus or int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    _environment(work, bool(args.trace), cpus)
    sys.path.insert(0, ROOT)

    import probes

    spark = None
    try:
        t_start = time.perf_counter()
        from real_time_financial_market_data_pipeline_spark.session import get_spark

        spark = get_spark(app_name=f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        jvm_s = time.perf_counter() - t_start

        tracer = probes.Tracer(bool(args.trace))
        r = Run(spark, work, args.seed, args.seconds, tracer)
        try:
            out = importlib.import_module(WORKLOADS[args.workload]).run(r)
        except Exception as exc:  # the run is over: report it as failed, print no result
            print(f"perfbench: {args.workload} failed: {exc!r}", file=sys.stderr)
            return 1
        out.setup_s = jvm_s + statistics.median(out.gen_s) + out.warm_s
        _shutdown(spark)  # also flushes the event log
        spark = None
        layers = out.layers
        if args.trace:
            totals = probes.event_log_totals(os.path.join(work, "eventlog"), out.window)
            wall = out.window[1] - out.window[0]
            layers.update({f"spark.{k}": v for k, v in totals.items()})
            layers["jvm.cpu_s"] = out.cpu["jvm"]
            layers["python.cpu_s"] = out.cpu["python"]
            layers["driver_share"] = 1.0 - totals["task_run_s"] / (wall * cpus) if wall > 0 else 0.0
            layers["host.steal_share"] = out.steal
    finally:
        if spark is not None:
            _shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)

    ok = r.failed == 0
    lines = list(out.lines)
    lines.append(("setup_s", out.setup_s, "s", 1))
    lines.append(("failed_ratio", failed_ratio(r.failed, r.attempted), "ratio", r.attempted))
    lines.append(("host_steal_share", out.steal, "ratio", 1))
    print(f"# workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} cpus={cpus} driver_memory={DRIVER_MEMORY}")
    for name, value, unit, n in lines:
        shown = "n/a (too few samples)" if value is None else f"{value:.6g}"
        print(f"# {name} = {shown} {unit} (n={n})")
    for p in r.problems:
        print(f"# FAILED {p}")
    if args.trace:
        metrics = {
            k: {"value": float(layers.get(k, 0.0)), "unit": probes.layer_unit(k)}
            for k in probes.layer_names()
        }
        os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
        tracer.dump(
            os.path.join(ROOT, ".perfbench", f"trace-{args.workload}-seed{args.seed}.json"),
            {
                "layers": layers,
                "end_to_end": {"setup_s": out.setup_s, **{k: v for k, (v, _) in out.end_to_end.items()}},
                "lines": {n: v for n, v, _, _ in lines},
            },
        )
    else:
        metrics = {
            "setup_s": {"value": out.setup_s, "unit": "s"},
            **{k: {"value": v, "unit": u} for k, (v, u) in out.end_to_end.items()},
        }
    print(json.dumps({"correct": ok, "attempted": r.attempted, "failed": r.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
