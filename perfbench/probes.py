"""Measurement from outside the program: process-tree CPU and memory
from procfs, in-memory spans around calls into the package, and folds
of Spark's own progress, status and event-log records.

Nothing here changes what the program runs.  Spans come from the
benchmark's code (and, in the traced run, from wrappers the benchmark
puts around public package functions); everything else is read from
Spark's public reporting surfaces: `StreamingQuery.recentProgress`,
`SparkContext.statusTracker()` and the event log.
"""

from __future__ import annotations

import contextlib
import datetime as _dt
import json
import os
import threading
import time

from stats import percentile, self_time

_TICK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------- procfs


def _stat(pid: int) -> tuple[int, int] | None:
    """(ppid, cpu ticks incl. reaped children) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            rest = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return int(rest[1]), sum(int(x) for x in rest[11:15])


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def _memory_kb(pid: int, field: str) -> int:
    """One size field of a process, from `status` ("VmRSS:") or
    `smaps_rollup` ("Pss:")."""
    name = "status" if field == "VmRSS:" else "smaps_rollup"
    try:
        with open(f"/proc/{pid}/{name}") as fh:
            for line in fh:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def process_tree() -> dict[int, int]:
    """This process and all its live descendants, each mapped to its
    parent."""
    parent: dict[int, int] = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                parent[int(name)] = st[0]
                children.setdefault(st[0], []).append(int(name))
    out, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        out[pid] = parent.get(pid, 0)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu() -> dict[str, float]:
    """CPU seconds used so far by this process tree, split into the JVM
    and everything else (the Python driver and Python workers).  Exited
    workers are counted through their parent's reaped-children time."""
    jvm = other = 0
    for pid in process_tree():
        st = _stat(pid)
        if st is None:
            continue
        if _comm(pid) == "java":
            jvm += st[1]
        else:
            other += st[1]
    return {"jvm": jvm / _TICK, "python": other / _TICK}


def tree_memory_mb() -> float:
    """Resident memory of the JVM and the Python processes now: the
    JVM's resident size plus every other process's proportional set
    size, which counts the pages Python workers share with the daemon
    they were forked from once in total.  A process other than the JVM
    still running the JVM's binary is a child between the JVM's fork and
    its exec, sharing the JVM's memory, and is skipped."""
    tree = process_tree()
    jvm = next((p for p, pp in tree.items() if pp == os.getpid() and _comm(p) == "java"), None)
    jvm_exe = _exe(jvm) if jvm is not None else ""
    kb = 0
    for pid in tree:
        if pid == jvm:
            kb += _memory_kb(pid, "VmRSS:")
        elif not jvm_exe or _exe(pid) != jvm_exe:
            kb += _memory_kb(pid, "Pss:")
    return kb / 1024.0


def host_cpu_ticks() -> list[int]:
    """The machine-wide CPU tick counters of /proc/stat (user, nice,
    system, idle, iowait, irq, softirq, steal)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the machine's CPU time between two host_cpu_ticks()
    readings that the hypervisor gave to other guests."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) > 0 else 0.0


# ---------------------------------------------------------------- spans


class Tracer:
    """In-memory spans: (name, start, end, parent index).  Parents are
    tracked per thread.  Disabled tracers record nothing and wrap
    nothing, so the untraced run pays no tracing cost."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[list] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._restore: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        rec = [name, time.time(), None, stack[-1] if stack else None]
        with self._lock:
            idx = len(self.spans)
            self.spans.append(rec)
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            rec[2] = time.time()

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace `owner.attr` (a module function or a class method)
        with a version that records a span around each call."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        traced.__wrapped__ = orig
        setattr(owner, attr, traced)
        self._restore.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    def closed(self, prefix: str = "") -> list[list]:
        return [s for s in self.spans if s[2] is not None and s[0].startswith(prefix)]

    def self_times(self) -> dict[str, float]:
        """Self time per span name: each span's duration minus what its
        child spans cover, summed over spans of that name."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s[2] is not None and s[3] is not None:
                kids.setdefault(s[3], []).append((s[1], s[2]))
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s[2] is not None:
                out[s[0]] = out.get(s[0], 0.0) + self_time((s[1], s[2]), kids.get(i, []))
        return out

    def dump(self, path: str, extra: dict) -> None:
        t0 = min((s[1] for s in self.spans), default=0.0)
        body = {
            "spans": [
                {"name": s[0], "start_s": s[1] - t0, "end_s": (s[2] or s[1]) - t0, "parent": s[3]}
                for s in self.spans
            ],
            "self_s": self.self_times(),
            **extra,
        }
        with open(path, "w") as fh:
            json.dump(body, fh, indent=1, sort_keys=True)


# ---------------------------------------------------------------- streaming progress


def _epoch(ts: str) -> float:
    return _dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=_dt.timezone.utc
    ).timestamp()


def progress_records(query) -> list[dict]:
    """A query's recent progress as plain dicts, each with `start` and
    `end` epoch seconds added."""
    out = []
    for p in query.recentProgress:
        d = json.loads(p.json) if hasattr(p, "json") else dict(p)
        d["start"] = _epoch(d["timestamp"])
        d["end"] = d["start"] + d.get("durationMs", {}).get("triggerExecution", 0) / 1000.0
        out.append(d)
    return out


def fold_query(recs: list[dict], jobs: int, stages: int) -> dict[str, float]:
    """Per-query layer metrics from its progress records (already
    restricted to the timed phase) and its Spark job/stage counts."""

    def phase(*names: str) -> float:
        return sum(r.get("durationMs", {}).get(n, 0) for r in recs for n in names) / 1000.0

    batches = len(recs)
    durs = [r.get("durationMs", {}).get("triggerExecution", 0) / 1000.0 for r in recs]
    state = [op for r in recs[-1:] for op in r.get("stateOperators", [])]
    return {
        "batches": batches,
        "rows_in": sum(r.get("numInputRows", 0) for r in recs),
        "busy_s": sum(durs),
        "add_batch_s": phase("addBatch"),
        "planning_s": phase("queryPlanning"),
        "commit_s": phase("walCommit", "commitOffsets"),
        "offsets_s": phase("latestOffset", "getBatch"),
        "batch_p50_s": percentile(durs, 50) or 0.0,
        "jobs_per_batch": jobs / batches if batches else 0.0,
        "stages_per_batch": stages / batches if batches else 0.0,
        "state_rows": sum(op.get("numRowsTotal", 0) for op in state),
        "state_bytes": sum(op.get("memoryUsedBytes", 0) for op in state),
        "late_dropped": sum(
            op.get("numRowsDroppedByWatermark", 0)
            for r in recs
            for op in r.get("stateOperators", [])
        ),
    }


def unattributed(window: tuple[float, float], recs: list[dict]) -> float:
    """Wall time inside `window` covered by no query's batch."""
    return self_time(window, [(r["start"], r["end"]) for r in recs])


# ---------------------------------------------------------------- Spark status + event log


def group_counts(sc, group: str) -> tuple[int, int]:
    """(jobs, stages) Spark ran under one job group."""
    tracker = sc.statusTracker()
    jobs = stages = 0
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is not None:
            jobs += 1
            stages += len(info.stageIds)
    return jobs, stages


def event_log_totals(log_dir: str, window: tuple[float, float]) -> dict[str, float]:
    """Task-level totals from Spark's event log for tasks that finished
    inside `window` (epoch seconds)."""
    lo, hi = window[0] * 1000, window[1] * 1000
    out = {"task_cpu_s": 0.0, "task_run_s": 0.0, "shuffle_bytes": 0.0, "spill_bytes": 0.0, "gc_s": 0.0}
    paths = [os.path.join(d, f) for d, _, files in os.walk(log_dir) for f in files]
    for path in paths:
        with open(path) as fh:
            for line in fh:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                fin = ev.get("Task Info", {}).get("Finish Time", 0)
                m = ev.get("Task Metrics")
                if not m or not lo <= fin <= hi:
                    continue
                out["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                out["task_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                out["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                out["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                out["shuffle_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
    return out


# ---------------------------------------------------------------- per-layer catalog

QUERIES = ("bronze", "silver", "dead_letters", "gold_5m", "gold_1h", "latest_prices")
STATEFUL = ("silver", "gold_5m", "gold_1h", "latest_prices")
QUERY_METRICS = (
    "batches", "rows_in", "busy_s", "add_batch_s", "planning_s", "commit_s",
    "offsets_s", "batch_p50_s", "jobs_per_batch", "stages_per_batch",
)
STATE_METRICS = ("state_rows", "state_bytes", "late_dropped")
PANELS = (
    "latest_bars", "volume_by_symbol", "day_over_day", "latest_prices_table",
    "latest_prices_view", "gold_view", "silver_lookup",
    "curated_splits", "curated_doc", "corpus_size",
)
HIGHER = {"gen.rows", "validate.valid_ratio"}


def layer_names() -> list[str]:
    """Every per-layer metric the traced run reports, in BENCHMARK.json
    order.  A layer a workload does not run reports 0."""
    names = [f"{q}.{m}" for q in QUERIES for m in QUERY_METRICS]
    names += [f"{q}.{m}" for q in STATEFUL for m in STATE_METRICS]
    names += ["jobs.batch_p90_s", "jobs.unattributed_s", "jobs.unattributed_share", "gen.rows",
              "validate.dead_rows", "validate.valid_ratio",
              "sinks.compact_s", "sinks.publish_s", "sinks.live_dirs"]
    names += [f"serving.{p}.p50_ms" for p in PANELS]
    names += ["serving.refresh_ms", "serving.build_ms_p50", "serving.exec_ms_p50", "serving.jobs_per_query"]
    names += [f"curation.{m}" for m in (
        "batch_p50_s", "batch_first_s", "batch_last_s", "jobs_per_batch", "finalize_s",
        "delta_finalize_s", "offsets_s", "planning_s", "add_batch_s", "commit_s",
    )]
    names += ["spark.task_cpu_s", "spark.task_run_s", "spark.shuffle_bytes",
              "spark.spill_bytes", "spark.gc_s", "jvm.cpu_s", "python.cpu_s", "driver_share",
              "host.steal_share"]
    return names


def layer_unit(name: str) -> str:
    if name.endswith("_ms") or "_ms_" in name:
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("_ratio", "_share")):
        return "ratio"
    return "count"


def layer_better(name: str) -> str:
    return "higher" if name in HIGHER or name.endswith(".rows_in") else "lower"


# ---------------------------------------------------------------- run outcome


class Outcome:
    """What a workload hands back to the runner."""

    def __init__(self) -> None:
        self.gen_s: list[float] = []  # input generations (seed, seed, seed + 1)
        self.warm_s = 0.0  # untimed warm-up
        self.setup_s = 0.0  # filled in by the runner
        self.window = (0.0, 0.0)  # timed phase, epoch seconds
        self.cpu = {"jvm": 0.0, "python": 0.0}  # tree CPU over the timed phase
        self.steal = 0.0  # host CPU stolen by other guests over the timed phase
        self.end_to_end: dict[str, tuple[float, str]] = {}
        self.lines: list[tuple[str, float | None, str, int]] = []
        self.layers: dict[str, float] = {}


class Meter:
    """Process-tree CPU and peak memory over a timed phase.  Memory is
    sampled every MEMORY_EVERY_S on a thread of its own, because the
    number of live Python workers changes within a cycle and only a
    sample taken while they run sees them all."""

    MEMORY_EVERY_S = 0.5

    def __init__(self) -> None:
        self.t0 = time.time()
        self.c0 = tree_cpu()
        self.host0 = host_cpu_ticks()
        self.peak_rss_mb = tree_memory_mb()
        self._stop = threading.Event()
        self._sampler = threading.Thread(target=self._sample, name="memory-sampler", daemon=True)
        self._sampler.start()

    def _sample(self) -> None:
        while not self._stop.wait(self.MEMORY_EVERY_S):
            self.peak_rss_mb = max(self.peak_rss_mb, tree_memory_mb())

    def stop(self, out: Outcome) -> float:
        """Fill out.window, out.cpu and out.steal; return the phase's CPU
        seconds."""
        self._stop.set()
        self._sampler.join()
        c1 = tree_cpu()
        out.steal = steal_share(self.host0, host_cpu_ticks())
        out.window = (self.t0, time.time())
        out.cpu = {k: c1[k] - self.c0[k] for k in c1}
        return out.cpu["jvm"] + out.cpu["python"]
