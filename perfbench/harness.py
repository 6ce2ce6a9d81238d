"""Shared plumbing for the workloads: the run context, percentiles, the RSS
sampler, Spark status lookups and the checkpoint readers.

Nothing here starts a thread, a process or a Spark session at import time.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time
import urllib.parse
from dataclasses import dataclass, field

# ---------------------------------------------------------------------------
# Run context and result


@dataclass
class Ctx:
    spark: object
    workdir: str
    seed: int
    seconds: float
    tracer: object
    nproc: int


@dataclass
class Result:
    """What a workload measured. `latencies_ms` feeds latency_p50/tail;
    `result_s` is the time to the complete result of a bounded job;
    `layers` holds the traced run's per-layer numbers."""

    attempted: int = 0
    failed: int = 0
    correct: bool = True
    latencies_ms: list[float] = field(default_factory=list)
    throughput_per_s: float = 0.0
    recovery_s: float = 0.0
    result_s: float = 0.0
    layers: dict[str, float] = field(default_factory=dict)
    details: dict = field(default_factory=dict)

    def fail(self, n: int = 1) -> None:
        self.failed += n
        self.correct = False


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def tail(samples: list[float]) -> tuple[float, str]:
    """The highest percentile with at least ten samples beyond it, and its
    name. Below 20 samples no percentile at or above the median qualifies;
    the maximum is reported instead and named so."""
    n = len(samples)
    if n == 0:
        return 0.0, "none"
    xs = sorted(samples)
    if n < 20:
        return xs[-1], f"max_of_{n}"
    p = math.floor(100 * (n - 10) / n)
    k = min(n - 1, max(0, math.ceil(p / 100 * n) - 1))  # nearest-rank
    return xs[k], f"p{p}_of_{n}"


# ---------------------------------------------------------------------------
# Memory: the Spark JVM and Python workers are children of this process


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        for c in children.get(pid, ()):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def cpu_steal_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks since boot, from /proc/stat: the share of
    time the hypervisor ran something else while this machine wanted to run."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def process_tree_rss(root: int) -> int:
    return sum(_rss_bytes(p) for p in [root, *_descendants(root)])


RSS_INTERVAL_S = 0.2
PROGRESS_TIMEOUT_S = 30.0


class RssSampler:
    """Samples the RSS of this process and all its descendants every
    RSS_INTERVAL_S; `stop()` returns the largest sum seen, in MB."""

    def __init__(self):
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        self.peak = 0

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, process_tree_rss(me))
            self._stop.wait(RSS_INTERVAL_S)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, process_tree_rss(os.getpid()))
        return self.peak / 2**20


# ---------------------------------------------------------------------------
# Spark status: jobs/stages/tasks of a job group, Catalyst phase times


def job_group_counts(spark, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) the status tracker retained for a job group."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for s in info.stageIds:
            stages += 1
            sinfo = st.getStageInfo(s)
            if sinfo is not None:
                tasks += sinfo.numTasks
    return len(jobs), stages, tasks


def catalyst_phases(df) -> dict[str, float]:
    """QueryPlanningTracker phase durations (ms) of an executed DataFrame."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


# ---------------------------------------------------------------------------
# Structured Streaming checkpoint readers


def file_batches(checkpoint: str) -> dict[str, int]:
    """File name -> batchId from the file source's metadata log
    (`sources/0/<batchId>` and its `.compact` files)."""
    log_dir = os.path.join(checkpoint, "sources", "0")
    out: dict[str, int] = {}
    if not os.path.isdir(log_dir):
        return out
    for name in os.listdir(log_dir):
        if name.startswith(".") or name.endswith(".tmp"):
            continue
        try:
            with open(os.path.join(log_dir, name)) as f:
                lines = f.read().splitlines()
        except FileNotFoundError:
            continue
        for line in lines[1:]:  # first line is the log version
            if line.strip():
                e = json.loads(line)
                path = urllib.parse.unquote(urllib.parse.urlparse(e["path"]).path)
                out[os.path.basename(path)] = int(e["batchId"])
    return out


def committed_batches(checkpoint: str) -> set[int]:
    d = os.path.join(checkpoint, "commits")
    if not os.path.isdir(d):
        return set()
    return {int(n) for n in os.listdir(d) if n.isdigit()}


def wait_for(pred, timeout: float, poll: float = 0.005):
    """Poll `pred` until it returns a truthy value or `timeout` passes;
    returns the last value."""
    deadline = time.time() + timeout
    while True:
        v = pred()
        if v or time.time() >= deadline:
            return v
        time.sleep(poll)


def progress_until(capture, query_id: str, last_batch: int) -> list[dict]:
    """The query's progress events (every run of it: a restarted query keeps
    its id), after waiting until the listener has delivered `last_batch`.
    Listener delivery is asynchronous: a query can stop before its last
    events arrive, so reading earlier under-reports."""

    def events():
        evs = capture.progress(query_id)
        return evs if any(e["batchId"] == last_batch for e in evs) else None

    evs = wait_for(events, PROGRESS_TIMEOUT_S, poll=0.05)
    if evs is None:
        raise RuntimeError(
            f"progress listener did not deliver batch {last_batch} of query {query_id} "
            f"within {PROGRESS_TIMEOUT_S:.0f}s"
        )
    return evs
