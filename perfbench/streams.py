"""The RainStorm (MP4) streaming workload, `stream_rainstorm`, in two phases
on one session: the backlog drain, then the open loop.

Open loop (latency). The generator renames seeded Zipf-word files into the
  source dir on a fixed schedule, below capacity, while
  `run_rainstorm_stream` tails the dir (split_operator -> count_operator,
  complete mode, `foreach_batch_parquet` sink). State is small and per-row
  work light, so per-trigger fixed costs set the latency.

Backlog drain with a restart (capacity, recovery). A pre-staged backlog of
  traffic-sign CSV lines runs through app1_2 -> count_operator in update mode
  into the `foreach_batch_appendlog` sink. Keys are near-unique, so state is
  large. The query is stopped after its first batch, restarted from the same
  checkpoint and drained: the drain rate after the restart is the stream's
  capacity, the restart is the paper's failure recovery, and the time from
  the restart to the whole backlog's result is the job's time to result.

Each phase is sized by iterations as well as by time: the open loop runs for
at least `ctx.seconds` and at least MIN_TRIGGERS triggers, and the backlog
holds one batch before the stop and DRAIN_BATCHES_AFTER_RESTART after it.
"""

from __future__ import annotations

import os
import time
from collections import Counter

from perfbench import gen
from perfbench.harness import (
    Ctx,
    Result,
    committed_batches,
    file_batches,
    job_group_counts,
    median,
    progress_until,
    wait_for,
)
from streamds_spark.io import appendlog
from streamds_spark.operators.rainstorm import STAGE1_OPS, RainStormJob
from streamds_spark.streaming import engine, metrics

WC_RATE = 2  # files per second, well below capacity (see README)
WC_LINES = 1000  # lines per file
MIN_TRIGGERS = 8  # the open loop lasts at least this many triggers
PHASE_TIMEOUT_S = 60.0

CSV_LINES = 1500  # lines per file
CSV_FILES_PER_TRIGGER = 3
# the first batch after the restart times recovery; the rest, capacity
DRAIN_BATCHES_AFTER_RESTART = 4


def _write_atomic(stage_dir: str, dest_dir: str, f: gen.TextFile) -> None:
    tmp = os.path.join(stage_dir, f.name)
    with open(tmp, "w") as fh:
        fh.write(f.text)
    os.rename(tmp, os.path.join(dest_dir, f.name))


def _dirs(root: str, *names: str) -> list[str]:
    out = [os.path.join(root, n) for n in names]
    for d in out:
        os.makedirs(d, exist_ok=True)
    return out


class _TimedSink:
    """Wraps a `foreach_batch_*` callable to time each sink write."""

    def __init__(self, inner, tracer):
        self._inner, self._tracer = inner, tracer

    def __call__(self, batch_df, batch_id: int) -> None:
        with self._tracer.span("sink.write", rid=f"batch-{batch_id}"):
            self._inner(batch_df, batch_id)


def _check_progress_rows(tag, events, files, fb, done, before) -> None:
    """Cross-check the listener against the generator, batch by batch: each
    event's row count equals the lines of the files its batch took, no batch
    is reported twice, and every committed batch is reported. The one
    exception is the last batch committed before a stop, which the stop can
    interrupt between its commit and its progress report."""
    lines = {f.name: f.lines for f in files}
    want = Counter()
    for name, b in fb.items():
        want[b] += lines[name]
    seen = Counter(e["batchId"] for e in events)
    twice = [b for b, n in seen.items() if n > 1]
    wrong = [e["batchId"] for e in events if e["numInputRows"] != want[e["batchId"]]]
    unreported = sorted(b for b in done if b not in seen and b != max(before, default=-1))
    if twice or wrong or unreported:
        raise RuntimeError(
            f"{tag}: progress events disagree with the generator: reported twice {twice}, "
            f"wrong row count {wrong}, committed but unreported {unreported}"
        )


# ---------------------------------------------------------------------------
# Open loop


def _open_loop(ctx: Ctx, res: Result, run_ids: list[str]) -> dict:
    tr = ctx.tracer
    src, stage, ckpt, dest = _dirs(os.path.join(ctx.workdir, "wc"), "src", "stage", "ckpt", "sink")
    source = gen.word_files(ctx.seed, WC_LINES)
    warm = next(source)

    if tr.enabled:
        base = engine.foreach_batch_parquet
        engine.foreach_batch_parquet = lambda d: _TimedSink(base(d), tr)
    cap = metrics.attach(ctx.spark)
    q = None
    out: dict = {}
    try:
        # Warm-up file: present at start, so start() -> its commit is the
        # query's time to first result.
        _write_atomic(stage, src, warm)
        job = RainStormJob("split_operator", "", "count_operator", "", src)
        t_start = time.time()
        q = engine.run_rainstorm_stream(
            ctx.spark, job, ckpt, dest, output_mode="complete",
            available_now=False, max_files_per_trigger=None,
        )
        if not wait_for(lambda: 0 in committed_batches(ckpt), PHASE_TIMEOUT_S):
            raise RuntimeError("warm-up batch never committed")
        out["start_s"] = os.stat(os.path.join(dest, "batch=0", "_SUCCESS")).st_mtime - t_start

        # The load generator: this thread, on a fixed schedule that does not
        # wait for the stream (Spark runs the query on its own threads). It
        # stops once the window has lasted ctx.seconds and the query has
        # committed MIN_TRIGGERS - 1 window batches (batch 0 is the warm-up);
        # the files still in flight make at least one more.
        window: list[gen.TextFile] = []
        due: dict[str, float] = {}
        lag_ms: list[float] = []
        t0 = time.time()
        while time.time() - t0 < ctx.seconds or len(committed_batches(ckpt)) < MIN_TRIGGERS:
            if time.time() - t0 > PHASE_TIMEOUT_S:
                raise RuntimeError(f"open loop: fewer than {MIN_TRIGGERS} triggers in {PHASE_TIMEOUT_S:.0f}s")
            f = next(source)
            d = t0 + len(window) / WC_RATE
            delay = d - time.time()
            if delay > 0:
                time.sleep(delay)
            with tr.span("loadgen.write", rid=f.name):
                _write_atomic(stage, src, f)
            lag_ms.append((time.time() - d) * 1000)
            due[f.name] = d
            window.append(f)

        def drained():
            fb = file_batches(ckpt)
            done = committed_batches(ckpt)
            return all(fb.get(f.name, -1) in done for f in window)

        wait_for(drained, PHASE_TIMEOUT_S, poll=0.05)
        # read progress while the query runs: a stop can land between a
        # batch's commit and its progress report
        events = progress_until(cap, str(q.id), max(committed_batches(ckpt)))
        q.stop()
        fb, done = file_batches(ckpt), committed_batches(ckpt)
    finally:
        if q is not None and q.isActive:
            q.stop()
        ctx.spark.streams.removeListener(cap)
        if tr.enabled:
            engine.foreach_batch_parquet = base
    run_ids.append(str(q.runId))

    # Latency: file due time -> _SUCCESS of the sink batch that consumed it.
    res.attempted += len(window)
    for f in window:
        b = fb.get(f.name)
        ok = os.path.join(dest, f"batch={b}", "_SUCCESS")
        if b is None or b not in done or not os.path.exists(ok):
            res.fail()
            continue
        res.latencies_ms.append((os.stat(ok).st_mtime - due[f.name]) * 1000)

    # Gates: the final committed state equals the generator's counts, and
    # the listener agrees with the generator batch by batch.
    files = [warm, *window]
    rows = engine.read_latest_batch(ctx.spark, dest).collect()
    if Counter({r["word"]: r["count"] for r in rows}) != gen.word_counts(files):
        res.correct = False
        res.details.setdefault("gate", []).append("open loop: word counts differ")
    _check_progress_rows("open loop", events, files, fb, done, done)
    out.update(events=[e for e in events if e["batchId"] > 0], lag_ms=lag_ms, files=len(files))
    return out


# ---------------------------------------------------------------------------
# Backlog drain, stopped after its first batch and restarted


def _drain(ctx: Ctx, res: Result, run_ids: list[str]) -> dict:
    """Stage the backlog, stop the query once its first batch has committed,
    restart it from the same checkpoint, drain it and check the folded
    appendlog."""
    tr = ctx.tracer
    n_files = (1 + DRAIN_BATCHES_AFTER_RESTART) * CSV_FILES_PER_TRIGGER
    lines = gen.traffic_lines(ctx.seed, n_files * CSV_LINES)
    files = gen.split_files(lines, n_files)
    src, stage, ckpt, log = _dirs(os.path.join(ctx.workdir, "csv"), "src", "stage", "ckpt", "log")
    for f in files:
        _write_atomic(stage, src, f)
    appendlog.create(ctx.spark, log)
    job = RainStormJob("app1_2", "", "count_operator", "", src)
    sink = engine.foreach_batch_appendlog(log, "rainstorm")
    if tr.enabled:
        sink = _TimedSink(sink, tr)

    def start(available_now: bool):
        w = (
            engine.compile_rainstorm_stream(ctx.spark, job, CSV_FILES_PER_TRIGGER)
            .writeStream.outputMode("update")
            .option("checkpointLocation", ckpt)
            .foreachBatch(sink)
        )
        if available_now:
            w = w.trigger(availableNow=True)
        return w.start()

    cap = metrics.attach(ctx.spark)
    out: dict = {}
    queries = []
    try:
        q1 = start(available_now=False)
        queries.append(q1)
        # Stop on the commit itself, not on its progress event: the
        # listener can lag by more than a batch.
        if not wait_for(lambda: committed_batches(ckpt), PHASE_TIMEOUT_S):
            raise RuntimeError("the first backlog batch never committed")
        q1.stop()  # the failure: stop wherever the next batch has got to
        before = committed_batches(ckpt)
        t = time.time()
        q2 = start(available_now=True)
        out["restart_start_ms"] = (time.time() - t) * 1000
        queries.append(q2)
        # The stopped query may have written batch `nxt`'s chunk without
        # committing it; the restart replays it, so wait for the commit.
        nxt = max(before) + 1
        if not wait_for(lambda: nxt in committed_batches(ckpt), PHASE_TIMEOUT_S):
            raise RuntimeError("no batch committed after the restart")
        ok = os.path.join(log, "chunks", f"batch-rainstorm-{nxt:09d}", "_SUCCESS")
        out["recovery_s"] = os.stat(ok).st_mtime - t
        q2.awaitTermination(PHASE_TIMEOUT_S)
        if q2.isActive:
            raise RuntimeError("backlog did not drain")
        done = committed_batches(ckpt)
        last = os.path.join(log, "chunks", f"batch-rainstorm-{max(done):09d}", "_SUCCESS")
        out["result_s"] = os.stat(last).st_mtime - t
        events = progress_until(cap, str(q2.id), max(done))
    finally:
        for q in queries:
            if q.isActive:
                q.stop()
        ctx.spark.streams.removeListener(cap)
    run_ids.extend(str(q.runId) for q in queries)

    fb = file_batches(ckpt)
    _check_progress_rows("drain", events, files, fb, done, before)
    after = [e for e in events if e["runId"] == str(q2.runId)]
    out["events"] = events
    out["first_after_restart_ms"] = next(
        e["durationMs"]["triggerExecution"] for e in after if e["batchId"] == nxt
    )
    # capacity: the batches after the restart's first, which recovery_s times
    out["capacity_events"] = [e for e in after if e["batchId"] > nxt]
    if not out["capacity_events"]:
        raise RuntimeError("no backlog batch left after the restart's first")

    # Gates: every file taken by a committed batch, one chunk per committed
    # batch, no key twice in one batch, and the appendlog folded to the
    # latest _seq per key equals the golden counts.
    res.attempted += len(files)
    lost = [f.name for f in files if fb.get(f.name) not in done]
    if lost:
        res.fail(len(lost))
    t = time.perf_counter()
    log_rows = appendlog.get(ctx.spark, log).select("word", "count", "_seq").collect()
    out["read_ms"] = (time.perf_counter() - t) * 1000
    seqs = {r["_seq"] for r in log_rows}
    latest: dict[str, tuple[int, int]] = {}
    dup = 0
    for r in log_rows:
        prev = latest.get(r["word"])
        if prev is not None and prev[0] == r["_seq"]:
            dup += 1
        if prev is None or r["_seq"] > prev[0]:
            latest[r["word"]] = (r["_seq"], r["count"])
    fold_ok = Counter({w: c for w, (_, c) in latest.items()}) == gen.traffic_counts(lines)
    if seqs != done or dup or not fold_ok:
        res.correct = False
        res.details.setdefault("gate", []).append(
            f"drain: seqs_ok={seqs == done} dup_rows={dup} fold_ok={fold_ok}"
        )
    out["chunks"] = len(seqs)
    out["rows"] = len(log_rows)
    out["bytes"] = sum(
        os.path.getsize(os.path.join(dp, fn))
        for dp, _, fns in os.walk(os.path.join(log, "chunks"))
        for fn in fns
        if fn.endswith(".parquet")
    )
    out["first_files"] = [os.path.join(src, n) for n, b in fb.items() if b == 0]
    return out


# ---------------------------------------------------------------------------


def _stage1_probe(ctx: Ctx, op: str, files: list[str], out: dict) -> None:
    """Time the stage-1 operator alone on one batch's lines, as a static
    DataFrame (traced run only, after the streams have stopped)."""
    from pyspark.sql import functions as F

    with ctx.tracer.probe():
        df = ctx.spark.read.text(files).select(
            F.element_at(F.split(F.input_file_name(), "/"), -1).alias("key"), "value"
        )
        t = time.perf_counter()
        n = STAGE1_OPS[op](df, "").count()
        out["rainstorm.stage1_ms"] = (time.perf_counter() - t) * 1000
        out["rainstorm.stage1_rows_out"] = n


def _engine_layers(events: list[dict], out: dict) -> None:
    """Per-trigger medians of the engine's duration breakdown."""
    dur = lambda k: median(e["durationMs"].get(k, 0) for e in events)  # noqa: E731
    out["engine.latest_offset_ms"] = dur("latestOffset")
    out["engine.get_batch_ms"] = dur("getBatch")
    out["engine.query_planning_ms"] = dur("queryPlanning")
    out["engine.wal_commit_ms"] = dur("walCommit")
    out["engine.commit_offsets_ms"] = dur("commitOffsets")
    out["engine.add_batch_ms"] = dur("addBatch")
    out["engine.trigger_ms_p50"] = dur("triggerExecution")
    out["engine.batches"] = len(events)
    out["engine.rows_per_batch"] = median(e["numInputRows"] for e in events)


def _state_layers(events: list[dict], out: dict) -> None:
    """The stateful count's state store, from the same progress events."""
    ops = [e["stateOperators"][0] for e in events if e.get("stateOperators")]
    out["state.rows_total"] = ops[-1]["numRowsTotal"]
    out["state.memory_bytes"] = ops[-1]["memoryUsedBytes"]
    out["state.commit_ms"] = median(o.get("commitTimeMs", 0) for o in ops)
    out["state.rows_updated"] = sum(o["numRowsUpdated"] for o in ops)
    out["state.shuffle_partitions"] = ops[-1].get("numShufflePartitions", 0)


def stream_rainstorm(ctx: Ctx) -> Result:
    res = Result()
    run_ids: list[str] = []
    # The drain runs first: its batches warm the stream engine's shared
    # path (file source, state store, micro-batch commit), so the open loop's
    # triggers are at their steady cost from the start of its window.
    drain = _drain(ctx, res, run_ids)
    loop = _open_loop(ctx, res, run_ids)

    cap = drain["capacity_events"]
    res.throughput_per_s = sum(e["numInputRows"] for e in cap) / (
        sum(e["durationMs"]["triggerExecution"] for e in cap) / 1000
    )
    res.recovery_s = drain["recovery_s"]
    res.result_s = drain["result_s"]
    res.details.update(
        open_loop_trigger_ms=[e["durationMs"]["triggerExecution"] for e in loop["events"]],
        open_loop_start_s=loop["start_s"],
        lag_ms_max=max(loop["lag_ms"]),
        drain_trigger_ms=[e["durationMs"]["triggerExecution"] for e in drain["events"]],
        capacity_batches=len(cap),
    )

    tr = ctx.tracer
    if tr.enabled:
        L = res.layers
        _engine_layers(loop["events"], L)  # per-trigger costs that set latency
        _state_layers(drain["events"], L)  # the large, insert-heavy state
        L["loadgen.lag_ms_max"] = max(loop["lag_ms"])
        L["loadgen.files_written"] = loop["files"]
        L["engine.restart_start_ms"] = drain["restart_start_ms"]
        L["engine.first_batch_after_restart_ms"] = drain["first_after_restart_ms"]
        L["sink.write_ms"] = median(tr.durations_ms("sink.write"))
        L["sink.batches"] = len(tr.durations_ms("sink.write"))
        L["appendlog.chunks"] = drain["chunks"]
        L["appendlog.bytes_per_row"] = drain["bytes"] / max(1, drain["rows"])
        L["appendlog.read_ms"] = drain["read_ms"]
        with tr.probe():
            counts = [job_group_counts(ctx.spark, rid) for rid in run_ids]
        n_batches = len(loop["events"]) + len(drain["events"])
        for i, name in enumerate(("jobs", "stages", "tasks")):
            L[f"spark.{name}_per_query"] = sum(c[i] for c in counts) / n_batches
        _stage1_probe(ctx, "app1_2", drain["first_files"], L)
    return res
