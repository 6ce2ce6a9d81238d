"""Materialized result cache keyed by plan fingerprint — the warehouse
result-cache feature (Snowflake-style "same query, unchanged data → serve
the stored result") on plain parquet.

Fingerprint = sha256 of
  * the CANONICALIZED analyzed plan (Spark normalizes exprIds to `none#N`,
    so the same logical query from any session hashes identically while a
    changed filter literal or column set hashes differently), and
  * every input file's (path, size, mtime_ns) from `df.inputFiles()` — data
    changes invalidate without any notification channel — EXCEPT files that
    live inside an append-log table (io/appendlog.py), which are keyed on
    the log's LOGICAL batch identities instead: the union of committed
    batch-dir/chunk identities is invariant under merge/compaction (the
    rewrite changes files, not results, so the cache survives it) and gains
    a member on any genuine append (which correctly misses). Object-store
    deployments get the same win: manifest identity needs no stat()/mtime
    semantics from the storage layer.

Safety rails — `cached()` computes fresh and reports `cacheable=False` when
  * the plan has NO input files (createDataFrame / views over in-memory
    data): `inputFiles()` cannot see that data, so a stored result could go
    stale invisibly; or
  * the plan contains a non-deterministic or time-dependent expression
    (`rand`, `uuid`, `current_date`, `current_timestamp`,
    `monotonically_increasing_id`, `input_file_name`, ...): such a query
    canonicalizes identically tomorrow over unchanged files, so a stored
    result would silently freeze "now". Detected by walking the analyzed
    plan's expression classes (`analyzed().toJSON()`), not by string-
    matching the plan text — a column NAMED `rand_x` never false-positives.

At 100 TB this is the cheap end of incremental computation: the repeated
dashboard/report query costs one parquet read of its RESULT instead of a
corpus scan, and the first run after an ingest batch recomputes exactly
because the part-file listing (or the log manifest) moved.

Space discipline (round 9): the cache no longer grows without bound. Pass
`max_bytes` and every successful promotion runs an LRU eviction cycle:
committed entries carry a `_TOUCHED` recency marker (refreshed on every
hit), and while the committed total exceeds the budget the least-recently
touched entry is STAGED out of the fingerprint namespace with one atomic
rename (`<fp>.evicted-<uuid>`) — new lookups miss instantly — and
physically deleted only on a later cycle once the rename is older than
`_EVICT_GRACE_S` (the append-log merge-GC discipline: a reader that
resolved the dir just before eviction finishes its scan inside the grace
window instead of hitting FileNotFound). A reader that does lose the race
recomputes cleanly: the hit path re-reads defensively and falls through to
the miss path on any read error. Stale `*.tmp-*` writer dirs (losing
racers, crashed writers) are swept by age on every cached() call.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
import uuid
from collections import OrderedDict
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from streamds_spark.io import appendlog

# Catalyst expression classes whose value depends on run time, randomness, or
# physical placement — any occurrence makes a plan's RESULT non-reproducible
# from (plan, input data) alone, so it must never be served from the cache.
_NONDETERMINISTIC_EXPRS = frozenset(
    {
        # randomness (seeded rand() still varies with partition layout/time
        # of evaluation relative to other runs — never cache)
        "Rand",
        "Randn",
        "RandStr",
        "Uuid",
        "Shuffle",
        # physical placement / ids
        "MonotonicallyIncreasingID",
        "SparkPartitionID",
        "InputFileName",
        "InputFileBlockStart",
        "InputFileBlockLength",
        # time- and session-dependent
        "CurrentDate",
        "CurrentTimestamp",
        "Now",
        "LocalTimestamp",
        "CurrentTimeZone",
        "CurrentUser",
        "SessionUser",
        "CurrentDatabase",
        "CurrentCatalog",
        "CurrentBatchTimestamp",
    }
)


# Python-evaluated expression/plan classes: the function BODY lives in pickled
# Python bytecode that the canonicalized plan fingerprint cannot see (the plan
# prints only the udf's NAME), so two different functions with one name would
# collide and an edited udf would never invalidate. Never cache these.
_PYTHON_EVAL_MARKERS = (
    "PythonUDF",
    "PythonUDAF",
    "PythonUDTF",
    "InPandas",  # FlatMapGroupsInPandas, MapInPandas, ...WithState
    "InArrow",
    "PythonMap",
    "PythonFlatMap",
)


def _json_walk(df: DataFrame) -> "tuple[set[str], bool]":
    """(condemning class names, plan-contains-any-UDF) from one py4j call
    (analyzed().toJSON()) + a driver-side walk. The has_udf flag is read
    off AUTHORITATIVE Catalyst class names (ScalaUDF, PythonUDF, ...), not
    the plan's display text — Expression.toString prints the udf's NAME
    (`myfn(...)`), so text can never reveal udf-ness."""
    tree = json.loads(df._jdf.queryExecution().analyzed().toJSON())  # noqa: SLF001
    found: set[str] = set()
    has_udf = False

    def walk(o) -> None:
        nonlocal has_udf
        if isinstance(o, dict):
            c = o.get("class")
            if isinstance(c, str):
                simple = c.rsplit(".", 1)[-1]
                if simple in _NONDETERMINISTIC_EXPRS:
                    found.add(simple)
                if any(m in simple for m in _PYTHON_EVAL_MARKERS):
                    found.add(simple)
                if "UDF" in simple or "UserDefined" in simple:
                    has_udf = True
            if o.get("udfDeterministic") is False:
                found.add("udfDeterministic:false")
            for v in o.values():
                walk(v)
        elif isinstance(o, list):
            for v in o:
                walk(v)

    walk(tree)
    return found, has_udf


def nondeterministic_classes(df: DataFrame) -> set[str]:
    """Simple names of expression/plan classes that make the plan unsafe to
    cache (empty set → safe). Driver-side only, no jobs. Three detectors:

    * the named Catalyst non-deterministic/time-dependent class list;
    * any Python-evaluated expression or plan node (`PythonUDF`, grouped-map
      pandas, ...): the fingerprint cannot capture the Python function body;
    * catch-all for anything the list misses (future Catalyst expressions,
      `asNondeterministic()` udfs): any JSON node carrying
      `udfDeterministic: false`, plus a JVM walk asserting every plan node's
      top-level expressions report `deterministic == true` (an Expression's
      flag already folds in its expression children).
    """
    found, _has_udf = _json_walk(df)
    # The JVM walk is the CATCH-ALL for expressions the JSON walk cannot
    # name; it costs one py4j round-trip per plan node + expression, so skip
    # it when the plan is already condemned — one marker is enough to refuse
    # admission, and nothing downstream needs the full class set.
    if not found:
        found.update(_jvm_nondeterministic_nodes(df))
    return found


def _jvm_nondeterministic_nodes(df: DataFrame) -> set[str]:
    """Recurse the analyzed LogicalPlan via the JVM handle and return the
    node class names whose top-level expressions are not all deterministic —
    the authoritative Catalyst flag, covering expressions no list names."""
    found: set[str] = set()

    def visit(plan) -> None:
        exprs = plan.expressions()
        for i in range(exprs.size()):
            try:
                det = exprs.apply(i).deterministic()
            except Exception:  # unresolved/exotic expression: be conservative
                det = False
            if not det:
                found.add(plan.getClass().getSimpleName())
                break
        kids = plan.children()
        for i in range(kids.size()):
            visit(kids.apply(i))
        # subqueries hang off expressions, not children; the JSON walk plus
        # Catalyst's own deterministic folding cover scalar-subquery bodies.

    visit(df._jdf.queryExecution().analyzed())  # noqa: SLF001
    return found


# Admission-verdict memo (round 10, per VERDICT r9): repeated admissions of
# the same plan shape (the cache's entire use case: the dashboard query that
# runs every few minutes) must not re-pay the per-node/per-expression py4j
# JVM walk. The JSON walk (ONE py4j call + a driver-side parse) always runs —
# it is the authority on which classes the plan contains, and class presence
# is exactly what the canonical string CANNOT reveal: ScalaUDF/PythonUDF
# print as `name(children)` with no flag, so a udf and its
# .asNondeterministic() twin share a canonical string. The memo therefore
# covers only UDF-FREE plans (has_udf from the JSON class walk), where the
# canonical string does determine the expression classes and hence the JVM
# catch-all's verdict. Bounded LRU.
_VERDICT_MEMO: "OrderedDict[str, bool]" = OrderedDict()
_VERDICT_MEMO_MAX = 1024


def _plan_is_deterministic(df: DataFrame, canon: str) -> bool:
    found, has_udf = _json_walk(df)
    if found:
        return False
    if has_udf:
        # a udf-bearing plan that survived the JSON walk (a deterministic
        # JVM udf) must run the JVM catch-all EVERY time: the canonical
        # string cannot distinguish it from an asNondeterministic twin, so
        # memoizing would bridge them
        return not _jvm_nondeterministic_nodes(df)
    hit = _VERDICT_MEMO.get(canon)
    if hit is not None:
        _VERDICT_MEMO.move_to_end(canon)
        return hit
    verdict = not _jvm_nondeterministic_nodes(df)
    _VERDICT_MEMO[canon] = verdict
    if len(_VERDICT_MEMO) > _VERDICT_MEMO_MAX:
        _VERDICT_MEMO.popitem(last=False)
    return verdict


def plan_fingerprint(df: DataFrame) -> tuple[str, bool]:
    """(fingerprint hex, cacheable). Driver-side only — no jobs."""
    canon = df._jdf.queryExecution().analyzed().canonicalized().toString()  # noqa: SLF001
    files = sorted(df.inputFiles())
    stats = []
    logical: set[str] = set()
    for f in files:
        path = f[len("file:") :] if f.startswith("file:") else f
        ident = appendlog.file_logical_identity(path)
        if ident is not None:
            root, entries = ident
            logical.update(f"{root}::{e}" for e in entries)
            continue
        try:
            st = os.stat(path)
            stats.append([f, st.st_size, st.st_mtime_ns])
        except OSError:
            stats.append([f, -1, -1])
    payload = json.dumps([canon, stats, sorted(logical)], sort_keys=True)
    fp = hashlib.sha256(payload.encode()).hexdigest()[:32]
    cacheable = bool(files) and _plan_is_deterministic(df, canon)
    return fp, cacheable


@dataclass
class CacheResult:
    df: DataFrame
    hit: bool
    cacheable: bool
    fingerprint: str
    evicted: int = 0  # entries staged out by this call's eviction cycle


@dataclass
class CacheStats:
    """One eviction-cycle / census summary (server status() surfaces this)."""

    entries: int = 0
    bytes: int = 0
    staged_evictions: int = 0
    deleted_evictions: int = 0
    swept_tmp: int = 0
    evicted_fingerprints: list = field(default_factory=list)


# A losing racer's or crashed writer's private `<fp>.tmp-<uuid>` dir is swept
# once it is plausibly abandoned; generous because a loser may legitimately
# still be SERVING its temp dir to one in-flight request.
_TMP_SWEEP_AGE_S = 3600.0

# A staged `<fp>.evicted-<uuid>` dir survives at least this long before the
# physical rmtree — the window a reader that resolved the committed path just
# before eviction has to finish its scan (append-log merge-GC discipline:
# stage with an atomic rename now, reclaim on a LATER cycle).
_EVICT_GRACE_S = 60.0

_TOUCH = "_TOUCHED"  # per-entry recency marker; mtime = last hit


def _touch(dest: str) -> None:
    marker = os.path.join(dest, _TOUCH)
    try:
        with open(marker, "a"):
            pass
        os.utime(marker, None)
    except OSError:
        pass  # recency is best-effort; a missing marker degrades to dir mtime


def _recency(dest: str) -> float:
    try:
        return os.stat(os.path.join(dest, _TOUCH)).st_mtime
    except OSError:
        try:
            return os.stat(dest).st_mtime
        except OSError:
            return 0.0


def _dir_bytes(dest: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(dest):
        for f in files:
            try:
                total += os.stat(os.path.join(root, f)).st_size
            except OSError:
                pass
    return total


def _committed_entries(cache_dir: str) -> list:
    """[(fingerprint, dest_path)] for every committed (has _SUCCESS) entry.
    Staged evictions, writer temps, and lock files are not entries."""
    out = []
    try:
        names = os.listdir(cache_dir)
    except OSError:
        return out
    for name in names:
        if ".tmp-" in name or ".evicted-" in name or name.endswith(".lock"):
            continue
        dest = os.path.join(cache_dir, name)
        if os.path.exists(os.path.join(dest, "_SUCCESS")):
            out.append((name, dest))
    return out


def _sweep_stale(cache_dir: str, stats: CacheStats) -> None:
    """Reclaim abandoned writer temps (by age) and staged evictions whose
    grace window has passed. Best-effort and idempotent; any racer may run
    it concurrently — rmtree(ignore_errors) tolerates double-delete."""
    try:
        names = os.listdir(cache_dir)
    except OSError:
        return
    now = time.time()
    for name in names:
        path = os.path.join(cache_dir, name)
        try:
            age = now - os.stat(path).st_mtime
        except OSError:
            continue
        if ".tmp-" in name and age > _TMP_SWEEP_AGE_S:
            shutil.rmtree(path, ignore_errors=True)
            stats.swept_tmp += 1
        elif ".evicted-" in name and age > _EVICT_GRACE_S:
            shutil.rmtree(path, ignore_errors=True)
            stats.deleted_evictions += 1
        elif name.endswith(".lock") and age > _TMP_SWEEP_AGE_S:
            # a crashed lock-holder's orphan would otherwise block torn-dest
            # recovery for its fingerprint FOREVER (every miss re-materializes
            # into a private temp and strands it)
            try:
                os.unlink(path)
            except OSError:
                pass


def evict_to_budget(
    cache_dir: str, max_bytes: int, protect: str | None = None
) -> CacheStats:
    """LRU-evict committed entries until the committed total fits
    `max_bytes`. Eviction is a STAGE, not a delete: one atomic rename moves
    the entry out of the fingerprint namespace (new lookups miss instantly)
    and the bytes are reclaimed by a later cycle's sweep after the grace
    window — a committed dir is never rmtree'd in place under a reader.

    `protect` exempts one fingerprint (the entry the caller just promoted
    and is about to serve) — without it a single over-budget result would
    evict itself out from under its own writer; it becomes LRU-eligible on
    the next cycle like any other entry."""
    stats = CacheStats()
    _sweep_stale(cache_dir, stats)
    entries = [
        (fp, dest, _recency(dest), _dir_bytes(dest))
        for fp, dest in _committed_entries(cache_dir)
    ]
    stats.entries = len(entries)
    stats.bytes = sum(e[3] for e in entries)
    entries.sort(key=lambda e: e[2])  # oldest touch first
    total = stats.bytes
    for fp, dest, _rec, nbytes in entries:
        if total <= max_bytes:
            break
        if fp == protect:
            continue
        staged = f"{dest}.evicted-{uuid.uuid4().hex}"
        try:
            os.rename(dest, staged)
        except OSError:
            continue  # a racer staged it first — its bytes are already going
        # rename PRESERVES the dir's mtime, so without this touch the sweep's
        # age check would read time-since-PROMOTION and reclaim an old entry
        # on the very next cycle — the grace window must start NOW
        try:
            os.utime(staged, None)
        except OSError:
            pass
        total -= nbytes
        stats.staged_evictions += 1
        stats.evicted_fingerprints.append(fp)
    stats.entries -= stats.staged_evictions
    stats.bytes = total
    return stats


def cache_census(cache_dir: str) -> CacheStats:
    """Read-only census for status endpoints: committed entry count + bytes."""
    stats = CacheStats()
    entries = _committed_entries(cache_dir)
    stats.entries = len(entries)
    stats.bytes = sum(_dir_bytes(dest) for _fp, dest in entries)
    return stats


def cached(
    df: DataFrame, cache_dir: str, max_bytes: "int | None" = None
) -> CacheResult:
    """Serve `df`'s result from the cache when the fingerprint matches a
    stored run; otherwise materialize it there (parquet + _SUCCESS marker —
    a torn write is never visible) and serve the fresh copy. With
    `max_bytes`, a successful promotion triggers an LRU eviction cycle
    (see evict_to_budget)."""
    fp, cacheable = plan_fingerprint(df)
    if not cacheable:
        return CacheResult(df=df, hit=False, cacheable=False, fingerprint=fp)
    _sweep_stale(cache_dir, CacheStats())  # reclaim abandoned temps / staged
    dest = os.path.join(cache_dir, fp)
    spark = df.sparkSession
    if os.path.exists(os.path.join(dest, "_SUCCESS")):
        # Defensive read: a concurrent eviction cycle may stage this entry
        # away between the check and the footer read — recompute via the
        # miss path instead of surfacing FileNotFound to the caller.
        try:
            out = spark.read.parquet(dest)
            _touch(dest)
            return CacheResult(df=out, hit=True, cacheable=True, fingerprint=fp)
        except Exception:
            pass
    # Concurrent misses on one fingerprint must not interleave delete-then-
    # write sequences under one directory: materialize into a writer-unique
    # temp dir, then atomically promote via rename. Outcomes:
    #   * rename wins            -> serve dest, nothing to clean;
    #   * loser (dest complete)  -> drop own temp, serve the winner's
    #     identical-fingerprint copy;
    #   * dest torn (no _SUCCESS: a crashed pre-temp-dir-era writer) ->
    #     clear the wreck and retry the promotion ONCE, serialized by an
    #     O_EXCL lock file: without the lock, two racers' check-then-clear
    #     sequences can interleave so that one rmtrees the dir the other
    #     just promoted complete (the r8 advisor's TOCTOU). Under the lock
    #     the _SUCCESS state is re-checked, and the wreck is renamed ASIDE
    #     rather than rmtree'd in place, so even the unlocked first-rename
    #     path can never have a complete dir deleted under it. A racer that
    #     cannot take the lock serves its private temp dir (the age sweep
    #     reclaims it later).
    tmp = f"{dest}.tmp-{uuid.uuid4().hex}"
    df.write.mode("overwrite").parquet(tmp)
    serve = tmp
    try:
        os.rename(tmp, dest)
        serve = dest
    except OSError:
        if os.path.exists(os.path.join(dest, "_SUCCESS")):
            shutil.rmtree(tmp, ignore_errors=True)
            serve = dest
        else:
            lock = f"{dest}.lock"
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.close(fd)
            except OSError:
                pass  # another racer owns the cleanup; keep serving our tmp
            else:
                try:
                    if os.path.exists(os.path.join(dest, "_SUCCESS")):
                        # A winner promoted between our first check and the
                        # lock: NEVER clear it (the TOCTOU fix).
                        shutil.rmtree(tmp, ignore_errors=True)
                        serve = dest
                    else:
                        try:
                            os.rename(dest, f"{dest}.evicted-{uuid.uuid4().hex}")
                        except OSError:
                            pass  # wreck vanished under us; promotion decides
                        try:
                            os.rename(tmp, dest)
                            serve = dest
                        except OSError:
                            if os.path.exists(os.path.join(dest, "_SUCCESS")):
                                shutil.rmtree(tmp, ignore_errors=True)
                                serve = dest
                finally:
                    try:
                        os.unlink(lock)
                    except OSError:
                        pass
    evicted = 0
    if serve == dest:
        _touch(dest)
        if max_bytes is not None:
            evicted = evict_to_budget(cache_dir, max_bytes, protect=fp).staged_evictions
    return CacheResult(
        df=spark.read.parquet(serve),
        hit=False,
        cacheable=True,
        fingerprint=fp,
        evicted=evicted,
    )
