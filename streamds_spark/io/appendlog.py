"""Append-log table facade — the HyDFS user semantics (create/append/merge/get)
on Spark-native storage.

Reference behavior (SURVEY.md §1.3): appends are per-client chunk files tagged
with Lamport timestamps (appendLocal, core_process_utils.go:2165-2189); merge
sorts a client's appends by Lamport timestamp and concatenates (mergeFile,
:2040-2146) — per-client order guaranteed, cross-client order unspecified.

Here: an append-log table is a directory of parquet chunks, each row carrying
(client_id, seq, payload columns). `get` reads everything with per-client
ordering columns available; `merge` compacts chunks into one ordered table.
Replication/caching (3-way, invalidation) is the storage layer's job in a real
deployment (HDFS/S3 + table format) — by design not reimplemented.

Crash-safe merge layout (the reference's mergeFile rewrites in place only
because one HyDFS replica owns the file; on shared storage that loses data if
the writer dies mid-rewrite):
    path/chunks/*.parquet          — append target, never rewritten
    path/generations/g-<seq>/data  — each merge writes a NEW generation
    path/generations/g-<seq>/merged_chunks.txt — chunk files folded into it
    path/CURRENT                   — pointer to the live generation,
                                     os.replace'd (atomic on POSIX)
A reader resolves CURRENT, reads that generation's data, and unions any chunk
NOT listed in its manifest — so an append committed while a merge is running
is never dropped, and a crash at ANY point leaves either the old or the new
generation fully live. merge() is single-writer (two concurrent merges could
both win CURRENT; last pointer wins, no data loss either way).

Scale: append = one parquet write (no read-modify-write); merge = one sorted
rewrite, partitionable by client_id.
"""

from __future__ import annotations

import glob as _glob
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def create(spark: SparkSession, path: str) -> None:
    """CREATE: initialize an empty log dir (idempotent like the reference's
    createfile + overwrite-on-create). The `_APPENDLOG` marker tags the dir
    as this layout so tooling (resultcache) can recognize log-backed reads
    without guessing from path shapes."""
    os.makedirs(os.path.join(path, "chunks"), exist_ok=True)
    open(os.path.join(path, "_APPENDLOG"), "w").close()


def append(df: DataFrame, path: str, client_id: str) -> None:
    """APPEND: write one chunk tagged (client_id, seq, pos). seq is a per-append
    monotonic stamp (the Lamport-timestamp role: orders THIS client's appends);
    pos is a per-row ordinal within the chunk (monotonically_increasing_id is
    partition-major, so sorting by it reproduces the DataFrame's row order) —
    without it, lines inside one append would come back in arbitrary order."""
    seq = time.monotonic_ns()
    chunk = (
        df.withColumn("_client", F.lit(client_id))
        .withColumn("_seq", F.lit(seq))
        .withColumn("_pos", F.monotonically_increasing_id())
    )
    chunk.write.mode("append").parquet(os.path.join(path, "chunks"))
    # marker for humans/debugging; data order comes from the _seq column
    open(os.path.join(path, f".append-{client_id}-{seq}-{uuid.uuid4().hex[:6]}"), "w").close()


def append_batch(df: DataFrame, path: str, client_id: str, batch_id: int) -> None:
    """Idempotent APPEND for streaming micro-batches: the chunk lands in a
    DETERMINISTIC per-batch directory (overwrite mode), so a replayed batch —
    Structured Streaming's at-least-once redelivery after a crash — rewrites
    the same dir instead of duplicating rows. _seq = batch_id keeps the
    client's batch order; readers skip the dir until its _SUCCESS commits.

    Visibility caveat for CONCURRENT readers: overwrite mode deletes the dir
    (and its _SUCCESS) before rewriting it, so while a batch is replayed a
    reader listing the log sees that batch briefly absent, then back once
    the rewrite commits. The dir name `batch-<client>-<bid:09d>` is the
    log's one streaming-append format (max_batch_id parses it; merge keys
    it as `dir:<name>`)."""
    chunk = (
        df.withColumn("_client", F.lit(client_id))
        .withColumn("_seq", F.lit(int(batch_id)).cast("long"))
        .withColumn("_pos", F.monotonically_increasing_id())
    )
    dest = os.path.join(path, "chunks", f"batch-{client_id}-{int(batch_id):09d}")
    chunk.write.mode("overwrite").parquet(dest)


def _current_generation(path: str) -> str | None:
    """Resolve the live generation dir via the CURRENT pointer, trusting it
    only if the generation's data write committed (_SUCCESS)."""
    cur = os.path.join(path, "CURRENT")
    if not os.path.exists(cur):
        return None
    with open(cur) as f:
        gen = f.read().strip()
    gen_dir = os.path.join(path, "generations", gen)
    if os.path.exists(os.path.join(gen_dir, "data", "_SUCCESS")):
        return gen_dir
    return None


def _merged_chunk_names(gen_dir: str | None) -> set[str]:
    """Manifest entries: either a chunk file path relative to chunks/ (plain
    appends) or `dir:<reldir>` subsuming a WHOLE batch subdirectory. Dir-level
    entries exist because a replayed streaming batch rewrites its dir with
    fresh random part filenames — file-level keys would let the rewrite leak
    back into reads as duplicates of rows already folded into the generation;
    the dir key makes post-merge replay a true no-op."""
    if gen_dir is None:
        return set()
    manifest = os.path.join(gen_dir, "merged_chunks.txt")
    if not os.path.exists(manifest):
        return set()
    with open(manifest) as f:
        return {line.strip() for line in f if line.strip()}


def _live_chunk_files(path: str, gen_dir: str | None) -> list[str]:
    """Chunk files not yet folded into the live generation. Chunks live either
    directly under chunks/ (plain appends) or in per-batch subdirs (streaming
    append_batch) — batch dirs count only once committed (_SUCCESS), since a
    replayed batch overwrites its dir in place. Manifest keys are paths
    relative to chunks/ so same-named part files in different batch dirs never
    collide."""
    merged = _merged_chunk_names(gen_dir)
    merged_dirs = {m[len("dir:") :] for m in merged if m.startswith("dir:")}
    chunks_root = os.path.join(path, "chunks")
    out = []
    for p in _glob.glob(os.path.join(chunks_root, "**", "*.parquet"), recursive=True):
        rel = os.path.relpath(p, chunks_root)
        if os.path.dirname(rel) and not os.path.exists(
            os.path.join(os.path.dirname(p), "_SUCCESS")
        ):
            continue  # torn batch dir — replay will overwrite it
        if os.path.dirname(rel) in merged_dirs:
            continue  # whole batch dir already folded in (even if replayed)
        if rel not in merged:
            out.append(p)
    return sorted(out)


def max_batch_id(path: str) -> int:
    """Highest streaming batch id (append_batch) whose rows can be in the
    log right now, -1 if none: parsed from the live `batch-<client>-<bid>`
    dir names under chunks/ and the live generation's `dir:batch-...`
    manifest lines (batches a merge folded in and GC may have reclaimed).
    A torn dir counts too — its rows are on their way in."""
    names: set[str] = set()
    chunks_root = os.path.join(path, "chunks")
    if os.path.isdir(chunks_root):
        names.update(os.listdir(chunks_root))
    names.update(
        m[len("dir:") :]
        for m in _merged_chunk_names(_current_generation(path))
        if m.startswith("dir:")
    )
    best = -1
    for name in names:
        if name.startswith("batch-"):
            tail = name.rsplit("-", 1)[-1]
            if tail.isdigit():
                best = max(best, int(tail))
    return best


def delete_keys(
    spark: SparkSession, path: str, key_col: str, keys, fold_after: int = 0
) -> str:
    """Takedown: tombstone rows of this log by key (io/tombstones.py). The
    delete is an APPEND — a small committed parquet of keys — honored by
    every reader (`get`, `read_ordered`, `get_at`) as an anti-join from the
    moment it commits, and physically folded by the next `merge` (the
    rewrite filters the generation; the manifest gains a `del:` identity
    line so the result cache can never serve a pre-delete result as the
    post-fold read). `fold_after` carries the replay frontier for streaming
    logs (see tombstones module doc); the default 0 is the single-writer
    batch semantics: foldable by any merge."""
    from streamds_spark.io import tombstones

    return tombstones.add(spark, path, key_col, keys, fold_after=fold_after)


def _apply_tombstones(df: DataFrame, path: str) -> DataFrame:
    from streamds_spark.io import tombstones

    return tombstones.apply(df, path)


def get(spark: SparkSession, path: str) -> DataFrame:
    """GET: full view with per-client ordering columns (_client, _seq) —
    the live generation (if any) plus chunks appended since it was cut,
    minus any tombstoned keys (delete_keys).

    ONE parquet relation over the explicit file list (not a union of
    generation ∪ chunks): all files share the schema by construction (the
    generation is merged chunks), and the single-relation plan keeps the
    query SHAPE identical before and after a merge — which is what lets the
    result cache recognize a post-compaction read as the same logical query
    (resultcache keys log-backed scans on the logical manifest, not file
    stats)."""
    gen_dir = _current_generation(path)
    files = list(_live_chunk_files(path, gen_dir))
    if gen_dir is not None:
        files.extend(_glob.glob(os.path.join(gen_dir, "data", "*.parquet")))
    if not files:  # empty log: preserve the pre-generations error behavior
        return spark.read.parquet(os.path.join(path, "chunks"))
    return _apply_tombstones(spark.read.parquet(*sorted(files)), path)


def file_logical_identity(file_path: str) -> tuple[str, list[str]] | None:
    """Map a physical file inside an append-log to (log root, logical batch
    identities) — the content key that is INVARIANT under merge/compaction:

      chunks/<file>                      → its path relative to chunks/
      chunks/<batchdir>/<file>           → 'dir:<batchdir>'
      generations/<g>/data/<file>        → that generation's manifest lines
                                           (the chunks it folded in — a
                                           generation is immutable, so its
                                           manifest IS its content)

    merge() moves live-chunk identities verbatim into the new generation's
    manifest, so the UNION of identities across a log's read set is equal
    before and after a merge — and gains a member on any genuine append.
    Returns None for paths that are not inside a marker-tagged (_APPENDLOG)
    log, so callers fall back to stat-based keys for ordinary parquet."""
    p = file_path[len("file:") :] if file_path.startswith("file:") else file_path
    parts = p.split(os.sep)
    for marker in ("chunks", "generations"):
        if marker not in parts[:-1]:
            continue
        i = len(parts) - 2 - parts[-2::-1].index(marker)  # last dir occurrence
        root = os.sep.join(parts[:i])
        if not os.path.exists(os.path.join(root, "_APPENDLOG")):
            continue
        if marker == "chunks":
            rel = os.sep.join(parts[i + 1 :])
            parent = os.path.dirname(rel)
            if parent:
                return root, ["dir:" + parent]
            return root, [rel]
        # generations/<g>/data/<file>
        if len(parts) < i + 4 or parts[i + 2] != "data":
            continue
        gen = parts[i + 1]
        manifest = os.path.join(root, "generations", gen, "merged_chunks.txt")
        try:
            with open(manifest) as f:
                entries = sorted({line.strip() for line in f if line.strip()})
        except OSError:
            entries = []
        return root, entries or ["gen:" + gen]
    return None


def merge(
    spark: SparkSession,
    path: str,
    keep_generations: int = 2,
    tombstone_upto: int | None = 0,
) -> None:
    """MERGE: compact into a single ordered table — per-client append order
    preserved, cross-client order deterministic-but-arbitrary (client id
    order), matching the reference's mergeFile guarantee.

    Crash-safe: the merged table lands in a NEW generation dir; CURRENT is
    repointed with an atomic os.replace only after the write committed. A
    crash at any point leaves the previous view intact, and appends committed
    while this ran stay visible as un-merged chunks (not in the manifest).
    Single-writer: run one merge at a time.

    keep_generations retains that many newest committed generations (the live
    one included) as immutable snapshots readable via get_at — each is the
    log's state as of its merge point, so retention = time travel depth.

    Tombstone folding (delete_keys): the new generation is written with
    every committed tombstone's keys FILTERED OUT — the physical removal —
    and the manifest gains one `del:<dir>` line per applied tombstone so the
    generation's logical identity (and therefore every result-cache
    fingerprint over it) differs from the pre-delete log's. Tombstone dirs
    whose replay frontier the fold covers (`fold_after <= tombstone_upto`;
    `None` folds all — single-writer batch logs with no replay source) are
    then staged and reclaimed one merge cycle later, the same grace readers
    of subsumed chunks get. NOTE: time-travel generations retained by
    keep_generations were written pre-delete; get_at applies live tombstones
    on top, so a snapshot never resurfaces a taken-down key either."""
    from streamds_spark.io import tombstones as _tomb

    old_gen = _current_generation(path)
    snapshot = _live_chunk_files(path, old_gen)
    open(os.path.join(path, "_APPENDLOG"), "w").close()  # upgrade pre-marker logs

    gen = f"g-{time.monotonic_ns()}"
    gen_dir = os.path.join(path, "generations", gen)
    os.makedirs(gen_dir, exist_ok=True)

    # tombstone dirs snapshotted BEFORE the rewrite: only these are applied,
    # only these may be staged — a delete committing mid-merge stays live
    tomb_dirs = [d for d, _ in _tomb.committed_dirs(path)]

    parts = []
    if old_gen is not None:
        parts.append(spark.read.parquet(os.path.join(old_gen, "data")))
    if snapshot:
        parts.append(spark.read.parquet(*snapshot))
    if not parts:
        shutil.rmtree(gen_dir, ignore_errors=True)
        return
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    if tomb_dirs:
        tkeys = spark.read.parquet(*tomb_dirs)
        df = df.join(
            tkeys.select(tkeys.schema.fieldNames()[0]).distinct(),
            on=tkeys.schema.fieldNames()[0],
            how="left_anti",
        )
    df.orderBy("_client", "_seq", "_pos").write.parquet(os.path.join(gen_dir, "data"))

    # manifest BEFORE the pointer swap: a reader that sees the new CURRENT
    # must already know which chunks it subsumes (keys = paths relative to
    # chunks/, matching _live_chunk_files)
    chunks_root = os.path.join(path, "chunks")
    prev_merged = _merged_chunk_names(old_gen)
    new_entries: set[str] = set()
    for p in snapshot:
        rel = os.path.relpath(p, chunks_root)
        parent = os.path.dirname(rel)
        if parent:
            # streaming batch dir: subsume the DIR, not its part filenames —
            # a post-merge replay rewrites the dir with new random filenames,
            # and the dir key keeps that rewrite out of every future read
            new_entries.add("dir:" + parent)
        else:
            new_entries.add(rel)
    # applied tombstones are CONTENT: the generation's rows differ from the
    # raw union of its chunks, so its identity must too (del: lines make the
    # post-fold read fingerprint differently from the pre-delete log even
    # after the tombstone dirs themselves are reclaimed)
    new_entries.update(
        "del:" + os.path.basename(d) for d in tomb_dirs
    )
    manifest_entries = prev_merged | new_entries
    with open(os.path.join(gen_dir, "merged_chunks.txt"), "w") as f:
        for name in sorted(manifest_entries):
            f.write(name + "\n")

    tmp_ptr = os.path.join(path, "CURRENT.tmp")
    with open(tmp_ptr, "w") as f:
        f.write(gen)
    os.replace(tmp_ptr, os.path.join(path, "CURRENT"))  # atomic commit point

    # best-effort GC with a ONE-MERGE-CYCLE grace period (safe to re-run; a
    # crash here only leaves garbage, the manifest keeps subsumed chunks out
    # of every future read). Reclaiming what THIS merge just subsumed would
    # race concurrent readers: get() builds an explicit file list, so a
    # reader that listed against the OLD generation moments before the
    # pointer swap would hit FileNotFoundException mid-scan. Instead reclaim
    # only the residue of entries the PREVIOUS generation's manifest already
    # subsumed — invisible to every reader at the old generation or newer,
    # so only a reader that listed before the PREVIOUS swap (a full merge
    # cycle ago) could still want them. This merge's own subsumed chunks
    # stay on disk until the next merge pass.
    grace_files = {m for m in prev_merged if ":" not in m}
    grace_dirs = {m[len("dir:") :] for m in prev_merged if m.startswith("dir:")}
    for rel in grace_files:
        try:
            os.remove(os.path.join(chunks_root, rel))
        except OSError:
            pass
    for d in grace_dirs:
        shutil.rmtree(os.path.join(chunks_root, d), ignore_errors=True)
    for stale in list_generations(path)[: -max(1, keep_generations)]:
        shutil.rmtree(os.path.join(path, "generations", stale), ignore_errors=True)
    # tombstone GC: only dirs this fold APPLIED (the pre-rewrite snapshot)
    # and whose replay frontier it covers are staged; the physical delete
    # happens one merge cycle later (gc_then_stage's grace), during which
    # readers keep anti-joining them — double-filtering already-removed
    # keys is a no-op
    # retention alignment: the one-cycle grace (staged now, deleted next
    # merge) reclaims a tombstone exactly when the last PRE-DELETE
    # generation rotates out under keep_generations=2 (live + previous), so
    # get_at can never read pre-delete data without the tombstone to filter
    # it. Deeper retention keeps pre-delete snapshots longer than the
    # grace, so tombstones must then stay live with them.
    folded_tombs = (
        [
            d
            for d in tomb_dirs
            if d in set(_tomb.eligible_dirs(path, tombstone_upto))
        ]
        if keep_generations <= 2
        else []
    )
    _tomb.gc_then_stage(path, folded_tombs)
    for marker in os.listdir(path):
        if marker.startswith(".append-"):
            os.remove(os.path.join(path, marker))


def read_ordered(spark: SparkSession, path: str) -> DataFrame:
    """Read with the merge ordering applied (what the reference's readers see
    after a merge)."""
    return get(spark, path).orderBy("_client", "_seq", "_pos")


def list_generations(path: str) -> list[str]:
    """Committed generation names, oldest → newest (numeric merge order)."""
    root = os.path.join(path, "generations")
    if not os.path.isdir(root):
        return []
    gens = [
        g
        for g in os.listdir(root)
        if g.startswith("g-")
        and os.path.exists(os.path.join(root, g, "data", "_SUCCESS"))
    ]
    return sorted(gens, key=lambda g: int(g[2:]))


def get_at(spark: SparkSession, path: str, generation: str) -> DataFrame:
    """Snapshot read: the log exactly as of `generation`'s merge point (no
    later chunks). Generations are immutable once committed, so this is a
    consistent historical view for as long as merge retention keeps it."""
    gen_dir = os.path.join(path, "generations", generation)
    if not os.path.exists(os.path.join(gen_dir, "data", "_SUCCESS")):
        raise FileNotFoundError(
            f"generation {generation!r} not committed in {path} "
            f"(have: {list_generations(path)})"
        )
    # takedown reaches snapshots too: a tombstoned key must not be readable
    # through time travel — that is the POINT of a takedown
    return _apply_tombstones(
        spark.read.parquet(os.path.join(gen_dir, "data")), path
    )
