"""Append-log facade: per-client ordering through append + merge (HyDFS
user-semantics parity)."""

from __future__ import annotations

from streamds_spark.io import appendlog


def test_append_get_merge_ordering(spark, tmp_path):
    path = str(tmp_path / "log")
    appendlog.create(spark, path)
    # interleaved appends from two clients
    for i in range(3):
        appendlog.append(spark.createDataFrame([(f"a{i}",)], ["line"]), path, "clientA")
        appendlog.append(spark.createDataFrame([(f"b{i}",)], ["line"]), path, "clientB")
    before = appendlog.get(spark, path)
    assert before.count() == 6
    appendlog.merge(spark, path)
    rows = appendlog.read_ordered(spark, path).collect()
    # per-client order preserved after merge
    a_lines = [r["line"] for r in rows if r["_client"] == "clientA"]
    b_lines = [r["line"] for r in rows if r["_client"] == "clientB"]
    assert a_lines == ["a0", "a1", "a2"]
    assert b_lines == ["b0", "b1", "b2"]


def test_merge_is_idempotent(spark, tmp_path):
    path = str(tmp_path / "log")
    appendlog.create(spark, path)
    appendlog.append(spark.createDataFrame([("x",), ("y",)], ["line"]), path, "c1")
    appendlog.merge(spark, path)
    appendlog.merge(spark, path)
    assert sorted(r["line"] for r in appendlog.get(spark, path).collect()) == ["x", "y"]


def test_append_after_merge(spark, tmp_path):
    path = str(tmp_path / "log")
    appendlog.create(spark, path)
    appendlog.append(spark.createDataFrame([("one",)], ["line"]), path, "c1")
    appendlog.merge(spark, path)
    appendlog.append(spark.createDataFrame([("two",)], ["line"]), path, "c1")
    rows = [r["line"] for r in appendlog.read_ordered(spark, path).collect()]
    assert rows == ["one", "two"]


def test_within_append_line_order_preserved(spark, tmp_path):
    """Lines inside ONE append must keep their original order (regression:
    a chunk's rows all share _seq; the _pos ordinal disambiguates)."""
    path = str(tmp_path / "log")
    appendlog.create(spark, path)
    lines = [(f"line-{i:03d}",) for i in range(50)]
    appendlog.append(spark.createDataFrame(lines, ["line"]), path, "c1")
    got = [r["line"] for r in appendlog.read_ordered(spark, path).collect()]
    assert got == [l[0] for l in lines]
    appendlog.merge(spark, path)
    got2 = [r["line"] for r in appendlog.read_ordered(spark, path).collect()]
    assert got2 == [l[0] for l in lines]


def test_merge_crash_before_pointer_swap_is_invisible(spark, tmp_path):
    """A merge that dies after writing its generation but BEFORE the CURRENT
    os.replace must leave the previous view fully intact (orphan gen dir is
    garbage, not truth), and the next merge must succeed."""
    import os

    path = str(tmp_path / "log")
    appendlog.create(spark, path)
    appendlog.append(spark.createDataFrame([("x",), ("y",)], ["line"]), path, "c1")
    # simulate the orphan: a fully-written generation that never got committed
    orphan = os.path.join(path, "generations", "g-999")
    os.makedirs(os.path.join(orphan, "data"))
    open(os.path.join(orphan, "data", "_SUCCESS"), "w").close()
    with open(os.path.join(orphan, "merged_chunks.txt"), "w") as f:
        f.write("bogus.parquet\n")
    assert sorted(r["line"] for r in appendlog.get(spark, path).collect()) == ["x", "y"]
    appendlog.merge(spark, path)
    assert sorted(r["line"] for r in appendlog.get(spark, path).collect()) == ["x", "y"]


def test_merge_torn_generation_write_falls_back(spark, tmp_path):
    """CURRENT pointing at a generation whose data write never committed
    (no _SUCCESS — cannot happen via merge(), but storage can tear) must fall
    back to reading raw chunks rather than erroring."""
    import os

    path = str(tmp_path / "log")
    appendlog.create(spark, path)
    appendlog.append(spark.createDataFrame([("a",)], ["line"]), path, "c1")
    os.makedirs(os.path.join(path, "generations", "g-1", "data"))
    with open(os.path.join(path, "CURRENT"), "w") as f:
        f.write("g-1")
    assert [r["line"] for r in appendlog.get(spark, path).collect()] == ["a"]


def test_append_during_merge_window_survives(spark, tmp_path):
    """An append committed after a merge's snapshot must remain visible: the
    new generation's manifest only subsumes snapshotted chunks."""
    path = str(tmp_path / "log")
    appendlog.create(spark, path)
    appendlog.append(spark.createDataFrame([("one",)], ["line"]), path, "c1")

    real_live = appendlog._live_chunk_files

    def snapshot_then_append(p, gen_dir):
        snap = real_live(p, gen_dir)
        # a concurrent client lands an append after the snapshot was taken
        appendlog.append(spark.createDataFrame([("late",)], ["line"]), p, "c2")
        return snap

    orig = appendlog._live_chunk_files
    appendlog._live_chunk_files = snapshot_then_append
    try:
        appendlog.merge(spark, path)
    finally:
        appendlog._live_chunk_files = orig
    got = sorted(r["line"] for r in appendlog.get(spark, path).collect())
    assert got == ["late", "one"]


def test_append_batch_idempotent_replay(spark, tmp_path):
    """A replayed micro-batch (same batch_id) must overwrite, not duplicate —
    the exactly-once contract of the streaming appendlog sink."""
    path = str(tmp_path / "log")
    appendlog.create(spark, path)
    df = spark.createDataFrame([("a",), ("b",)], ["line"])
    appendlog.append_batch(df, path, "stream1", 0)
    appendlog.append_batch(df, path, "stream1", 0)  # redelivery
    appendlog.append_batch(spark.createDataFrame([("c",)], ["line"]), path, "stream1", 1)
    rows = [r["line"] for r in appendlog.read_ordered(spark, path).collect()]
    assert rows == ["a", "b", "c"]
    appendlog.merge(spark, path)
    rows2 = [r["line"] for r in appendlog.read_ordered(spark, path).collect()]
    assert rows2 == ["a", "b", "c"]
    # appends after a merge of batch chunks still work
    appendlog.append_batch(spark.createDataFrame([("d",)], ["line"]), path, "stream1", 2)
    assert [r["line"] for r in appendlog.read_ordered(spark, path).collect()] == [
        "a", "b", "c", "d",
    ]


def test_append_batch_replay_after_merge_noops(spark, tmp_path):
    """A batch replayed AFTER its chunk dir was folded into a generation must
    stay invisible: the rewrite lands with NEW random part filenames, so the
    manifest subsumes the whole DIR (dir: entries), not the old filenames —
    otherwise the replay would re-surface rows the generation already holds."""
    import os

    path = str(tmp_path / "log")
    appendlog.create(spark, path)
    df = spark.createDataFrame([("a",), ("b",)], ["line"])
    appendlog.append_batch(df, path, "stream1", 0)
    appendlog.append_batch(spark.createDataFrame([("c",)], ["line"]), path, "stream1", 1)
    appendlog.merge(spark, path)
    # post-merge redelivery of batch 0 (crash between sink write and
    # checkpoint commit, maintenance merge ran before the restart)
    appendlog.append_batch(df, path, "stream1", 0)
    assert [r["line"] for r in appendlog.read_ordered(spark, path).collect()] == [
        "a", "b", "c",
    ]
    # a second merge reclaims the replay's dir without duplicating anything
    appendlog.merge(spark, path)
    assert [r["line"] for r in appendlog.read_ordered(spark, path).collect()] == [
        "a", "b", "c",
    ]
    assert not [
        d for d in os.listdir(os.path.join(path, "chunks")) if d.startswith("batch-")
    ]


def test_max_batch_id_reads_live_dirs_and_merged_manifest(spark, tmp_path):
    """max_batch_id: -1 for an empty log; live batch-<client>-<bid> dirs
    count; a batch id that survives only in a merged generation's manifest
    (its dir reclaimed by merge GC) still counts."""
    import os

    path = str(tmp_path / "log")
    appendlog.create(spark, path)
    assert appendlog.max_batch_id(path) == -1
    df = spark.createDataFrame([("a",)], ["line"])
    appendlog.append(df, path, "plain")  # not a streaming batch
    appendlog.append_batch(df, path, "s1", 0)
    appendlog.append_batch(df, path, "s1", 7)
    assert appendlog.max_batch_id(path) == 7
    appendlog.merge(spark, path)
    appendlog.merge(spark, path)  # the second merge reclaims the folded dirs
    assert not [
        d for d in os.listdir(os.path.join(path, "chunks")) if d.startswith("batch-")
    ]
    assert appendlog.max_batch_id(path) == 7

def test_streaming_into_appendlog_sink(spark, tmp_path):
    """End-to-end: a streaming wordcount lands in the append-log store via
    foreach_batch_appendlog (the reference's RainStorm→HyDFS output path)."""
    import os

    from streamds_spark.streaming.engine import foreach_batch_appendlog

    src = str(tmp_path / "in")
    os.makedirs(src)
    for i, line in enumerate(["x y", "x z"]):
        with open(os.path.join(src, f"f{i}.txt"), "w") as f:
            f.write(line + "\n")
    log_path = str(tmp_path / "log")
    appendlog.create(spark, log_path)
    stream = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 1)
        .load(src)
        .selectExpr("explode(split(value, ' ')) AS word")
    )
    q = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(foreach_batch_appendlog(log_path, "wc-stream"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    words = sorted(r["word"] for r in appendlog.get(spark, log_path).collect())
    assert words == ["x", "x", "y", "z"]


def test_generation_snapshots_time_travel(spark, tmp_path):
    """Each committed generation is an immutable snapshot of the log at its
    merge point; retention bounds how far back get_at can reach."""
    path = str(tmp_path / "log")
    appendlog.create(spark, path)
    appendlog.append(spark.createDataFrame([("a",)], ["line"]), path, "c")
    appendlog.merge(spark, path)  # g1 = {a}
    appendlog.append(spark.createDataFrame([("b",)], ["line"]), path, "c")
    appendlog.merge(spark, path)  # g2 = {a, b}
    appendlog.append(spark.createDataFrame([("c",)], ["line"]), path, "c")

    gens = appendlog.list_generations(path)
    assert len(gens) == 2  # default retention keeps current + previous
    g1, g2 = gens
    assert {r["line"] for r in appendlog.get_at(spark, path, g1).collect()} == {"a"}
    assert {r["line"] for r in appendlog.get_at(spark, path, g2).collect()} == {"a", "b"}
    # the live view still sees the unmerged tail
    assert {r["line"] for r in appendlog.get(spark, path).collect()} == {"a", "b", "c"}


def test_generation_retention_gc(spark, tmp_path):
    path = str(tmp_path / "log")
    appendlog.create(spark, path)
    for i in range(4):
        appendlog.append(spark.createDataFrame([(f"x{i}",)], ["line"]), path, "c")
        appendlog.merge(spark, path, keep_generations=1)
    gens = appendlog.list_generations(path)
    assert len(gens) == 1  # only the live generation survives
    assert appendlog.get(spark, path).count() == 4
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        appendlog.get_at(spark, path, "g-0")


def test_merge_gc_grace_period_protects_inflight_readers(spark, tmp_path):
    """merge()'s GC defers reclaim by one merge cycle: a reader that built
    its explicit file list against the pre-merge view must be able to
    finish collecting AFTER the merge commits — every file it listed still
    exists. Only the merge after next reclaims them."""
    import os

    path = str(tmp_path / "log")
    appendlog.create(spark, path)
    for i in range(3):
        appendlog.append(
            spark.createDataFrame([(f"r{i}",)], ["line"]), path, f"c{i}"
        )
    reader = appendlog.get(spark, path)  # file list resolved pre-merge
    listed = [
        f[len("file:") :] if f.startswith("file:") else f
        for f in reader.inputFiles()
    ]
    assert listed
    appendlog.merge(spark, path)
    for f in listed:  # grace: nothing the reader listed was reclaimed
        assert os.path.exists(f), f
    assert sorted(r["line"] for r in reader.collect()) == ["r0", "r1", "r2"]
    # a fresh reader sees the merged view; the NEXT merge reclaims the aged
    # residue (and the view is unchanged)
    appendlog.merge(spark, path)
    assert not any(os.path.exists(f) for f in listed)
    assert sorted(
        r["line"] for r in appendlog.get(spark, path).collect()
    ) == ["r0", "r1", "r2"]

