"""Takedown / delete propagation (round 9): a deleted document must vanish
from EVERY persistent store — corpus appendlog, dedup hash/bucket stores,
CDC chunk store, bottom-k sample store, ANN/IVF index dirs — immediately at
read time (tombstone anti-join), physically at compaction (fold), without
replayed batches resurrecting it, and with the tombstones themselves
reclaimed once their replay frontier is covered."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from streamds_spark.catalog import load_table
from streamds_spark.io import appendlog, tombstones
from streamds_spark.streaming.llm_pipeline import (
    SAMPLE_K,
    CorpusStreamPaths,
    chunk_sharing_report,
    compact_stores,
    corpus_report,
    corpus_sample,
    delete_docs,
    rebuild_sketch_stores,
)

SF = "/root/testdata/sf0.001"


def _tomb_dirs(store: str) -> list[str]:
    return [d for d, _ in tombstones.committed_dirs(store)]


@pytest.fixture(scope="module")
def drained(spark, tmp_path_factory):
    """Drained corpus stream over the sf0.001 documents (4 files)."""
    from tests.test_llm_pipeline_stream import _split_into_files
    from streamds_spark.streaming.llm_pipeline import run_llm_corpus_stream

    root = tmp_path_factory.mktemp("takedown")
    src_dir, work_dir = str(root / "src"), str(root / "work")
    _split_into_files(spark, src_dir)
    q = run_llm_corpus_stream(spark, src_dir, work_dir)
    q.awaitTermination(timeout=300)
    assert not q.isActive
    return src_dir, work_dir


@pytest.mark.slow
def test_pipeline_takedown_lifecycle(spark, drained):
    """The full story on one work dir: delete -> every reader excludes ->
    re-ingestion of the freed content is kept -> compaction folds physically
    -> replay does not resurrect -> tombstones reclaimed -> sketch rebuild
    restores full-k sample exactness."""
    src_dir, work_dir = drained
    paths = CorpusStreamPaths(work_dir)

    corpus0 = appendlog.get(spark, paths.corpus)
    all_ids = sorted(r["doc_id"] for r in corpus0.select("doc_id").collect())
    # delete 3 docs, including one that IS in the merged bottom-k sample
    # (so the sample-store path is genuinely exercised)
    sampled = {r["doc_id"] for r in corpus_sample(spark, work_dir, k=50).collect()}
    doomed = sorted(sampled)[:2] + [i for i in all_ids if i not in sampled][:1]
    doomed_txt = {
        r["doc_id"]: r["text"]
        for r in corpus0.filter(F.col("doc_id").isin(doomed)).collect()
    }
    assert len(doomed_txt) == 3

    res = delete_docs(spark, work_dir, doomed, quiesced=True)
    assert res["n_docs_matched"] == 3

    # 1. every reader excludes immediately (tombstones live, nothing folded)
    remaining = set(all_ids) - set(doomed)
    got = {r["doc_id"] for r in appendlog.get(spark, paths.corpus).select("doc_id").collect()}
    assert got == remaining
    # the finalize report equals the batch report over the REMAINING docs
    from streamds_spark.queries.llmdata.corpus import pipeline_cap_report

    rep = sorted(tuple(r) for r in corpus_report(spark, work_dir).collect())
    want_rep = sorted(
        tuple(r)
        for r in pipeline_cap_report(
            appendlog.get(spark, paths.corpus).select(
                "doc_id", "source", "n_toks"
            )
        ).collect()
    )
    assert rep == want_rep
    sample = corpus_sample(spark, work_dir, k=40)
    assert not ({r["doc_id"] for r in sample.collect()} & set(doomed))
    from streamds_spark.streaming.llm_pipeline import corpus_weighted_sample

    wsample = corpus_weighted_sample(spark, work_dir, k=40)
    assert not ({r["doc_id"] for r in wsample.collect()} & set(doomed))
    share = chunk_sharing_report(spark, work_dir)
    assert not ({r["doc_id"] for r in share.collect()} & set(doomed))

    # 2. sample correctness under deletion: row-identical to a direct
    # bottom-k over the REMAINING corpus (the KMV membership is a pure
    # function of the surviving data)
    from streamds_spark.operators.sampling import bottomk_sample

    want = [
        (r["doc_id"], r["h"])
        for r in bottomk_sample(
            appendlog.get(spark, paths.corpus).select("doc_id"), "doc_id", 40
        )
        .orderBy("h", "doc_id")
        .collect()
    ]
    got_s = [(r["doc_id"], r["h"]) for r in sample.orderBy("h", "doc_id").collect()]
    assert got_s == want

    # 3. content hash released: the same TEXT under a new doc_id is KEPT
    # (pre-delete it would have been dropped as an exact dup)
    from streamds_spark.queries.llmdata.corpus import pipeline_gate
    from streamds_spark.streaming.llm_pipeline import process_corpus_batch

    new_id = max(all_ids) + 1000
    re_doc = (
        load_table(spark, SF, "documents")
        .filter(F.col("doc_id") == doomed[0])
        .withColumn("doc_id", F.lit(new_id).cast("bigint"))
    )
    process_corpus_batch(pipeline_gate(re_doc), 4, paths)
    got = {r["doc_id"] for r in appendlog.get(spark, paths.corpus).select("doc_id").collect()}
    assert new_id in got, "freed hash must admit re-ingested content"
    remaining = remaining | {new_id}

    # 4. compaction folds physically; readers unchanged
    compact_stores(spark, work_dir)
    got = {r["doc_id"] for r in appendlog.get(spark, paths.corpus).select("doc_id").collect()}
    assert got == remaining
    # segment contents (read RAW, bypassing the tombstone anti-join)
    for store in (paths.bucket_store, paths.chunk_store, paths.sample_store):
        segs = [
            os.path.join(store, d)
            for d in os.listdir(store)
            if d.startswith("segment=")
        ]
        assert segs, store
        raw = spark.read.parquet(*segs)
        assert not (
            {r["doc_id"] for r in raw.select("doc_id").distinct().collect()}
            & set(doomed)
        ), f"deleted ids physically present in {store}"
    # the corpus generation too (raw read of the live generation data)
    gen = appendlog.list_generations(paths.corpus)[-1]
    raw_gen = spark.read.parquet(
        os.path.join(paths.corpus, "generations", gen, "data")
    )
    assert not ({r["doc_id"] for r in raw_gen.select("doc_id").collect()} & set(doomed))
    # manifest carries the delete as identity
    with open(
        os.path.join(paths.corpus, "generations", gen, "merged_chunks.txt")
    ) as f:
        assert any(ln.startswith("del:") for ln in f), "identity must change"

    # 5. replay of batch 0 (contains the deleted docs) post-compaction:
    # writes land, no reader sees them, nothing resurrects
    schema = spark.read.parquet(src_dir).schema
    batch0 = pipeline_gate(
        spark.read.schema(schema).parquet(os.path.join(src_dir, "000.parquet"))
    )
    process_corpus_batch(batch0, 0, paths)
    got = {r["doc_id"] for r in appendlog.get(spark, paths.corpus).select("doc_id").collect()}
    assert got == remaining
    assert not (
        {r["doc_id"] for r in corpus_sample(spark, work_dir, k=40).collect()}
        & set(doomed)
    )

    # 6. tombstones were staged by the first fold and are reclaimed by the
    # next maintenance pass; exclusion persists WITHOUT them (it is
    # physical now)
    staged_somewhere = any(
        _tomb_dirs(s)
        for s in (paths.bucket_store, paths.chunk_store, paths.sample_store)
    )
    assert staged_somewhere  # staged but not yet deleted (grace)
    compact_stores(spark, work_dir)
    for store in (paths.bucket_store, paths.chunk_store, paths.sample_store):
        assert _tomb_dirs(store) == [], f"tombstones not reclaimed in {store}"
    assert _tomb_dirs(paths.corpus) == []
    got = {r["doc_id"] for r in appendlog.get(spark, paths.corpus).select("doc_id").collect()}
    assert got == remaining

    # 7. sketch stores cannot subtract: rebuild re-derives them from the
    # post-takedown corpus — sample exact at FULL k again, erosion reset,
    # and the rebuilt registers equal one-pass sketches over the remainder
    rb = rebuild_sketch_stores(spark, work_dir)
    assert set(rb["rebuilt"]) == {
        "hll_store",
        "hdr_store",
        "sample_store",
        "wsample_store",
        "mg_store",
    }
    full = corpus_sample(spark, work_dir, k=SAMPLE_K)
    want_full = [
        (r["doc_id"], r["h"])
        for r in bottomk_sample(
            appendlog.get(spark, paths.corpus).select("doc_id"),
            "doc_id",
            SAMPLE_K,
        )
        .orderBy("h", "doc_id")
        .collect()
    ]
    assert [
        (r["doc_id"], r["h"]) for r in full.orderBy("h", "doc_id").collect()
    ] == want_full
    from streamds_spark.operators.hdr import hdr_quantiles, hdr_registers
    from streamds_spark.streaming.llm_pipeline import doclen_quantiles_estimate

    want_q = sorted(
        tuple(r)
        for r in hdr_quantiles(
            hdr_registers(
                appendlog.get(spark, paths.corpus).select(
                    F.length("text").alias("_len")
                ),
                "_len",
            ),
            {"p50": 0.5, "p90": 0.9, "p99": 0.99},
        ).collect()
    )
    got_q = sorted(tuple(r) for r in doclen_quantiles_estimate(spark, work_dir).collect())
    assert got_q == want_q


@pytest.mark.slow
def test_sample_guard_refuses_overexposed_k(spark, drained):
    """Deleting rows out of the stored samples exposes the unstored tail:
    corpus_sample must refuse k beyond SAMPLE_K - hits instead of silently
    returning a non-uniform draw. (Runs AFTER the lifecycle test's rebuild,
    which restored exactness — so this test makes its own deletions.)"""
    _, work_dir = drained
    paths = CorpusStreamPaths(work_dir)
    in_sample = [
        r["doc_id"]
        for r in corpus_sample(spark, work_dir, k=SAMPLE_K).limit(5).collect()
    ]
    delete_docs(spark, work_dir, in_sample, quiesced=True)
    with pytest.raises(ValueError, match="takedowns"):
        corpus_sample(spark, work_dir, k=SAMPLE_K)
    # under the exposure bound the draw still works and excludes
    small = corpus_sample(spark, work_dir, k=SAMPLE_K - 5)
    assert not ({r["doc_id"] for r in small.collect()} & set(in_sample))
    # rebuild restores full-k draws
    rebuild_sketch_stores(spark, work_dir)
    assert corpus_sample(spark, work_dir, k=SAMPLE_K).count() > 0


@pytest.mark.slow
def test_conservative_fold_after_keeps_tombstones_alive(spark, tmp_path):
    """Without quiesced=True the tombstone's replay frontier is frontier+1,
    which a fold at the durable frontier does NOT cover: the tombstone must
    survive compaction (still anti-joined), because the in-flight batch
    could replay pre-delete rows."""
    from tests.test_llm_pipeline_stream import _split_into_files
    from streamds_spark.streaming.llm_pipeline import run_llm_corpus_stream

    src_dir, work_dir = str(tmp_path / "src"), str(tmp_path / "work")
    _split_into_files(spark, src_dir, n_files=2)
    q = run_llm_corpus_stream(spark, src_dir, work_dir)
    q.awaitTermination(timeout=300)
    paths = CorpusStreamPaths(work_dir)
    ids = [
        r["doc_id"]
        for r in appendlog.get(spark, paths.corpus).limit(2).collect()
    ]
    delete_docs(spark, work_dir, ids)  # conservative default
    compact_stores(spark, work_dir)
    compact_stores(spark, work_dir)
    # still live everywhere (fold_after = frontier+1 > any fold's upto)
    for store in (paths.bucket_store, paths.sample_store):
        assert _tomb_dirs(store), f"tombstone prematurely reclaimed in {store}"
    assert _tomb_dirs(paths.corpus)
    got = {r["doc_id"] for r in appendlog.get(spark, paths.corpus).select("doc_id").collect()}
    assert not (got & set(ids))


def test_appendlog_delete_and_merge_fold(spark, tmp_path):
    """Generic appendlog takedown: delete_keys -> get/get_at exclude; merge
    physically folds (raw generation read), writes a del: identity line,
    and reclaims the tombstone one merge cycle later."""
    log = str(tmp_path / "log")
    appendlog.create(spark, log)
    data = spark.createDataFrame(
        [(i, f"v{i}") for i in range(30)], "id int, v string"
    )
    appendlog.append_batch(data, log, "c1", 0)
    appendlog.merge(spark, log)  # generation exists -> get_at is testable
    gen0 = appendlog.list_generations(log)[-1]

    appendlog.delete_keys(spark, log, "id", [3, 7, 11])
    got = {r["id"] for r in appendlog.get(spark, log).collect()}
    assert got == set(range(30)) - {3, 7, 11}
    # time travel cannot resurface a taken-down key
    snap = {r["id"] for r in appendlog.get_at(spark, log, gen0).collect()}
    assert not (snap & {3, 7, 11})

    appendlog.merge(spark, log)
    gen1 = appendlog.list_generations(log)[-1]
    raw = spark.read.parquet(os.path.join(log, "generations", gen1, "data"))
    assert not ({r["id"] for r in raw.collect()} & {3, 7, 11})
    with open(os.path.join(log, "generations", gen1, "merged_chunks.txt")) as f:
        assert any(ln.startswith("del:") for ln in f)
    assert _tomb_dirs(log), "staged, not yet reclaimed (grace cycle)"
    appendlog.merge(spark, log)
    assert _tomb_dirs(log) == []
    got = {r["id"] for r in appendlog.get(spark, log).collect()}
    assert got == set(range(30)) - {3, 7, 11}


def test_appendlog_delete_invalidates_result_cache(spark, tmp_path):
    """The result cache must never serve a pre-delete result: the live
    tombstone changes the fingerprint (its files are inputs), and after the
    fold reclaims it the generation's del: manifest line keeps the identity
    distinct from the pre-delete log's."""
    from streamds_spark.io.resultcache import cached

    log, cache = str(tmp_path / "log"), str(tmp_path / "cache")
    appendlog.create(spark, log)
    data = spark.createDataFrame(
        [(i, f"v{i % 3}") for i in range(30)], "id int, v string"
    )
    appendlog.append_batch(data, log, "c1", 0)

    def q():
        return (
            appendlog.get(spark, log).groupBy("v").agg(F.count("*").alias("n"))
        )

    a = cached(q(), cache)
    assert a.cacheable and not a.hit
    pre = {(r["v"], r["n"]) for r in a.df.collect()}

    appendlog.delete_keys(spark, log, "id", [0, 1, 2])
    b = cached(q(), cache)
    assert not b.hit and b.fingerprint != a.fingerprint
    post = {(r["v"], r["n"]) for r in b.df.collect()}
    assert post != pre

    appendlog.merge(spark, log)
    appendlog.merge(spark, log)  # tombstone reclaimed
    assert _tomb_dirs(log) == []
    c = cached(q(), cache)
    assert c.fingerprint != a.fingerprint, "post-fold must not collide with pre-delete"
    assert {(r["v"], r["n"]) for r in c.df.collect()} == post


@pytest.mark.slow
def test_ann_delete_vectors_probe_and_compaction(spark, tmp_path):
    """Hyperplane incremental index: delete_vectors -> probe excludes
    immediately; compaction folds physically and reclaims the tombstone on
    the following pass; probes agree throughout."""
    from streamds_spark.operators.ann_incremental import (
        ann_index_append,
        ann_index_probe,
        compact_ann_index,
        delete_vectors,
    )

    emb = load_table(spark, SF, "embeddings").limit(60)
    idx = str(tmp_path / "ann")
    rows = emb.collect()
    for i in range(3):
        part = spark.createDataFrame(rows[i * 20 : (i + 1) * 20], emb.schema)
        ann_index_append(part, idx, i, n_planes=4)
    qvec = [float(x) for x in rows[0]["embedding"]]
    top = ann_index_probe(spark, idx, qvec, k=5).collect()
    victim = top[0]["vec_id"]
    assert victim == rows[0]["vec_id"]  # self-match leads

    delete_vectors(spark, idx, [int(victim)], quiesced=True)
    after = ann_index_probe(spark, idx, qvec, k=5).collect()
    assert victim not in {r["vec_id"] for r in after}
    assert len(after) >= 1  # bucket-mates survive (bucket holds few at sf0.001)

    compact_ann_index(spark, idx)
    seg = [d for d in os.listdir(idx) if d.startswith("segment=")]
    assert seg
    raw = spark.read.parquet(os.path.join(idx, seg[0]))
    assert victim not in {r["vec_id"] for r in raw.select("vec_id").collect()}
    assert [
        r["vec_id"] for r in ann_index_probe(spark, idx, qvec, k=5).collect()
    ] == [r["vec_id"] for r in after]
    assert _tomb_dirs(idx), "staged (grace)"
    compact_ann_index(spark, idx)  # no batches: GC-only pass
    assert _tomb_dirs(idx) == []
    assert [
        r["vec_id"] for r in ann_index_probe(spark, idx, qvec, k=5).collect()
    ] == [r["vec_id"] for r in after]


@pytest.mark.slow
def test_ivf_delete_vectors_and_rebuild(spark, tmp_path):
    """IVF twin: probe excludes tombstoned ids, and ivf_index_rebuild trains
    the fresh store from the post-delete view only."""
    from streamds_spark.operators.ann_incremental import delete_vectors
    from streamds_spark.operators.ivf_incremental import (
        ivf_index_append,
        ivf_index_probe,
        ivf_index_rebuild,
    )

    emb = load_table(spark, SF, "embeddings").limit(60)
    idx = str(tmp_path / "ivf")
    rows = emb.collect()
    for i in range(2):
        part = spark.createDataFrame(rows[i * 30 : (i + 1) * 30], emb.schema)
        ivf_index_append(part, idx, i, n_lists=4)
    qvec = [float(x) for x in rows[5]["embedding"]]
    victim = int(rows[5]["vec_id"])
    got = {r["vec_id"] for r in ivf_index_probe(spark, idx, qvec, k=5, n_probe=4).collect()}
    assert victim in got

    delete_vectors(spark, idx, [victim], quiesced=True)
    got = {r["vec_id"] for r in ivf_index_probe(spark, idx, qvec, k=5, n_probe=4).collect()}
    assert victim not in got

    new_idx = str(tmp_path / "ivf2")
    n = ivf_index_rebuild(spark, idx, new_idx, n_lists=4)
    assert n == 59  # one vector taken down
    raw = spark.read.parquet(os.path.join(new_idx, "batch=0"))
    assert victim not in {r["vec_id"] for r in raw.select("vec_id").collect()}


def test_tombstone_store_unit(spark, tmp_path):
    """Primitive contracts: key-column consistency, distinct union, fold
    eligibility, one-cycle grace."""
    store = str(tmp_path / "store")
    os.makedirs(store)
    tombstones.add(spark, store, "doc_id", [1, 2, 2, 3], fold_after=5)
    tombstones.add(spark, store, "doc_id", [3, 4], fold_after=9)
    with pytest.raises(ValueError, match="keyed on"):
        tombstones.add(spark, store, "other", [9])
    key, df = tombstones.keys_df(spark, store)
    assert key == "doc_id"
    assert sorted(r["doc_id"] for r in df.collect()) == [1, 2, 3, 4]

    base = spark.createDataFrame([(i, i * 10) for i in range(8)], "doc_id long, x long")
    left = tombstones.apply(base, store)
    assert sorted(r["doc_id"] for r in left.collect()) == [0, 5, 6, 7]
    assert tombstones.suppressed_count(spark, store, base) == 4

    dirs = [d for d, _ in tombstones.committed_dirs(store)]
    assert tombstones.eligible_dirs(store, 4) == []
    assert tombstones.eligible_dirs(store, 5) == dirs[:1]
    assert tombstones.eligible_dirs(store, None) == dirs

    # grace: stage dir 0 -> still applied; next cycle deletes it
    tombstones.gc_then_stage(store, dirs[:1])
    assert sorted(r["doc_id"] for r in tombstones.apply(base, store).collect()) == [0, 5, 6, 7]
    deleted = tombstones.gc_then_stage(store, [])
    assert deleted == 1
    assert sorted(
        r["doc_id"] for r in tombstones.apply(base, store).collect()
    ) == [0, 1, 2, 5, 6, 7]


@pytest.mark.slow
def test_erosion_counts_only_rows_this_fold_removes(spark, tmp_path):
    """A tombstoned key whose sample rows live ABOVE the fold frontier must
    NOT bump erosion (its rows survive and stay suppressed-live) — counting
    it early double-counted the exposure (erosion + live suppression) and
    each later pass ratcheted the guard further."""
    from streamds_spark.io import tombstones
    from streamds_spark.streaming.llm_pipeline import (
        _compact_sample_store,
        _sample_erosion,
    )

    store = str(tmp_path / "sample_store")
    for b, ids in enumerate([[1, 2], [3, 4], [5, 6]]):
        spark.createDataFrame([(i,) for i in ids], "doc_id bigint").coalesce(
            1
        ).write.parquet(f"{store}/batch={b}")
    # doc 5 lives only in batch=2
    tombstones.add(spark, store, "doc_id", [5], fold_after=0)

    folded = _compact_sample_store(spark, store, upto_batch=1, num_files=None)
    assert folded == 2  # batches 0,1
    assert _sample_erosion(store) == 0  # doc 5's rows were NOT touched

    folded = _compact_sample_store(spark, store, upto_batch=2, num_files=None)
    assert folded >= 1  # batch 2 (+ previous segment)
    assert _sample_erosion(store) == 1  # counted exactly once, at removal

    # idempotent: nothing left to fold, nothing re-counted
    _compact_sample_store(spark, store, upto_batch=2, num_files=None)
    assert _sample_erosion(store) == 1


@pytest.mark.slow
def test_takedown_surface_cli_and_server(spark, drained, tmp_path):
    """The operational takedown surface (round 10): the default server is
    read-only and REFUSES the takedown verb even with a pipeline attached
    (writes are a startup decision); an --allow-writes server serves it with
    input validation; the CLI verb drives the same delete; and every served
    action lands in the work dir's durable takedown ledger."""
    import io
    import json
    from contextlib import redirect_stdout

    from streamds_spark.cli import main as cli_main
    from streamds_spark.server import request, start_server

    _, work_dir = drained
    paths = CorpusStreamPaths(work_dir)

    def live_ids():
        return sorted(
            r["doc_id"]
            for r in appendlog.get(spark, paths.corpus).select("doc_id").collect()
        )

    before = live_ids()
    assert len(before) >= 3

    # read-only server: refused at the guard, pipeline attached or not
    ro = start_server(spark, SF)
    try:
        host, port = ro.server_address[:2]
        ro.attach_pipeline(object(), work_dir)
        r = request(host, port, {"cmd": "takedown", "doc_ids": [before[-1]]})
        assert not r["ok"] and "read-only" in r["error"]
        assert live_ids() == before  # nothing happened
    finally:
        ro.shutdown()
        ro.server_close()

    # allow-writes server: validation, then the real delete
    audit = str(tmp_path / "server_audit.jsonl")
    rw = start_server(spark, SF, allow_writes=True, audit_log=audit)
    try:
        host, port = rw.server_address[:2]
        r = request(host, port, {"cmd": "takedown", "doc_ids": [before[-1]]})
        assert not r["ok"] and "no pipeline" in r["error"]
        rw.attach_pipeline(object(), work_dir)
        for bad in (
            {},
            {"doc_ids": []},
            {"doc_ids": ["x"]},
            {"doc_ids": 3},
            {"doc_ids": [True]},  # bool is an int subclass — must be refused
        ):
            r = request(host, port, {"cmd": "takedown", **bad})
            assert not r["ok"]
        doomed = before[-1]
        r = request(
            host, port,
            {"cmd": "takedown", "doc_ids": [doomed], "quiesced": True},
        )
        assert r["ok"] and r["n_docs_matched"] == 1 and "corpus" in r["stores"]
        assert doomed not in live_ids()
        # the server flight recorder saw both refused and served calls
        kinds = [json.loads(ln)["kind"] for ln in open(audit)]
        assert kinds.count("takedown") >= 2
    finally:
        rw.shutdown()
        rw.server_close()

    # CLI verb drives the same delete
    doomed2 = live_ids()[-1]
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = cli_main(["takedown", work_dir, str(doomed2), "--quiesced"])
    assert rc in (0, None)
    out = buf.getvalue()
    assert "matched:1" in out and "corpus" in out
    assert doomed2 not in live_ids()

    # the durable ledger recorded every served action (2 deletes here plus
    # whatever earlier tests on this work dir wrote), newest last
    ledger = os.path.join(work_dir, "takedown_audit.jsonl")
    recs = [json.loads(ln) for ln in open(ledger)]
    dels = [r for r in recs if r["action"] == "delete_docs"]
    assert len(dels) >= 2
    assert dels[-1]["n_docs_matched"] == 1 and "corpus" in dels[-1]["stores"]
    assert all("ts" in r for r in recs)

    # CLI input validation fails loudly before touching anything
    import pytest as _pytest

    with _pytest.raises(SystemExit):
        cli_main(["takedown", work_dir, "1,,2"])
    with _pytest.raises(SystemExit):
        cli_main(["takedown", work_dir, "1,x"])
    with _pytest.raises(SystemExit):  # rebuild requires an asserted quiesce
        cli_main(["takedown", work_dir, "1", "--rebuild-sketches"])


@pytest.mark.slow
def test_takedown_cascades_into_registered_views(spark, tmp_path):
    """Round-11 brief item 1: views registered against a pipeline work dir
    (views.json) are consulted by delete_docs — subtractable specs get the
    negative-delta write derived from the doomed corpus rows (view_report
    then equals the batch aggregate over the remaining corpus, replay-safe),
    min/max specs get an explicit durable rebuild-required flag (never
    silence), never-ingested stores are skipped, and every mutation lands in
    a takedown ledger."""
    import json

    from tests.test_llm_pipeline_stream import _split_into_files
    from streamds_spark.streaming import viewstore as vws
    from streamds_spark.streaming.llm_pipeline import run_llm_corpus_stream

    src_dir, work_dir = str(tmp_path / "src"), str(tmp_path / "work")
    _split_into_files(spark, src_dir)
    q = run_llm_corpus_stream(spark, src_dir, work_dir)
    q.awaitTermination(timeout=300)
    assert not q.isActive
    paths = CorpusStreamPaths(work_dir)
    pre = appendlog.get(spark, paths.corpus)
    pre_rows, pre_schema = pre.collect(), pre.schema  # pre-delete snapshot

    sub_spec = vws.ViewSpec(
        keys=("source",),
        aggs={
            "chars": ("sum", "n_chars"),
            "docs": ("count", None),
            "p50c": ("p50", "n_chars"),
        },
    )
    mm_spec = vws.ViewSpec(keys=("lang",), aggs={"hi": ("max", "n_chars")})
    vdir_sub = vws.register_view(work_dir, "by_source", sub_spec)
    vdir_mm = vws.register_view(work_dir, "max_by_lang", mm_spec)
    vws.register_view(work_dir, "never_ran", sub_spec)
    assert set(vws.registered_views(work_dir)) == {
        "by_source", "max_by_lang", "never_ran",
    }
    # both live views have ingested the full corpus (partials are a pure
    # function of the batch, so a direct batch-0 write == a drained stream)
    vws.write_view_batch(pre, 0, os.path.join(vdir_sub, "view_store"), sub_spec)
    vws.write_view_batch(pre, 0, os.path.join(vdir_mm, "view_store"), mm_spec)

    doomed = sorted(r["doc_id"] for r in pre_rows)[:3]
    stats = delete_docs(spark, work_dir, doomed, quiesced=True)
    assert stats["n_docs_matched"] == 3
    assert stats["views"]["by_source"].startswith("delta:")
    assert stats["views"]["max_by_lang"] == "rebuild_required"
    assert stats["views"]["never_ran"] == "empty"

    def _rows(df):
        return sorted(tuple(r) for r in df.select(*sorted(df.columns)).collect())

    # subtractable view == batch aggregate over the REMAINING corpus
    remaining = appendlog.get(spark, paths.corpus)
    want_sub = vws.view_fold(vws.view_batch_state(remaining, sub_spec), sub_spec)
    assert _rows(vws.view_report(spark, vdir_sub, sub_spec)) == _rows(want_sub)

    # replay-safe: a replayed source batch rewrites batch=0 with PRE-delete
    # partials (raw input is pre-delete); the delta still cancels exactly
    pre_df = spark.createDataFrame(pre_rows, pre_schema)
    vws.write_view_batch(
        pre_df, 0, os.path.join(vdir_sub, "view_store"), sub_spec
    )
    assert _rows(vws.view_report(spark, vdir_sub, sub_spec)) == _rows(want_sub)

    # min/max: explicit, durable, actionable — not silence
    marker = vws.rebuild_required(vdir_mm)
    assert marker and marker["pending_takedowns"] == 1
    assert "cannot subtract" in marker["reason"]
    # a second takedown before the rebuild stays visible
    stats2 = delete_docs(spark, work_dir, sorted(
        r["doc_id"] for r in pre_rows
    )[3:4], quiesced=True)
    assert stats2["views"]["max_by_lang"] == "rebuild_required"
    assert vws.rebuild_required(vdir_mm)["pending_takedowns"] == 2
    # the documented fix: rebuild from the post-takedown corpus, flag clears
    remaining2 = appendlog.get(spark, paths.corpus)
    assert vws.rebuild_view(spark, vdir_mm, mm_spec, remaining2) == 0
    assert vws.rebuild_required(vdir_mm) is None
    want_mm = vws.view_fold(vws.view_batch_state(remaining2, mm_spec), mm_spec)
    assert _rows(vws.view_report(spark, vdir_mm, mm_spec)) == _rows(want_mm)

    # ledgers: the pipeline ledger records the cascade dispositions; each
    # mutated view dir records its own mutation
    with open(os.path.join(work_dir, "takedown_audit.jsonl")) as f:
        pipe_log = [json.loads(ln) for ln in f]
    dd = [r for r in pipe_log if r["action"] == "delete_docs"]
    assert dd and dd[0]["views"]["by_source"].startswith("delta:")
    assert dd[0]["views"]["max_by_lang"] == "rebuild_required"
    with open(os.path.join(vdir_sub, "takedown_audit.jsonl")) as f:
        sub_log = [json.loads(ln) for ln in f]
    assert any(
        r["action"] == "delete_from_view" and r["n_keys"] >= 1 for r in sub_log
    )
    with open(os.path.join(vdir_mm, "takedown_audit.jsonl")) as f:
        mm_log = [json.loads(ln) for ln in f]
    assert any(r["action"] == "rebuild_view" for r in mm_log)

    # unregister drops the manifest entry; a later takedown skips the view
    assert vws.unregister_view(work_dir, "never_ran")
    assert not vws.unregister_view(work_dir, "never_ran")
    assert set(vws.registered_views(work_dir)) == {"by_source", "max_by_lang"}


@pytest.mark.slow
def test_server_takedown_quiesced_cross_check(spark, drained, tmp_path):
    """ADVICE r10: the server must not trust the client's quiesced=true
    verbatim — with ANY active streaming query on the session the call is
    visibly downgraded to quiesced=False (tombstones fold after the
    in-flight batch, frontier+1 — always safe); with none, the assertion is
    honored as before."""
    from streamds_spark.server import request, start_server

    _, work_dir = drained
    paths = CorpusStreamPaths(work_dir)
    live = sorted(
        r["doc_id"]
        for r in appendlog.get(spark, paths.corpus).select("doc_id").collect()
    )
    assert len(live) >= 2
    rw = start_server(spark, SF, allow_writes=True)
    try:
        host, port = rw.server_address[:2]
        rw.attach_pipeline(object(), work_dir)
        # an active (unrelated) stream: the wrong-assertion hazard is real
        q = (
            spark.readStream.format("rate").option("rowsPerSecond", 1).load()
            .writeStream.format("noop").start()
        )
        try:
            r = request(
                host, port,
                {"cmd": "takedown", "doc_ids": [live[0]], "quiesced": True},
            )
            assert r["ok"] and r["n_docs_matched"] == 1
            assert r["quiesced_downgraded"] is True
            assert "in-flight" in r["quiesced_downgrade_reason"]
        finally:
            q.stop()
        # drained session: the assertion is honored, no downgrade key
        for _ in range(100):
            if not spark.streams.active:
                break
            import time as _t

            _t.sleep(0.1)
        r2 = request(
            host, port,
            {"cmd": "takedown", "doc_ids": [live[1]], "quiesced": True},
        )
        assert r2["ok"] and "quiesced_downgraded" not in r2
    finally:
        rw.shutdown()
        rw.server_close()


@pytest.mark.slow
def test_cascade_rerun_and_broken_spec(spark, tmp_path):
    """Review-wave pins: (1) delete_docs' documented re-run-after-partial-
    failure safety extends to the view cascade — the delta dir is named by
    an identity token derived from the delete set, so a re-run OVERWRITES
    it instead of double-subtracting; (2) a registered spec naming a column
    the corpus doesn't have must not abort the takedown mid-sweep — the
    view gets the durable rebuild flag and everything else completes;
    (3) all-dots view names are refused (they traverse out of views/)."""
    import pytest as _pytest

    from tests.test_llm_pipeline_stream import _split_into_files
    from streamds_spark.streaming import viewstore as vws
    from streamds_spark.streaming.llm_pipeline import run_llm_corpus_stream

    src_dir, work_dir = str(tmp_path / "src"), str(tmp_path / "work")
    _split_into_files(spark, src_dir)
    q = run_llm_corpus_stream(spark, src_dir, work_dir)
    q.awaitTermination(timeout=300)
    assert not q.isActive
    paths = CorpusStreamPaths(work_dir)
    pre = appendlog.get(spark, paths.corpus)

    spec = vws.ViewSpec(keys=("source",), aggs={"chars": ("sum", "n_chars")})
    vdir = vws.register_view(work_dir, "by_source", spec)
    vws.write_view_batch(pre, 0, os.path.join(vdir, "view_store"), spec)
    bogus = vws.ViewSpec(keys=("source",), aggs={"x": ("sum", "no_such_col")})
    vdir_bogus = vws.register_view(work_dir, "broken", bogus)
    vws.write_view_batch(
        pre.withColumn("no_such_col", F.lit(1)), 0,
        os.path.join(vdir_bogus, "view_store"), bogus,
    )
    for bad in (".", "..", "...", "a/b"):
        with _pytest.raises(ValueError):
            vws.register_view(work_dir, bad, spec)

    doomed_ids = sorted(r["doc_id"] for r in pre.select("doc_id").collect())[:2]
    doomed_rows = pre.where(F.col("doc_id").isin(doomed_ids))

    stats = delete_docs(spark, work_dir, doomed_ids, quiesced=True)
    assert stats["views"]["by_source"].startswith("delta:delta-td-")
    # broken spec: flagged, never aborted — the corpus delete completed
    assert stats["views"]["broken"] == "rebuild_required"
    marker = vws.rebuild_required(vdir_bogus)
    assert marker and "no_such_col" in marker["reason"]
    remaining = appendlog.get(spark, paths.corpus)
    assert remaining.where(F.col("doc_id").isin(doomed_ids)).isEmpty()

    def _rows(df):
        return sorted(tuple(r) for r in df.select(*sorted(df.columns)).collect())

    want = vws.view_fold(vws.view_batch_state(remaining, spec), spec)
    assert _rows(vws.view_report(spark, vdir, spec)) == _rows(want)

    # the partial-failure re-run: the same logical takedown cascades again
    # (same delete set -> same token -> same dir, overwritten) — the view
    # must NOT be double-subtracted
    deltas_before = sorted(
        d for d in os.listdir(os.path.join(vdir, "view_store"))
        if d.startswith("delta-")
    )
    vws.cascade_delete_to_views(
        spark, work_dir, doomed_rows,
        idempotency_token=stats["views"]["by_source"].split("delta:delta-", 1)[1],
    )
    deltas_after = sorted(
        d for d in os.listdir(os.path.join(vdir, "view_store"))
        if d.startswith("delta-")
    )
    assert deltas_after == deltas_before, "re-run must overwrite, not append"
    assert _rows(vws.view_report(spark, vdir, spec)) == _rows(want)

    # a DIFFERENT delete set gets a DIFFERENT token (fresh delta dir)
    other = sorted(
        r["doc_id"] for r in remaining.select("doc_id").collect()
    )[:1]
    stats2 = delete_docs(spark, work_dir, other, quiesced=True)
    tok2 = stats2["views"]["by_source"]
    assert tok2.startswith("delta:delta-td-")
    assert tok2.split("delta:", 1)[1] not in deltas_before


@pytest.mark.slow
def test_pipeline_maintains_registered_views(spark, tmp_path):
    """The operational loop closes (round 11): a view registered BEFORE the
    corpus stream starts is maintained BY the pipeline — after draining,
    view_report equals the batch aggregate over the corpus with no separate
    view stream; a broken registration (column the corpus lacks) flags
    rebuild-required and does NOT stall ingest; a takedown then cascades
    into the maintained view through the same delete_docs path."""
    from tests.test_llm_pipeline_stream import _split_into_files
    from streamds_spark.streaming import viewstore as vws
    from streamds_spark.streaming.llm_pipeline import run_llm_corpus_stream

    src_dir, work_dir = str(tmp_path / "src"), str(tmp_path / "work")
    _split_into_files(spark, src_dir)
    sub_spec = vws.ViewSpec(
        keys=("lang",), aggs={"chars": ("sum", "n_chars"), "docs": ("count", None)}
    )
    mm_spec = vws.ViewSpec(keys=("source",), aggs={"hi": ("max", "n_chars")})
    bogus = vws.ViewSpec(keys=("lang",), aggs={"x": ("sum", "nope")})
    vdir_sub = vws.register_view(work_dir, "by_lang", sub_spec)
    vdir_mm = vws.register_view(work_dir, "max_by_source", mm_spec)
    vdir_bogus = vws.register_view(work_dir, "broken", bogus)

    q = run_llm_corpus_stream(spark, src_dir, work_dir)
    q.awaitTermination(timeout=300)
    assert not q.isActive
    paths = CorpusStreamPaths(work_dir)
    corpus = appendlog.get(spark, paths.corpus)
    assert corpus.count() > 0

    def _rows(df):
        return sorted(tuple(r) for r in df.select(*sorted(df.columns)).collect())

    # both healthy views equal the batch aggregate over the final corpus
    for spec, vdir in ((sub_spec, vdir_sub), (mm_spec, vdir_mm)):
        want = vws.view_fold(vws.view_batch_state(corpus, spec), spec)
        assert _rows(vws.view_report(spark, vdir, spec)) == _rows(want)
        # one committed partial dir per trigger (4 source files, 1 per trigger)
        dirs = [
            d for d in os.listdir(os.path.join(vdir, "view_store"))
            if d.startswith("batch=")
        ]
        assert len(dirs) == 4
    # the broken view: flagged per batch, ingest never stalled
    marker = vws.rebuild_required(vdir_bogus)
    assert marker and "nope" in marker["reason"]
    assert not os.path.isdir(os.path.join(vdir_bogus, "view_store"))

    # the takedown path reaches the PIPELINE-maintained view
    doomed = sorted(r["doc_id"] for r in corpus.select("doc_id").collect())[:2]
    stats = delete_docs(spark, work_dir, doomed, quiesced=True)
    assert stats["views"]["by_lang"].startswith("delta:delta-td-")
    assert stats["views"]["max_by_source"] == "rebuild_required"
    remaining = appendlog.get(spark, paths.corpus)
    want = vws.view_fold(vws.view_batch_state(remaining, sub_spec), sub_spec)
    assert _rows(vws.view_report(spark, vdir_sub, sub_spec)) == _rows(want)
