"""Plan-fingerprint result cache: hit on identical query + unchanged data,
miss on changed literals, miss on rewritten input data, and the in-memory
safety rail (no inputFiles -> never cached)."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from streamds_spark.io.resultcache import cached, plan_fingerprint

SF = "/root/testdata/sf0.001"


def _q(spark, path, prio="1-URGENT"):
    return (
        spark.read.parquet(path)
        .filter(F.col("o_orderpriority") == prio)
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("cnt"))
    )


def test_hit_miss_and_invalidation(spark, tmp_path):
    cache = str(tmp_path / "cache")
    src = f"{SF}/orders.parquet"

    r1 = cached(_q(spark, src), cache)
    assert not r1.hit and r1.cacheable
    want = {(r["o_orderstatus"], r["cnt"]) for r in r1.df.collect()}

    # identical query from a FRESH DataFrame object: hit, same rows
    r2 = cached(_q(spark, src), cache)
    assert r2.hit and r2.fingerprint == r1.fingerprint
    assert {(r["o_orderstatus"], r["cnt"]) for r in r2.df.collect()} == want

    # a different literal is a different query
    r3 = cached(_q(spark, src, prio="5-LOW"), cache)
    assert not r3.hit and r3.fingerprint != r1.fingerprint

    # rewritten input data (same path, new mtime/size) invalidates
    local = str(tmp_path / "orders_copy.parquet")
    spark.read.parquet(src).write.mode("overwrite").parquet(local)
    a = cached(_q(spark, local), cache)
    assert not a.hit
    b = cached(_q(spark, local), cache)
    assert b.hit
    time.sleep(1.1)  # mtime granularity
    spark.read.parquet(src).limit(100).write.mode("overwrite").parquet(local)
    c = cached(_q(spark, local), cache)
    assert not c.hit and c.fingerprint != a.fingerprint


def test_in_memory_never_cached(spark, tmp_path):
    df = spark.createDataFrame([(1, "x")], "a int, b string").groupBy("b").count()
    fp, cacheable = plan_fingerprint(df)
    assert not cacheable
    r = cached(df, str(tmp_path / "cache"))
    assert not r.hit and not r.cacheable
    assert r.df.collect()[0]["count"] == 1
    # nothing was written
    import os

    assert not os.path.exists(str(tmp_path / "cache"))


def test_fingerprint_is_session_stable_and_column_sensitive(spark):
    src = f"{SF}/orders.parquet"
    fp1, _ = plan_fingerprint(_q(spark, src))
    fp2, _ = plan_fingerprint(_q(spark, src))
    assert fp1 == fp2
    other = spark.read.parquet(src).groupBy("o_orderstatus").agg(
        F.sum("o_totalprice").alias("cnt")
    )
    fp3, _ = plan_fingerprint(other)
    assert fp3 != fp1


def test_nondeterministic_plans_never_cached(spark, tmp_path):
    """A plan whose value depends on run time / randomness / placement would
    canonicalize identically tomorrow over unchanged files — it must compute
    fresh every call (cacheable=False), while an equivalent deterministic
    query still caches."""
    import os

    from streamds_spark.io.resultcache import nondeterministic_classes

    cache = str(tmp_path / "cache")
    src = f"{SF}/orders.parquet"
    base = spark.read.parquet(src)
    nondet_cols = [
        F.current_date(),
        F.current_timestamp(),
        F.rand(42),  # seeded rand is still partition-layout-dependent
        F.expr("uuid()"),
        F.monotonically_increasing_id(),
        F.input_file_name(),
    ]
    for col in nondet_cols:
        df = base.select(F.col("o_orderkey"), col.alias("c"))
        fp, cacheable = plan_fingerprint(df)
        assert not cacheable, f"{col} should be uncacheable"
        r = cached(df, cache)
        assert not r.hit and not r.cacheable
        r2 = cached(df, cache)  # and is NEVER served from cache
        assert not r2.hit and not r2.cacheable
    assert not os.path.exists(cache)  # nothing was materialized
    assert nondeterministic_classes(
        base.select(F.current_date().alias("d"))
    ) == {"CurrentDate"}
    # the equivalent deterministic query still hits
    det = base.select(
        "o_orderkey", F.lit("2026-08-14").cast("date").alias("c")
    )
    first = cached(det, cache)
    assert first.cacheable and not first.hit
    assert cached(det, cache).hit
    # a column merely NAMED like a nondeterministic fn does not false-positive
    named = base.select(F.col("o_orderkey").alias("rand"))
    assert plan_fingerprint(named)[1]


def test_python_udf_plans_never_cached(spark, tmp_path):
    """Any Python-evaluated expression makes the plan uncacheable: the
    fingerprint sees only the udf's NAME, not its pickled body, so an edited
    udf would be served stale forever.  Covers scalar pandas_udf, grouped-map
    applyInPandas, and mapInPandas; the plain built-in twin still caches."""
    import os

    from pyspark.sql.functions import PandasUDFType, pandas_udf

    cache = str(tmp_path / "cache")
    src = f"{SF}/orders.parquet"
    base = spark.read.parquet(src)

    @pandas_udf("double", PandasUDFType.SCALAR)
    def dbl(s):
        return s * 2.0

    udf_plans = [
        base.select("o_orderkey", dbl("o_totalprice").alias("c")),
        base.select("o_orderstatus", "o_totalprice")
        .groupBy("o_orderstatus")
        .applyInPandas(
            lambda pdf: pdf.head(1), "o_orderstatus string, o_totalprice double"
        ),
        base.select("o_orderkey").mapInPandas(
            lambda it: it, "o_orderkey bigint"
        ),
    ]
    for df in udf_plans:
        fp, cacheable = plan_fingerprint(df)
        assert not cacheable, df._jdf.queryExecution().analyzed().toString()
        r = cached(df, cache)
        assert not r.hit and not r.cacheable
        r2 = cached(df, cache)
        assert not r2.hit and not r2.cacheable
    assert not os.path.exists(cache)  # nothing was materialized
    # the built-in-function twin of the scalar udf still caches normally
    det = base.select("o_orderkey", (F.col("o_totalprice") * 2.0).alias("c"))
    assert not cached(det, cache).hit
    assert cached(det, cache).hit


def test_concurrent_miss_promotion_is_atomic(spark, tmp_path):
    """Two racers missing on one fingerprint both materialize into private
    temp dirs; the rename loser serves the winner's (identical) copy and the
    final cache dir is a single coherent write, never an interleaved mix."""
    import os

    cache = str(tmp_path / "cache")
    src = f"{SF}/orders.parquet"
    a = cached(_q(spark, src), cache)
    want = {(r["o_orderstatus"], r["cnt"]) for r in a.df.collect()}
    dest = os.path.join(cache, a.fingerprint)
    n_parts = len([f for f in os.listdir(dest) if f.endswith(".parquet")])

    # simulate the loser: dest already exists when its rename fires
    b = cached(_q(spark, src), cache)
    assert b.hit  # normal path: second call is just a hit
    # force a re-materialization race by removing the hit marker only
    os.remove(os.path.join(dest, "_SUCCESS"))
    c = cached(_q(spark, src), cache)
    assert not c.hit and c.fingerprint == a.fingerprint
    assert {(r["o_orderstatus"], r["cnt"]) for r in c.df.collect()} == want
    # the promoted dir is one coherent write: part-file count never doubled
    got_parts = len([f for f in os.listdir(dest) if f.endswith(".parquet")])
    assert got_parts == n_parts, os.listdir(dest)
    assert cached(_q(spark, src), cache).hit
    # no leaked temp dirs accumulate alongside the promoted entry
    leftovers = [d for d in os.listdir(cache) if ".tmp-" in d]
    assert leftovers == [], leftovers


def test_appendlog_manifest_keying_survives_compaction(spark, tmp_path):
    """Log-backed reads are keyed on the log's logical batch identities, so
    compaction (which rewrites every physical file) keeps the cache warm,
    a post-merge replay of a folded batch (its `dir:` identity already in
    the manifest) keeps it warm too, while a genuine append invalidates."""
    from streamds_spark.io import appendlog

    log = str(tmp_path / "log")
    cache = str(tmp_path / "cache")
    appendlog.create(spark, log)
    data = spark.createDataFrame(
        [(i, f"v{i % 4}") for i in range(20)], "id int, v string"
    )
    appendlog.append_batch(data, log, "c1", 0)
    appendlog.append_batch(data.filter("id >= 10"), log, "c1", 1)

    def q():
        return (
            appendlog.get(spark, log)
            .groupBy("v")
            .agg(F.count("*").alias("n"))
        )

    a = cached(q(), cache)
    assert a.cacheable and not a.hit
    want = {(r["v"], r["n"]) for r in a.df.collect()}
    assert cached(q(), cache).hit

    appendlog.merge(spark, log)  # compaction: every physical file replaced
    c = cached(q(), cache)
    assert c.hit and c.fingerprint == a.fingerprint
    assert {(r["v"], r["n"]) for r in c.df.collect()} == want

    # a replay of batch 0 after the merge rewrites its dir with new part
    # files; the dir: manifest key keeps it out of the read and the key
    appendlog.append_batch(data, log, "c1", 0)
    rp = cached(q(), cache)
    assert rp.hit and rp.fingerprint == a.fingerprint
    assert {(r["v"], r["n"]) for r in rp.df.collect()} == want

    # a genuine append is a new logical batch -> miss, then warm again
    appendlog.append_batch(data.filter("id < 3"), log, "c1", 2)
    d = cached(q(), cache)
    assert not d.hit and d.fingerprint != a.fingerprint
    assert cached(q(), cache).hit

    # and the second compaction again keeps THAT entry warm
    appendlog.merge(spark, log)
    e = cached(q(), cache)
    assert e.hit and e.fingerprint == d.fingerprint


def test_eviction_lru_budget_and_hit_refreshes_recency(spark, tmp_path):
    """Over-budget insert stages out the least-recently TOUCHED entry; a hit
    refreshes recency, so the hit-warm entry survives while the cold one is
    evicted; a reader of the evicted fingerprint recomputes cleanly."""
    import os

    from streamds_spark.io import resultcache as rc

    cache = str(tmp_path / "cache")
    src = f"{SF}/orders.parquet"
    a = cached(_q(spark, src, "1-URGENT"), cache)
    b = cached(_q(spark, src, "5-LOW"), cache)
    want_a = {(r["o_orderstatus"], r["cnt"]) for r in a.df.collect()}
    dest_a = os.path.join(cache, a.fingerprint)
    dest_b = os.path.join(cache, b.fingerprint)
    # back-date BOTH touch markers, then HIT b: recency order becomes a < b
    past = time.time() - 1000
    for d in (dest_a, dest_b):
        os.utime(os.path.join(d, rc._TOUCH), (past, past))
    assert cached(_q(spark, src, "5-LOW"), cache).hit  # refreshes b
    s_a, s_b = rc._dir_bytes(dest_a), rc._dir_bytes(dest_b)
    # budget fits ~two entries: inserting c must evict exactly the LRU (a)
    c = cached(_q(spark, src, "2-HIGH"), cache, max_bytes=int((s_a + s_b) * 1.2))
    assert c.evicted == 1
    assert not os.path.exists(dest_a), "LRU entry should be staged out"
    assert os.path.exists(os.path.join(dest_b, "_SUCCESS")), "hit-warm survives"
    assert os.path.exists(os.path.join(cache, c.fingerprint, "_SUCCESS"))
    # the staged dir is still on disk (grace), out of the fingerprint namespace
    staged = [d for d in os.listdir(cache) if d.startswith(a.fingerprint + ".evicted-")]
    assert len(staged) == 1
    # evicted fingerprint recomputes cleanly and re-enters the cache
    a2 = cached(_q(spark, src, "1-URGENT"), cache)
    assert not a2.hit and a2.fingerprint == a.fingerprint
    assert {(r["o_orderstatus"], r["cnt"]) for r in a2.df.collect()} == want_a


def test_evicted_staging_grace_then_reclaim(spark, tmp_path, monkeypatch):
    """A staged .evicted-* dir survives the grace window (an in-flight reader
    finishes its scan) and is physically reclaimed by a later cycle."""
    import os

    from streamds_spark.io import resultcache as rc

    cache = str(tmp_path / "cache")
    a = cached(_q(spark, f"{SF}/orders.parquet"), cache)
    dest = os.path.join(cache, a.fingerprint)
    stats = rc.evict_to_budget(cache, 0)  # stage everything out
    assert stats.staged_evictions == 1 and stats.evicted_fingerprints == [a.fingerprint]
    staged = [d for d in os.listdir(cache) if ".evicted-" in d]
    assert len(staged) == 1 and not os.path.exists(dest)
    # within grace: a second cycle does NOT delete the staged bytes
    s2 = rc.evict_to_budget(cache, 0)
    assert s2.deleted_evictions == 0
    assert [d for d in os.listdir(cache) if ".evicted-" in d] == staged
    # after grace: reclaimed
    monkeypatch.setattr(rc, "_EVICT_GRACE_S", 0.0)
    time.sleep(0.05)
    s3 = rc.evict_to_budget(cache, 0)
    assert s3.deleted_evictions == 1
    assert [d for d in os.listdir(cache) if ".evicted-" in d] == []


def test_stale_tmp_sweep(spark, tmp_path):
    """Abandoned writer temp dirs (crash between materialize and rename, or a
    losing racer's private copy) are swept by age on later cached() calls;
    a FRESH temp — possibly still being served — is left alone."""
    import os

    from streamds_spark.io import resultcache as rc

    cache = str(tmp_path / "cache")
    os.makedirs(cache)
    old = os.path.join(cache, "deadbeef.tmp-old")
    fresh = os.path.join(cache, "deadbeef.tmp-fresh")
    for d in (old, fresh):
        os.makedirs(d)
        with open(os.path.join(d, "part-0.parquet"), "w") as f:
            f.write("x")
    past = time.time() - rc._TMP_SWEEP_AGE_S - 10
    os.utime(old, (past, past))
    cached(_q(spark, f"{SF}/orders.parquet"), cache)  # any call sweeps
    assert not os.path.exists(old), "stale temp should be swept"
    assert os.path.exists(fresh), "fresh temp must survive (may be serving)"


def test_torn_dest_cleanup_is_lock_serialized(spark, tmp_path):
    """The torn-dest retry is serialized by an O_EXCL lock: a racer that
    cannot take the lock serves its private temp and NEVER touches dest (the
    r8 TOCTOU — rmtree of a dir another racer just promoted complete); once
    the lock is free the next miss cleans and promotes normally."""
    import os

    from streamds_spark.io import resultcache as rc

    cache = str(tmp_path / "cache")
    src = f"{SF}/orders.parquet"
    a = cached(_q(spark, src), cache)
    want = {(r["o_orderstatus"], r["cnt"]) for r in a.df.collect()}
    dest = os.path.join(cache, a.fingerprint)
    os.remove(os.path.join(dest, "_SUCCESS"))  # torn wreck
    torn_files = sorted(os.listdir(dest))
    lock = dest + ".lock"
    with open(lock, "w"):
        pass  # another racer owns the cleanup
    b = cached(_q(spark, src), cache)
    assert not b.hit
    assert {(r["o_orderstatus"], r["cnt"]) for r in b.df.collect()} == want
    # dest untouched: still torn, same files, no _SUCCESS — nothing deleted
    assert sorted(os.listdir(dest)) == torn_files
    assert os.path.exists(lock)
    # lock released: the next miss cleans the wreck and promotes
    os.remove(lock)
    c = cached(_q(spark, src), cache)
    assert not c.hit
    assert os.path.exists(os.path.join(dest, "_SUCCESS"))
    assert cached(_q(spark, src), cache).hit
    # TOCTOU guard inside the lock: when dest gains _SUCCESS before the lock
    # is taken, the cleanup must serve it, never clear it
    marker = os.path.join(dest, rc._TOUCH)
    os.utime(marker, None)
    d = cached(_q(spark, src), cache)
    assert d.hit and os.path.exists(os.path.join(dest, "_SUCCESS"))


def test_single_overbudget_entry_is_protected_from_itself(spark, tmp_path):
    """A promotion whose result alone exceeds the budget must not evict
    itself out from under its own writer — it is served, and becomes
    LRU-eligible on the NEXT cycle."""
    import os

    cache = str(tmp_path / "cache")
    src = f"{SF}/orders.parquet"
    a = cached(_q(spark, src, "1-URGENT"), cache, max_bytes=1)
    assert a.evicted == 0
    assert os.path.exists(os.path.join(cache, a.fingerprint, "_SUCCESS"))
    assert a.df.count() > 0
    b = cached(_q(spark, src, "5-LOW"), cache, max_bytes=1)
    assert b.evicted == 1  # the previous over-budget entry goes
    assert not os.path.exists(os.path.join(cache, a.fingerprint))
    assert os.path.exists(os.path.join(cache, b.fingerprint, "_SUCCESS"))


def test_cache_census(spark, tmp_path):
    from streamds_spark.io.resultcache import cache_census

    cache = str(tmp_path / "cache")
    assert cache_census(cache).entries == 0
    cached(_q(spark, f"{SF}/orders.parquet"), cache)
    c = cache_census(cache)
    assert c.entries == 1 and c.bytes > 0


def test_old_entry_grace_starts_at_eviction_not_promotion(spark, tmp_path):
    """rename preserves the dir's mtime, so without the explicit utime a
    staged eviction of an OLD entry would be reclaimed by the very next
    sweep — the grace window must start at EVICTION time."""
    import glob
    import os

    from streamds_spark.io.resultcache import CacheStats, _sweep_stale, evict_to_budget

    cache_dir = str(tmp_path / "cache")
    os.makedirs(cache_dir)
    df = spark.range(50).toDF("n")
    src = str(tmp_path / "src.parquet")
    df.write.parquet(src)
    cached(spark.read.parquet(src), cache_dir)
    (dest,) = [
        os.path.join(cache_dir, n)
        for n in os.listdir(cache_dir)
        if ".tmp-" not in n and not n.endswith(".lock")
    ]
    # age the entry far past the grace window (promotion long ago)
    old = time.time() - 3600
    os.utime(dest, (old, old))
    os.utime(os.path.join(dest, "_TOUCHED"), (old, old))
    evict_to_budget(cache_dir, max_bytes=0)
    staged = glob.glob(os.path.join(cache_dir, "*.evicted-*"))
    assert len(staged) == 1
    # an immediate sweep must NOT reclaim it — grace restarts at staging
    _sweep_stale(cache_dir, CacheStats())
    assert glob.glob(os.path.join(cache_dir, "*.evicted-*")) == staged
    assert os.path.exists(os.path.join(staged[0], "_SUCCESS"))


def test_admission_verdict_memoized_no_repeat_jvm_walk(spark, tmp_path, monkeypatch):
    """Repeated admission of the same UDF-free plan shape (the cache's
    entire use case) must not re-pay the per-node py4j JVM walk: the cheap
    JSON walk runs every time (it is the authority on class presence), the
    expensive JVM catch-all is memoized on the canonical plan string — and
    udf-bearing plans NEVER memoize (the canonical string cannot
    distinguish a udf from its asNondeterministic twin)."""
    import os

    from streamds_spark.io import resultcache as rc

    rc._VERDICT_MEMO.clear()
    jvm_calls, json_calls = [], []
    real_jvm, real_json = rc._jvm_nondeterministic_nodes, rc._json_walk
    monkeypatch.setattr(
        rc, "_jvm_nondeterministic_nodes",
        lambda df: jvm_calls.append(1) or real_jvm(df),
    )
    monkeypatch.setattr(
        rc, "_json_walk",
        lambda df: json_calls.append(1) or real_json(df),
    )
    cache = str(tmp_path / "cache")
    src = f"{SF}/orders.parquet"
    a = cached(_q(spark, src), cache)
    assert a.cacheable and not a.hit
    assert len(jvm_calls) == 1  # clean plan: one JVM catch-all
    b = cached(_q(spark, src), cache)
    assert b.hit and b.fingerprint == a.fingerprint
    assert len(jvm_calls) == 1, "second admission must memo the JVM walk"
    assert len(json_calls) == 2  # the cheap authority runs every admission
    # a condemned plan never reaches the JVM walk, memoized or not
    nondet = spark.read.parquet(src).select(F.rand(7).alias("r"))
    assert not cached(nondet, cache).cacheable
    assert not cached(nondet, cache).cacheable
    assert len(jvm_calls) == 1
    # udf-bearing plans: the JVM catch-all runs on EVERY admission and the
    # memo is never touched — the canonical string cannot carry the
    # deterministic flag (ScalaUDF prints as `name(children)`)
    monkeypatch.setattr(rc, "_json_walk", lambda df: (set(), True))
    memo_before = dict(rc._VERDICT_MEMO)
    rc._plan_is_deterministic(_q(spark, src), "udf-canon")
    rc._plan_is_deterministic(_q(spark, src), "udf-canon")
    assert len(jvm_calls) == 3, "udf plans must re-run the JVM walk each time"
    assert dict(rc._VERDICT_MEMO) == memo_before
    assert "udf-canon" not in rc._VERDICT_MEMO
    monkeypatch.setattr(rc, "_json_walk", lambda df: (set(), False))
    # the memo is bounded LRU: filling past capacity evicts the oldest key
    monkeypatch.setattr(rc, "_VERDICT_MEMO_MAX", 2)
    rc._VERDICT_MEMO.clear()
    rc._plan_is_deterministic(_q(spark, src), "canon-a")
    rc._plan_is_deterministic(_q(spark, src), "canon-b")
    rc._plan_is_deterministic(_q(spark, src), "canon-c")
    assert list(rc._VERDICT_MEMO) == ["canon-b", "canon-c"]
    rc._VERDICT_MEMO.clear()
    assert os.path.exists(os.path.join(cache, a.fingerprint, "_SUCCESS"))
    # a REAL pandas_udf plan: the JSON walk both condemns it AND flags
    # has_udf from the authoritative class names; the memo stays empty
    monkeypatch.setattr(rc, "_json_walk", real_json)
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def dbl2(s):
        return s * 2.0

    udf_df = spark.read.parquet(src).select(dbl2("o_totalprice").alias("c"))
    canon = udf_df._jdf.queryExecution().analyzed().canonicalized().toString()
    found, has_udf = rc._json_walk(udf_df)
    assert found and has_udf, (found, has_udf)
    assert not rc._plan_is_deterministic(udf_df, canon)
    assert rc._VERDICT_MEMO == {}


def test_orphaned_lock_is_swept_by_age(spark, tmp_path):
    """A crashed lock-holder's <fp>.lock must not block torn-dest recovery
    forever — it is swept by age like abandoned writer temps."""
    import os

    from streamds_spark.io.resultcache import CacheStats, _sweep_stale

    cache_dir = str(tmp_path / "cache")
    os.makedirs(cache_dir)
    lock = os.path.join(cache_dir, "deadbeef.lock")
    open(lock, "w").close()
    _sweep_stale(cache_dir, CacheStats())
    assert os.path.exists(lock)  # fresh lock: a live holder may own it
    old = time.time() - 7200
    os.utime(lock, (old, old))
    _sweep_stale(cache_dir, CacheStats())
    assert not os.path.exists(lock)
