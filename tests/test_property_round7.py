"""Model-based property tests for the round's operators: skew_aware_join
must equal the plain join under ANY key distribution and threshold, and the
append-log's read view + the result cache's logical fingerprint must track a
pure-Python ledger model through arbitrary append/replay/merge interleavings."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F
import pytest


# -- skew_aware_join == plain join, any distribution, any knobs -------------

_DISTS = st.lists(
    st.tuples(st.integers(min_value=0, max_value=8),  # key
              st.integers(min_value=1, max_value=40)),  # multiplicity
    min_size=1,
    max_size=6,
)


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    dist=_DISTS,
    dim_keys=st.integers(min_value=1, max_value=10),
    threshold=st.sampled_from([0, 2, 10_000]),
    how=st.sampled_from(["inner", "left"]),
)
@pytest.mark.slow
def test_skew_aware_join_always_equals_plain_join(
    spark, dist, dim_keys, threshold, how
):
    from streamds_spark.operators.skewjoin import skew_aware_join

    rows = [(k, i) for i, (k, m) in enumerate(dist) for _ in range(m)]
    fact = spark.createDataFrame(rows, "k int, tag int")
    dim = spark.createDataFrame(
        [(k, k * 10) for k in range(dim_keys)], "k int, d int"
    )
    choice = skew_aware_join(
        fact, dim, "k", how=how, n_partitions=4,
        broadcast_threshold_rows=threshold,
    )
    got = sorted((r["k"], r["tag"], r["d"]) for r in choice.df.collect())
    want = sorted(
        (r["k"], r["tag"], r["d"]) for r in fact.join(dim, "k", how).collect()
    )
    assert got == want
    assert choice.strategy in ("broadcast", "plain", "salted")
    if threshold >= dim_keys:
        assert choice.strategy == "broadcast"


# -- appendlog ledger model + fingerprint invariance ------------------------

_OPS = st.lists(
    st.one_of(
        st.tuples(st.just("append"), st.integers(1, 3)),
        st.tuples(st.just("batch"), st.integers(0, 3)),
        st.tuples(st.just("merge"), st.just(0)),
    ),
    min_size=1,
    max_size=8,
)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(ops=_OPS)
@pytest.mark.slow
def test_appendlog_ledger_model(spark, ops, tmp_path_factory):
    """Whatever the interleaving of plain appends, batch appends (a repeated
    batch id is a replay), and merges: get() returns exactly the ledger the
    model predicts, and the resultcache fingerprint of a fixed query changes
    IFF the ledger content changed (merges never change it)."""
    from streamds_spark.io import appendlog
    from streamds_spark.io.resultcache import plan_fingerprint

    path = str(tmp_path_factory.mktemp("alog") / "log")
    appendlog.create(spark, path)
    ledger: dict = {}  # key -> list of lines (plain appends under key 'plain')
    merged_ids: set = set()  # batch keys folded into a generation: a
    # later append/replay under the SAME id is by contract a REPLAY of
    # already-delivered content — the manifest subsumes it and readers
    # never see it (exactly-once), so the model must not take new content
    seq = 0

    def q():
        return (
            appendlog.get(spark, path)
            .groupBy("line")
            .agg(F.count("*").alias("n"))
        )

    def expected():
        out: dict = {}
        for lines in ledger.values():
            for ln in lines:
                out[ln] = out.get(ln, 0) + 1
        return out

    last_fp = None
    for op, arg in ops:
        seq += 1
        if op == "append":
            lines = [f"p{seq}-{j}" for j in range(arg)]
            appendlog.append(
                spark.createDataFrame([(l,) for l in lines], ["line"]), path, "cA"
            )
            ledger[f"plain-{seq}"] = lines
        elif op == "batch":
            lines = [f"b{arg}-{j}" for j in range(2)]
            appendlog.append_batch(
                spark.createDataFrame([(l,) for l in lines], ["line"]), path, "cB", arg
            )
            if f"batch-{arg}" not in merged_ids:
                ledger[f"batch-{arg}"] = lines  # pre-merge replay overwrites
        else:
            appendlog.merge(spark, path)
            # everything the merge folded is now replay-immune forever
            merged_ids.update(k for k in ledger if not k.startswith("plain-"))
        if not ledger:
            continue
        got = {r["line"]: r["n"] for r in q().collect()}
        assert got == expected(), f"after {op}({arg})"
        fp, cacheable = plan_fingerprint(q())
        assert cacheable
        if op == "merge":
            assert last_fp is None or fp == last_fp, "merge moved the fingerprint"
        last_fp = fp
    # one more merge at the end never moves content OR fingerprint
    appendlog.merge(spark, path)
    if ledger:
        assert {r["line"]: r["n"] for r in q().collect()} == expected()
        assert plan_fingerprint(q())[0] == last_fp
