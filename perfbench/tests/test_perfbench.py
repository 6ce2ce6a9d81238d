"""Tests of the benchmark itself: BENCHMARK.json and result schemas, each
workload at a tiny size, and each correctness gate failing when one expected
value is wrong.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The in-process tests share one Spark session; the run.py tests start their
own processes.
"""

from __future__ import annotations

import itertools
import json
import os
import re
import shutil
import subprocess
import sys
from collections import Counter

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.harness import tail  # noqa: E402

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ---------------------------------------------------------------------------
# Schemas


def test_benchmark_json_schema():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert b["command"] == ["python3", "perfbench/run.py"]
    assert b["paths"] == ["perfbench"]
    assert isinstance(b["run_seconds"], int) and 1 <= b["run_seconds"] <= 60
    assert 2 <= len(b["workloads"]) <= 8
    for w in b["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    assert 1 <= len(b["end_to_end"]) <= 16 and 1 <= len(b["per_layer"]) <= 128
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in b["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    names = [x["name"] for x in b["workloads"] + b["end_to_end"] + b["per_layer"]]
    assert len(names) == len(set(names))
    for m in b["end_to_end"] + b["per_layer"]:
        assert NAME_RE.match(m["name"]) and UNIT_RE.match(m["unit"])
        assert m["better"] in ("higher", "lower")
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])
    from perfbench.run import WORKLOADS

    assert tuple(w["name"] for w in b["workloads"]) == WORKLOADS


def _run(args: list[str], cwd: str, timeout: float = 170) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


def _check_result(stdout: str, declared: list[dict]) -> dict:
    res = json.loads(stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and isinstance(got["value"], float)
    return res


@pytest.mark.parametrize("trace", [0, 1])
def test_run_py_result_schema(trace):
    b = _bench()
    p = _run(["--workload", "interactive", "--seed", "3", "--seconds", "1", "--trace", str(trace)], ROOT)
    assert p.returncode == 0, p.stderr[-2000:]
    res = _check_result(p.stdout, b["per_layer"] if trace else b["end_to_end"])
    detail = json.loads(p.stdout.strip().splitlines()[-2])
    assert detail["spark_graft_cpus"] == str(len(os.sched_getaffinity(0)))
    assert detail["default_parallelism"] == len(os.sched_getaffinity(0))
    if trace == 0:
        assert all(v["value"] > 0 for v in res["metrics"].values())
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_work"))


def test_run_py_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(["--workload", "interactive", "--seed", "1", "--seconds", "1", "--trace", "0"], str(tmp_path), 60)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


# ---------------------------------------------------------------------------
# Generators and statistics (no Spark)


def test_generators_are_seeded():
    assert gen.traffic_lines(5, 50) == gen.traffic_lines(5, 50)
    assert gen.traffic_lines(5, 50) != gen.traffic_lines(6, 50)
    a = list(itertools.islice(gen.word_files(5, 10), 3))
    b = list(itertools.islice(gen.word_files(5, 10), 3))
    assert [f.text for f in a] == [f.text for f in b]
    assert len({f.text for f in a}) == 3
    assert len({c.command for c in gen.grep_cases(20)}) == 20
    li1, li2 = gen.lineitem(1, 300, 40), gen.lineitem(2, 300, 40)
    assert not (li1["l_partkey"] == li2["l_partkey"]).all()
    # relabelled, not regenerated: the same graph shape for every seed
    for li in (li1, li2):
        assert len(set(zip(li["l_orderkey"], li["l_partkey"]))) == len(li["l_orderkey"])
    shape = lambda li: sorted(np.bincount(li["l_partkey"]).tolist())  # noqa: E731
    assert shape(li1) == shape(li2)


def test_golden_answers_match_their_inputs():
    files = [gen.TextFile("a.txt", "w1 w2 w1\n", 1), gen.TextFile("b.txt", "w2\nw3 w1\n", 2)]
    assert gen.word_counts(files) == Counter({"w1": 3, "w2": 2, "w3": 1})
    lines = ['1,2,7,"Stop, All Way","16"" X 42""",x', "1,2,7,Stop,a,b", '1,2,7,"Stop, All Way",,y']
    assert gen.traffic_counts(lines) == Counter({"7-Stop, All Way": 2, "7-Stop": 1})
    logs = [gen.TextFile("m.log", "a [db] GET x 10ms\nb [db] POST x 11ms\nc [api] GET 20ms\n", 3)]
    case = gen.GrepCase("grep -c '\\[db\\]' <filename> | grep -v '0ms$'", ((r"\[db\]", 0, False), ("0ms$", 0, True)))
    assert gen.grep_expected(case, logs) == {"m.log": 1}


def test_tail_percentile():
    assert tail([]) == (0.0, "none")
    assert tail([3.0, 1.0, 2.0]) == (3.0, "max_of_3")
    xs = [float(i) for i in range(1, 101)]
    v, name = tail(xs)
    assert name == "p90_of_100" and v == 90.0
    assert sum(x > v for x in xs) >= 10


# ---------------------------------------------------------------------------
# Workloads at a tiny size, in one shared session


@pytest.fixture(scope="module")
def ctx_factory(tmp_path_factory):
    from perfbench import run

    root = str(tmp_path_factory.mktemp("perfbench"))
    nproc = len(os.sched_getaffinity(0))
    run._pin_environment(os.path.join(root, "env"), nproc)
    from perfbench.harness import Ctx
    from perfbench.spans import NullTracer, Tracer

    spark = run._start_session()
    spark.sparkContext.setLogLevel("ERROR")
    n = [0]

    def make(seconds: float = 0.5, traced: bool = True) -> Ctx:
        n[0] += 1
        wd = os.path.join(root, f"w{n[0]}")
        os.makedirs(wd)
        return Ctx(spark, wd, 11, seconds, Tracer() if traced else NullTracer(), nproc)

    yield make
    run._stop_session(spark)


@pytest.fixture
def tiny(monkeypatch):
    from perfbench import queries, streams

    monkeypatch.setattr(streams, "WC_LINES", 20)
    monkeypatch.setattr(streams, "MIN_TRIGGERS", 2)
    monkeypatch.setattr(streams, "CSV_LINES", 100)
    monkeypatch.setattr(streams, "CSV_FILES_PER_TRIGGER", 1)
    monkeypatch.setattr(streams, "DRAIN_BATCHES_AFTER_RESTART", 3)
    monkeypatch.setattr(queries, "GREP_LINES", 300)
    monkeypatch.setattr(queries, "GREP_POOL", 10)
    monkeypatch.setattr(queries, "GREP_WARM_PER_CLIENT", 1)
    monkeypatch.setattr(queries, "KCORE_ORDERS", 3500)  # two peel rounds, a 395-node core
    monkeypatch.setattr(queries, "KCORE_PARTS", 400)
    monkeypatch.setattr(queries, "KCORE_WARM_RUNS", 0)
    monkeypatch.setattr(queries, "KCORE_RUNS", 1)
    return streams, queries


def _off_by_one_counter(fn):
    def wrapped(*a, **k):
        counts = fn(*a, **k)
        counts[sorted(counts)[0]] += 1
        return counts

    return wrapped


WORKLOADS = ["stream_rainstorm", "interactive"]
GATES = ["word_counts", "traffic_counts", "grep_counts", "kcore_oracle"]


def _workload(tiny, name):
    streams, queries = tiny
    return getattr(streams, name, None) or getattr(queries, name)


@pytest.mark.parametrize("name", WORKLOADS)
def test_workload_tiny_passes_its_gate(ctx_factory, tiny, name):
    res = _workload(tiny, name)(ctx_factory())
    assert res.correct and res.failed == 0 and res.attempted >= 1, res.details
    assert res.latencies_ms and min(res.latencies_ms) > 0
    assert res.throughput_per_s > 0 and res.recovery_s > 0 and res.result_s > 0
    per_layer = {m["name"] for m in _bench()["per_layer"]}
    assert res.layers and set(res.layers) <= per_layer


@pytest.mark.parametrize("gate", GATES)
def test_workload_gate_catches_one_wrong_expected_value(ctx_factory, tiny, monkeypatch, gate):
    streams, queries = tiny
    name = {"word_counts": "stream_rainstorm", "traffic_counts": "stream_rainstorm",
            "grep_counts": "interactive", "kcore_oracle": "interactive"}[gate]
    if gate == "word_counts":
        monkeypatch.setattr(gen, "word_counts", _off_by_one_counter(gen.word_counts))
    elif gate == "traffic_counts":
        monkeypatch.setattr(gen, "traffic_counts", _off_by_one_counter(gen.traffic_counts))
    elif gate == "grep_counts":
        real, calls = gen.grep_expected, []

        def wrong(case, logs):  # the first command of the pool always runs
            out = real(case, logs)
            if not calls:
                out[sorted(out)[0]] += 1
            calls.append(case)
            return out

        monkeypatch.setattr(gen, "grep_expected", wrong)
    else:
        real = queries._oracle_row

        def wrong(spec, sf_dir):  # n_core_nodes off by one
            k, n, *rest = real(spec, sf_dir)
            return (k, n + 1, *rest)

        monkeypatch.setattr(queries, "_oracle_row", wrong)
    res = _workload(tiny, name)(ctx_factory(traced=False))
    assert not res.correct
