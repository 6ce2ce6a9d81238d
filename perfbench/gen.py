"""Seeded input generators and their golden answers.

Everything here is plain Python/NumPy: the benchmark computes each expected
result itself, independently of the program under test, so a correctness gate
can only pass when the program's output equals an answer it never touched.
The same seed always gives the same inputs.
"""

from __future__ import annotations

import csv
import io
import itertools
import re
from collections import Counter
from dataclasses import dataclass
from typing import Iterator

import numpy as np

# ---------------------------------------------------------------------------
# stream_rainstorm, open loop: Zipf-distributed words, one text file per load event


WC_VOCAB = 5000  # distinct words
WC_ZIPF_S = 1.1  # Zipf exponent of word ranks
WC_WORDS_PER_LINE = 8


@dataclass
class TextFile:
    name: str
    text: str
    lines: int


def word_files(seed: int, lines_per_file: int) -> Iterator[TextFile]:
    """An endless seeded sequence of text files of bounded-Zipf words: the
    open loop writes as many as its window needs."""
    rng = np.random.default_rng([seed, 1])
    words = np.array([f"w{i:05d}" for i in range(WC_VOCAB)])
    w = 1.0 / np.arange(1, WC_VOCAB + 1, dtype=np.float64) ** WC_ZIPF_S
    probs = w / w.sum()
    for f in itertools.count():
        ids = rng.choice(WC_VOCAB, size=(lines_per_file, WC_WORDS_PER_LINE), p=probs)
        text = "\n".join(" ".join(row) for row in words[ids]) + "\n"
        yield TextFile(f"part-{f:05d}.txt", text, lines_per_file)


def word_counts(files: list[TextFile]) -> Counter:
    """Reference split_operator -> count_operator over `files`."""
    return Counter(w for f in files for w in f.text.split())


# ---------------------------------------------------------------------------
# stream_rainstorm, backlog drain: traffic-sign CSV lines (FIXTURES.md section 1)

_SIGN_NAMES = (
    "No Outlet", "Streetname - Mast Arm", "Stop", "Speed Limit 30",
    "Stop, All Way", "Yield, Left Turn", "School Zone", "Do Not Enter",
)
_POSTS = ("Traffic Signal Mast Arm", "Punched Telespar", "Wood Post", "Streetlight")
_CATEGORIES = ("Streetname", "Warning", "Regulatory", "Guide")
_SIZES = ('16" X 42"', '30" X 30"', '24" X 24"', "")
_STREETS = ("Mercury Dr", "Green St", "", "Neil St, North")


def _csv_line(fields: list[str]) -> str:
    buf = io.StringIO()
    csv.writer(buf, lineterminator="").writerow(fields)
    return buf.getvalue()


CSV_DUP_SHARE = 0.05  # lines that repeat an earlier key


def traffic_lines(seed: int, n: int) -> list[str]:
    """n traffic-sign CSV lines. objectid is unique except for a
    CSV_DUP_SHARE of lines that repeat an earlier (objectid, sign) pair, so the stage-2 key
    (c2-c3) is near-unique and state grows with the input. Sign names and
    sizes carry quoted commas and doubled quotes, as in the reference's
    `16" X 42"` size field."""
    rng = np.random.default_rng([seed, 2])
    out: list[str] = []
    keys: list[tuple[int, str]] = []
    for i in range(n):
        if keys and rng.random() < CSV_DUP_SHARE:
            oid, sign = keys[int(rng.integers(len(keys)))]
        else:
            oid, sign = seed * 10_000_000 + i + 1, _SIGN_NAMES[int(rng.integers(len(_SIGN_NAMES)))]
            keys.append((oid, sign))
        f = [
            f"{-9822752.0 + rng.random() * 1000:.8f}",
            f"{4887653.0 + rng.random() * 1000:.8f}",
            str(oid),
            sign,
            _SIZES[int(rng.integers(len(_SIZES)))],
            " ",
            _POSTS[int(rng.integers(len(_POSTS)))],
            str(2000 + int(rng.integers(20))) if rng.random() < 0.5 else "",
            _CATEGORIES[int(rng.integers(len(_CATEGORIES)))],
            "",
            f"W{int(rng.integers(1, 20))}-{int(rng.integers(1, 9))}",
            "Champaign",
            f"{rng.random() * 5:.1f}",
            "",
            "AERIAL",
            "LE"[int(rng.integers(2))],
            _STREETS[int(rng.integers(len(_STREETS)))],
            f"{rng.random() * 5:.1f}",
            "",
            "{%08X-0000-4000-8000-%012X}" % (int(rng.integers(1 << 32)), i),
        ]
        out.append(_csv_line(f))
    return out


def traffic_counts(lines: list[str]) -> Counter:
    """Reference app1_2 -> count_operator: count of 'objectid-sign_name'."""
    c = Counter()
    for row in csv.reader(lines):
        c[f"{row[2]}-{row[3]}"] += 1
    return c


def split_files(lines: list[str], n_files: int) -> list[TextFile]:
    per = -(-len(lines) // n_files)
    return [
        TextFile(f"part-{i:05d}.csv", "\n".join(chunk) + "\n", len(chunk))
        for i, chunk in enumerate(lines[j : j + per] for j in range(0, len(lines), per))
    ]


# ---------------------------------------------------------------------------
# interactive, grep phase: per-machine logs and a seeded MP1 command mix

_LEVELS = ("INFO", "INFO", "INFO", "DEBUG", "DEBUG", "WARN", "ERROR")
_COMPONENTS = ("api", "db", "cache", "auth", "disk", "net", "sched")
_METHODS = ("GET", "POST", "PUT", "DELETE")
_MSGS = (
    "request served", "connection Timeout", "retrying after TIMEOUT",
    "disk usage high", "user login ok", "cache miss", "slow query timeout",
    "queue drained", "payload rejected",
)


def machine_logs(seed: int, n_machines: int, lines_per_machine: int) -> list[TextFile]:
    """One log file per machine, as MP1's per-VM `machine.i.log` files."""
    rng = np.random.default_rng([seed, 3])
    files = []
    for m in range(n_machines):
        lv = rng.integers(len(_LEVELS), size=lines_per_machine)
        co = rng.integers(len(_COMPONENTS), size=lines_per_machine)
        me = rng.integers(len(_METHODS), size=lines_per_machine)
        ms = rng.integers(len(_MSGS), size=lines_per_machine)
        us = rng.integers(1000, size=lines_per_machine)
        lat = rng.integers(1, 5000, size=lines_per_machine)
        lines = [
            f"2026-10-17T02:{(i // 60) % 60:02d}:{i % 60:02d} {_LEVELS[lv[i]]} "
            f"[{_COMPONENTS[co[i]]}] {_METHODS[me[i]]} /v1/user{us[i]:03d} "
            f"{_MSGS[ms[i]]} {lat[i]}ms"
            for i in range(lines_per_machine)
        ]
        files.append(TextFile(f"machine.{m + 1}.log", "\n".join(lines) + "\n", lines_per_machine))
    return files


@dataclass(frozen=True)
class GrepCase:
    """An MP1 command and the Python regexes that define its answer: a line
    counts when every (regex, flags, invert) stage accepts it."""

    command: str
    stages: tuple[tuple[str, int, bool], ...]


def grep_cases(n: int) -> list[GrepCase]:
    """A fixed pool of `n` counting commands, cycling through five kinds:
    literal -c, -ci, -cE alternation, BRE brackets and `grep A | grep -v B`.
    The pool does not depend on the seed, so every seed runs the same mix;
    the seed varies the logs and the order clients walk the pool in."""
    levels = ("ERROR", "WARN", "DEBUG", "INFO")
    words = ("timeout", "cache", "LOGIN", "Served")
    alts = ("GET|POST", "PUT|DELETE", "POST|DELETE", "GET|PUT")
    pipes = (("api", "INFO"), ("db", "GET"), ("disk", "0ms$"), ("auth", "INFO"))
    out = []
    for i in range(n):
        kind, j = i % 5, i // 5
        if kind == 0:
            lvl = levels[j % len(levels)]
            out.append(GrepCase(f"grep -c '{lvl}'", ((re.escape(lvl), 0, False),)))
        elif kind == 1:
            word = words[j % len(words)]
            out.append(GrepCase(f"grep -ci '{word}'", ((re.escape(word), re.I, False),)))
        elif kind == 2:
            alt = alts[j % len(alts)]
            out.append(GrepCase(f"grep -cE '{alt}'", ((alt, 0, False),)))
        elif kind == 3:
            bre = f"user[0-9]{j % 10}[0-9] "
            out.append(GrepCase(f"grep -c '{bre}'", ((bre, 0, False),)))
        else:
            a, b = pipes[j % len(pipes)]
            out.append(
                GrepCase(
                    f"grep -c '\\[{a}\\]' <filename> | grep -v '{b}'",
                    ((re.escape(f"[{a}]"), 0, False), (b, 0, True)),
                )
            )
    return out


def grep_expected(case: GrepCase, logs: list[TextFile]) -> dict[str, int]:
    """Per-file match counts; files with no match are absent (the program's
    -c result has one row per file that matched)."""
    stages = [(re.compile(p, f), inv) for p, f, inv in case.stages]
    out = {}
    for lf in logs:
        n = sum(
            1
            for line in lf.text.splitlines()
            if all(bool(rx.search(line)) != inv for rx, inv in stages)
        )
        if n:
            out[lf.name] = n
    return out


# ---------------------------------------------------------------------------
# interactive, graph phase: a TPC-H-shaped lineitem (orderkey, partkey)


LINEITEM_MAX_LINES = 7  # TPC-H orders have 1..7 lines
LINEITEM_SHAPE_SEED = 56  # at 7,500 x 1,000: two peel rounds at k=80


def lineitem(seed: int, n_orders: int, n_parts: int) -> dict[str, np.ndarray]:
    """Orders of 1..LINEITEM_MAX_LINES distinct uniformly drawn parts, as TPC-H's
    lineitem: at 7,500 orders and 1,000 parts this is sf0.005's shape.

    The co-purchase graph's shape is fixed; the seed relabels parts and
    orders. Every seed so gives an isomorphic graph, the same peel rounds
    and the same k-core census, in different input files: the workload's
    cost does not depend on the seed."""
    base = np.random.default_rng(LINEITEM_SHAPE_SEED)
    sizes = base.integers(1, LINEITEM_MAX_LINES + 1, size=n_orders)
    orders = np.repeat(np.arange(n_orders, dtype=np.int64), sizes)
    parts = np.concatenate([base.choice(n_parts, size=k, replace=False) for k in sizes])
    rng = np.random.default_rng([seed, 5])
    part_ids = rng.permutation(n_parts).astype(np.int64) + 1
    order_ids = rng.permutation(n_orders).astype(np.int64) + 1
    rows = np.argsort(order_ids[orders], kind="stable")  # lineitem is in orderkey order
    return {"l_orderkey": order_ids[orders][rows], "l_partkey": part_ids[parts][rows]}
