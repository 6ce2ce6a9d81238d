"""Interleaved A/B timing: HEAD (this repo) vs a pinned baseline checkout.

For each of N rounds, run [baseline pass] then [head pass], each a fresh
subprocess (own JVM) executing this script's `measure` pass against that
checkout. Interleaving makes host-load episodes hit both sides instead of
biasing one; per-side min over rounds is the steady-state comparator (the
bench's own lowest-total logic).

Usage: python tools/ab.py --base <checkout> [--rounds 3] [--runs 3] [--sf-dir D] name [name...]
       python tools/ab.py measure <repo_path> <sf_dir> <runs> name [name...]

The `measure` form is one pass: it times the named registry queries min-of-K
inside one warm session of <repo_path>'s package and prints ONE JSON line
{name: min_sec, ..., "_total": sum_of_mins}. --sf-dir defaults to
$SPARK_GRAFT_SF_DIR.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def measure(repo: str, sf_dir: str, runs: int, names: list[str]) -> None:
    sys.path.insert(0, os.path.abspath(repo))

    from streamds_spark.registry import load_all
    from streamds_spark.session import get_spark

    spark = get_spark("ab")
    specs = load_all()
    spark.range(1).count()
    specs["distinct_values"].fn(spark, sf_dir).count()
    specs["topk_parts"].fn(spark, sf_dir).count()

    out: dict[str, float] = {}
    for name in names:
        spec = specs[name]
        spec.fn(spark, sf_dir).count()  # warm (JIT/codegen)
        best = float("inf")
        for _ in range(runs):
            t0 = time.time()
            spec.fn(spark, sf_dir).count()
            best = min(best, time.time() - t0)
        out[name] = round(best, 3)
    out["_total"] = round(sum(v for k, v in out.items() if not k.startswith("_")), 3)
    print(json.dumps(out))


def one_pass(repo: str, sf_dir: str, runs: int, names: list[str]) -> dict:
    res = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "measure", repo, sf_dir, str(runs), *names],
        capture_output=True, text=True, check=True,
    )
    return json.loads(res.stdout.strip().splitlines()[-1])


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def main() -> None:
    if sys.argv[1:2] == ["measure"]:
        repo, sf_dir, runs, *names = sys.argv[2:]
        measure(repo, sf_dir, int(runs), names)
        return

    ap = argparse.ArgumentParser()
    ap.add_argument("--base", required=True)
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()
    if not args.sf_dir:
        ap.error("pass --sf-dir or set SPARK_GRAFT_SF_DIR")

    base_mins: dict[str, float] = {}
    head_mins: dict[str, float] = {}
    for r in range(args.rounds):
        for tag, repo, mins in (
            ("base", args.base, base_mins),
            ("head", REPO, head_mins),
        ):
            res = one_pass(repo, args.sf_dir, args.runs, args.names)
            for k, v in res.items():
                mins[k] = min(mins.get(k, float("inf")), v)
            print(f"round {r} {tag} load1={load1():.2f} total={res['_total']}", flush=True)
    print(f"\n{'query':40s} {'base':>8s} {'head':>8s} {'ratio':>7s}")
    for k in args.names + ["_total"]:
        b, h = base_mins[k], head_mins[k]
        print(f"{k:40s} {b:8.3f} {h:8.3f} {h / b if b else 0:7.2f}")


if __name__ == "__main__":
    main()
