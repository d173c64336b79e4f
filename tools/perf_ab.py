#!/usr/bin/env python3
"""Interleaved A/B of perfbench/run.py between two checkouts.

    python tools/perf_ab.py BASE CHANGE --workload kg_build --pairs 10

BASE and CHANGE are two checkouts of the repository (git worktrees or
clones). Each pair runs ``perfbench/run.py`` once in each checkout, one
after the other; the side that runs first alternates from pair to pair, so
a drift of the host's speed during the session lands on both sides alike.
A single run's numbers prove little on a host whose speed swings between
windows; the pairs do.

For every metric of the result line it prints each side's median and
quartiles, the change in the median, how many pairs the change won
(better within the pair, in the direction BENCHMARK.json gives; lower if
it names none), and whether the median difference exceeds BASE's
interquartile distance. ``--out`` also writes every run's result line as
JSON.

It also checks rows. perfbench prints one ``perfbench fingerprint
<workload> seed=N <op>: (rows, hash)`` line per operation; for each
operation the report says whether every BASE run and every CHANGE run gave
one identical fingerprint. This holds on hosts where perfbench's own pinned
values do not (its ``correct`` is then false on both sides alike).

Beside the result line's metrics the table has ``warmup_passes_s``, the
wall of the run's warm-up passes (from perfbench's summary line).
``setup_s`` is session start plus the warm-up passes' excess over a steady
pass, so a change that makes the steady pass cheaper raises ``setup_s``
unless it speeds the warm-up as much; this row tells the two apart.

Before the pairs it prints the OpenBLAS kernel each checkout runs: the
``OPENBLAS_CORETYPE`` that ``import bran_spark`` leaves in effect there
(the caller's own value, if set). The kernel alone moves the encoder's
speed 2.4x on one host, so a record that does not name it cannot be
compared with another.
"""

from __future__ import annotations

import argparse
import json
import re
import statistics
import subprocess
import sys
import time
from pathlib import Path

FINGERPRINT = re.compile(r"^perfbench fingerprint \S+ seed=\d+ (\S+): (.*)$")
WARM_UP = re.compile(r"^perfbench \S+: warm-up passes \[([^\]]*)\] s;")


def run_once(checkout: Path, args) -> dict:
    """One perfbench run in ``checkout``: its last stdout line, parsed, with
    the run's fingerprint lines under ``"fingerprints"`` (op -> text)."""
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", args.workload,
        "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace),
    ]
    t = time.perf_counter()
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    wall = time.perf_counter() - t
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise RuntimeError(f"perfbench failed in {checkout} (exit {proc.returncode})")
    out = json.loads(lines[-1])
    out["run_wall_s"] = wall
    out["fingerprints"] = {
        m.group(1): m.group(2) for m in map(FINGERPRINT.match, lines) if m
    }
    for m in filter(None, map(WARM_UP.match, lines)):
        walls = [float(w) for w in m.group(1).split(",") if w.strip()]
        out["metrics"]["warmup_passes_s"] = {"value": sum(walls), "unit": "s"}
    return out


def blas_kernel(checkout: Path) -> str:
    """The OPENBLAS_CORETYPE in effect after ``import bran_spark`` in
    ``checkout``; "unset" when OpenBLAS is left to pick by CPU model."""
    proc = subprocess.run(
        [sys.executable, "-c",
         "import os, bran_spark; print(os.environ.get('OPENBLAS_CORETYPE', ''))"],
        cwd=checkout, capture_output=True, text=True, check=True,
    )
    return proc.stdout.strip() or "unset"


def directions(checkout: Path) -> dict[str, str]:
    """metric -> "lower" | "higher", from the checkout's BENCHMARK.json."""
    try:
        spec = json.loads((checkout / "BENCHMARK.json").read_text())
    except OSError:
        return {}
    return {
        m["name"]: m.get("better", "lower")
        for key in ("end_to_end", "per_layer")
        for m in spec.get(key, [])
    }


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def row_check(runs: dict[str, list[dict]]) -> None:
    """Per operation: one fingerprint across every run of both sides?"""
    every = runs["base"] + runs["change"]
    ops = sorted(set().union(*(r["fingerprints"] for r in every)))
    if not ops:
        print("rows: no fingerprint lines in perfbench's output")
    for op in ops:
        seen = {side: {r["fingerprints"].get(op) for r in runs[side]} for side in runs}
        values = seen["base"] | seen["change"]
        if len(values) == 1 and values - {None, "None"}:
            print(f"rows {op}: identical in all {len(every)} runs {values.pop()}")
        else:
            print(f"rows {op}: DIFFER base {sorted(map(str, seen['base']))} "
                  f"change {sorted(map(str, seen['change']))}")


def report(runs: dict[str, list[dict]], better: dict[str, str]) -> None:
    for side in ("base", "change"):
        ok = sum(r["correct"] for r in runs[side])
        failed = sum(r["failed"] for r in runs[side])
        attempted = sum(r["attempted"] for r in runs[side])
        print(f"{side}: {ok}/{len(runs[side])} runs correct, "
              f"{failed}/{attempted} operations failed")
    row_check(runs)
    names = sorted(set().union(*(r["metrics"] for r in runs["base"] + runs["change"])))
    print(f"{'metric':34} {'base median [q1, q3]':32} {'change median [q1, q3]':32}"
          f" {'delta':>7} {'wins':>6} resolved")
    for name in names:
        pairs = [
            (b["metrics"][name]["value"], c["metrics"][name]["value"])
            for b, c in zip(runs["base"], runs["change"])
            if name in b["metrics"] and name in c["metrics"]
        ]
        if not pairs:
            continue
        sign = -1 if better.get(name, "lower") == "higher" else 1
        bq = quartiles([b for b, _ in pairs])
        cq = quartiles([c for _, c in pairs])
        wins = sum(sign * (c - b) < 0 for b, c in pairs)
        delta = (cq[1] - bq[1]) / bq[1] if bq[1] else float("nan")
        resolved = abs(cq[1] - bq[1]) > bq[2] - bq[0]
        base_q = f"{bq[1]:.4g} [{bq[0]:.4g}, {bq[2]:.4g}]"
        change_q = f"{cq[1]:.4g} [{cq[0]:.4g}, {cq[2]:.4g}]"
        print(f"{name:34} {base_q:32} {change_q:32} {delta:>+7.1%} {wins:>3}/{len(pairs):<2} "
              f"{'yes' if resolved else 'no'}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base", type=Path)
    ap.add_argument("change", type=Path)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", type=Path, help="write every run's result line here")
    args = ap.parse_args()

    sides = {"base": args.base.resolve(), "change": args.change.resolve()}
    kernels = {side: blas_kernel(path) for side, path in sides.items()}
    for side, kernel in kernels.items():
        print(f"{side} OPENBLAS_CORETYPE: {kernel}", flush=True)
    runs: dict[str, list[dict]] = {"base": [], "change": []}
    for i in range(args.pairs):
        order = ("base", "change") if i % 2 == 0 else ("change", "base")
        for side in order:
            r = run_once(sides[side], args)
            runs[side].append(r)
            m = r["metrics"]
            print(f"pair {i + 1}/{args.pairs} {side}: correct={r['correct']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in sorted(m.items())[:6]),
                  flush=True)
        if args.out:
            args.out.write_text(json.dumps({"args": vars(args) | {
                "base": str(sides["base"]), "change": str(sides["change"]),
                "out": str(args.out)}, "kernels": kernels, "runs": runs}, indent=1))
    report(runs, directions(sides["base"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
