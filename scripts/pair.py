"""Paired A/B benchmark runs of two checkouts of this repository.

Usage:
    python scripts/pair.py PARENT_TREE CHANGE_TREE --workload daily_upsert \
        --seeds 1-10

For each seed it runs the benchmark's command from ``BENCHMARK.json``
(read from CHANGE_TREE) as ``python3 perfbench/run.py --workload W
--seconds S --trace 0 --seed N``, S being its ``run_seconds``, once in
each tree (the tree is the working directory), one after the other, so
both sides run exactly as the benchmark does. The side that runs first
alternates from pair to pair, so drift on a shared host falls on both
sides alike. Each run's last stdout line is its JSON result.

It prints every pair's end-to-end metrics, then one row per metric of
``BENCHMARK.json`` (read from CHANGE_TREE): the parent and change
medians, each side's interquartile range, how many pairs the change won,
the median change, and whether the change stays within the metric's
bound. Last come ``failed``/``attempted`` per side. Unpaired numbers
from different sessions are not comparable; only pairs are.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def parse_seeds(text: str) -> list[int]:
    """``"1-3,7"`` -> ``[1, 2, 3, 7]``."""
    seeds: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def run_once(tree: str, cmd: list[str], seed: int) -> dict | None:
    """One benchmark run of ``cmd`` with seed ``seed`` in ``tree``; its
    JSON result, or None when the run printed none."""
    proc = subprocess.run(
        [*cmd, "--seed", str(seed)], cwd=tree, capture_output=True, text=True
    )
    for line in reversed(proc.stdout.strip().splitlines()):
        if line.startswith("{"):
            return json.loads(line)
    sys.stderr.write(
        f"{tree} seed {seed}: exit {proc.returncode}, no result\n"
        f"{proc.stderr[-2000:]}\n"
    )
    return None


def metric(result: dict, name: str) -> float | None:
    """One metric of a run's JSON result (``{"value", "unit"}``)."""
    m = result["metrics"].get(name)
    return m["value"] if isinstance(m, dict) else m


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(first quartile, median, third quartile)."""
    if len(values) < 2:
        v = values[0] if values else float("nan")
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def summarize(pairs: list[tuple[dict, dict]], end_to_end: list[dict]) -> None:
    print("\n| metric | parent median (IQR) | change median (IQR) "
          "| change wins | median delta | within bound |")
    print("|---|---|---|---|---|---|")
    for m in end_to_end:
        name, lower = m["name"], m["better"] == "lower"
        both = [
            (metric(a, name), metric(b, name))
            for a, b in pairs
            if metric(a, name) is not None and metric(b, name) is not None
        ]
        if not both:
            print(f"| {name} | - | - | - | - | - |")
            continue
        pq1, pmed, pq3 = quartiles([a for a, _ in both])
        cq1, cmed, cq3 = quartiles([b for _, b in both])
        wins = sum((b < a) if lower else (b > a) for a, b in both)
        delta = (cmed - pmed) / pmed if pmed else 0.0
        worse = delta if lower else -delta
        print(
            f"| {name} | {pmed:.3f} ({pq3 - pq1:.3f}) | {cmed:.3f} "
            f"({cq3 - cq1:.3f}) | {wins}/{len(both)} | {delta:+.1%} "
            f"| {'yes' if worse <= m['bound'] else 'NO'} (bound {m['bound']:.0%}) |"
        )


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    args = ap.parse_args()
    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    end_to_end = bench["end_to_end"]
    cmd = [
        *bench["command"], "--workload", args.workload,
        "--seconds", str(bench["run_seconds"]), "--trace", "0",
    ]
    names = [m["name"] for m in end_to_end]
    sides = {"parent": args.parent, "change": args.change}
    totals = {side: [0, 0] for side in sides}  # failed, attempted
    pairs = []
    print(f"workload {args.workload}; per pair: parent / change")
    print("| seed | first | " + " | ".join(names) + " |")
    print("|---|---|" + "---|" * len(names))
    for i, seed in enumerate(parse_seeds(args.seeds)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        got = {
            side: run_once(sides[side], cmd, seed)
            for side in order
        }
        for side, res in got.items():
            if res is not None:
                totals[side][0] += res.get("failed", 0)
                totals[side][1] += res.get("attempted", 0)
        if None in got.values():
            print(f"| {seed} | {order[0]} | " + " | ".join("-" for _ in names) + " |")
            continue
        pairs.append((got["parent"], got["change"]))
        cells = [
            " / ".join(
                f"{v:.3f}" if v is not None else "-"
                for v in (metric(got["parent"], n), metric(got["change"], n))
            )
            for n in names
        ]
        print(f"| {seed} | {order[0]} | " + " | ".join(cells) + " |", flush=True)
    summarize(pairs, end_to_end)
    for side, (failed, attempted) in totals.items():
        print(f"{side}: failed/attempted {failed}/{attempted}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
