"""A/B the repository benchmark between two checkouts, interleaved.

    python tools/ab.py BASE CHANGE --workload raster_tiles --seeds 1-10

BASE and CHANGE are checkouts of two commits (e.g. made with
``git worktree add`` or ``git clone``). For each seed the tool runs
``python3 perfbench/run.py --workload W --seed S --seconds T --trace 0``
once in each checkout (T is ``run_seconds`` from CHANGE's
``BENCHMARK.json``), alternating which side goes first, and parses
the JSON line the run prints last. It then prints, per end-to-end
metric of ``BENCHMARK.json``, every seed's pair, each side's median
and quartiles, and the pairs the change won (ties count for neither),
with the verdict of the claim rule: at least 9/10 of the pairs won and
the medians apart by more than the base's interquartile range.
Every run is also printed to stderr as one JSON line, with the run's
``context`` line (per-iteration ``wall_samples_s``, sample counts,
loadavg), so a slow host can be told apart from slow iterations; keep
them with ``2> runs.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def parse_seeds(text: str) -> list[int]:
    seeds: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def run_once(checkout: str, workload: str, seed: int, seconds: float) -> tuple[dict, dict]:
    """The run's end-to-end values and its ``context`` line."""
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
    ]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode or not lines:
        raise SystemExit(f"{checkout} seed {seed} failed:\n{proc.stderr[-3000:]}")
    out = json.loads(lines[-1])
    context = next(
        (json.loads(ln)["context"] for ln in reversed(lines) if ln.startswith('{"context"')), {}
    )
    values = {
        "failed": out["failed"],
        "attempted": out["attempted"],
        **{k: v["value"] for k, v in out["metrics"].items()},
    }
    return values, context


def quartiles(vals: list[float]) -> tuple[float, float, float]:
    if len(vals) < 2:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4, method="inclusive")
    return q1, q2, q3


def report(metrics: list[dict], seeds: list[int], runs: dict) -> None:
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        base = [runs["base", s][name] for s in seeds]
        change = [runs["change", s][name] for s in seeds]
        print(f"\n## {name} ({m['unit']}, {m['better']} is better)")
        print("| seed | base | change | winner |\n|---|---|---|---|")
        wins = 0
        for s, b, c in zip(seeds, base, change):
            won = c < b if lower else c > b
            wins += won
            print(f"| {s} | {b:.4g} | {c:.4g} | {'change' if won else 'base' if b != c else 'tie'} |")
        bq, cq = quartiles(base), quartiles(change)
        iqr = bq[2] - bq[0]
        apart = (bq[1] - cq[1] if lower else cq[1] - bq[1]) > iqr
        print(
            f"median {bq[1]:.4g} -> {cq[1]:.4g} ({(cq[1] / bq[1] - 1) * 100:+.1f}%); "
            f"base Q1/Q3 {bq[0]:.4g}/{bq[2]:.4g} (IQR {iqr:.4g}); "
            f"change Q1/Q3 {cq[0]:.4g}/{cq[2]:.4g} (IQR {cq[2] - cq[0]:.4g}); "
            f"change won {wins}/{len(seeds)}; "
            f"gain claimable: {'yes' if wins >= 0.9 * len(seeds) and apart else 'no'}"
        )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="e.g. 1-10 or 1,4,7-9")
    args = ap.parse_args(argv)

    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics, seconds = bench["end_to_end"], bench["run_seconds"]
    seeds = parse_seeds(args.seeds)
    sides = {"base": args.base, "change": args.change}
    runs: dict[tuple[str, int], dict] = {}
    for i, seed in enumerate(seeds):
        order = ("base", "change") if i % 2 == 0 else ("change", "base")
        for side in order:
            r, context = run_once(sides[side], args.workload, seed, seconds)
            runs[side, seed] = r
            line = {"side": side, "seed": seed, "workload": args.workload, **r, "context": context}
            print(json.dumps(line), file=sys.stderr, flush=True)
    failed = {k: r["failed"] for k, r in runs.items() if r["failed"]}
    print(f"# {args.workload}: {len(seeds)} pairs, failed runs: {failed or 'none'}")
    report(metrics, seeds, runs)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
