#!/usr/bin/env python3
"""Alternating parent/change pairs of one repo-benchmark workload.

Usage, from the repository root:

    python3 scripts/perf_pairs.py --workload etl-lifecycle --pairs 10 --rev HEAD

Exports ``--rev`` with ``git archive`` into a temporary directory (no
git worktree is created), then runs ``perfbench/run.py`` (untraced) on
that export and on the working tree, one pair per seed
``--seed0 .. --seed0 + pairs - 1``, swapping which side runs first on
every pair. Every run lasts the ``run_seconds`` that ``BENCHMARK.json``
sets. Prints, for each end-to-end metric of ``BENCHMARK.json``,
the median and quartiles of each side, the number of pairs the working
tree won (ties count for neither side) and a verdict: ``gain`` when the
working tree won at least 9/10 of the pairs and its median beats the
parent's by more than the parent's interquartile range, ``loss`` by the
same rule the other way, else ``unresolved``. Then it lists the pairs
that look like host drift: for a metric, both runs of the pair lie on
the same side of their own side's median, each by more than 1.5 times
that side's interquartile range. Last comes one JSON line with every
run's result and the drift flags. Each side's runs must all report
``correct: true`` with nothing failed; the script exits 1 otherwise.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export(rev: str, dest: str) -> None:
    """Write the tree of `rev` into `dest` (git archive | tar -x)."""
    archive = subprocess.run(
        ["git", "-C", ROOT, "archive", "--format=tar", rev],
        check=True, stdout=subprocess.PIPE,
    ).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def run_once(tree: str, workload: str, seed: int, seconds: int) -> dict:
    """One untraced benchmark run in `tree`; its JSON result."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise RuntimeError(f"run in {tree} (seed {seed}) exited {proc.returncode}")
    return json.loads(lines[-1])


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def verdict(pairs: list[tuple[float, float]], higher: bool) -> str:
    """`gain`, `loss` or `unresolved` for (parent, change) value pairs:
    a side wins when it wins >= 9/10 of the pairs and the medians differ
    by more than the parent's interquartile range."""
    p1, pm, p3 = quartiles([p for p, _ in pairs])
    cm = statistics.median([c for _, c in pairs])
    better = sum((c > p) if higher else (c < p) for p, c in pairs)
    worse = sum((c < p) if higher else (c > p) for p, c in pairs)
    if abs(cm - pm) > p3 - p1:
        if better >= 0.9 * len(pairs) and (cm > pm) == higher:
            return "gain"
        if worse >= 0.9 * len(pairs) and (cm < pm) == higher:
            return "loss"
    return "unresolved"


def drifted(pairs: list[tuple[float, float]]) -> list[int]:
    """Indices of the pairs whose two runs both lie beyond their own
    side's median, on the same side of it, by more than 1.5 times that
    side's interquartile range: the host moved both runs of the pair."""
    out = []
    sides = [quartiles([pair[i] for pair in pairs]) for i in (0, 1)]
    for k, pair in enumerate(pairs):
        dev = [x - m for x, (_, m, _) in zip(pair, sides)]
        far = all(abs(d) > 1.5 * (q3 - q1) for d, (q1, _, q3) in zip(dev, sides))
        if far and (dev[0] > 0) == (dev[1] > 0):
            out.append(k)
    return out


def report(runs: list[dict], metrics: list[dict]) -> dict[int, list[str]]:
    """Print the table of the module docstring; the metrics flagged as
    host drift, by pair index."""
    print(f"{'metric':<16} {'parent median [q1, q3]':>32} "
          f"{'change median [q1, q3]':>32} {'change':>8} {'wins':>6}  verdict")
    flags: dict[int, list[str]] = {}
    for m in metrics:
        name, higher = m["name"], m["better"] == "higher"
        values = [(k, r["parent"]["metrics"].get(name, {}).get("value"),
                   r["change"]["metrics"].get(name, {}).get("value"))
                  for k, r in enumerate(runs)]
        values = [v for v in values if v[1] is not None and v[2] is not None]
        if not values:
            continue
        pairs = [(p, c) for _, p, c in values]
        p1, pm, p3 = quartiles([p for p, _ in pairs])
        c1, cm, c3 = quartiles([c for _, c in pairs])
        wins = sum((c > p) if higher else (c < p) for p, c in pairs)
        delta = f"{(cm - pm) / pm:+.1%}" if pm else "n/a"
        print(f"{name:<16} {pm:>12.4g} [{p1:.4g}, {p3:.4g}]".ljust(50)
              + f"{cm:>12.4g} [{c1:.4g}, {c3:.4g}]".ljust(33)
              + f"{delta:>8} {wins:>3}/{len(pairs)}  {verdict(pairs, higher)}")
        for i in drifted(pairs):
            flags.setdefault(values[i][0], []).append(name)
    for k in sorted(flags):
        print(f"host drift? pair {k + 1} (seed {runs[k]['seed']}): "
              + ", ".join(flags[k]))
    return flags


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--rev", default="HEAD", help="the parent side (default HEAD)")
    ap.add_argument("--seed0", type=int, default=61)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    metrics, seconds = bench["end_to_end"], bench["run_seconds"]
    parent = tempfile.mkdtemp(prefix="perf-pairs-")
    runs = []
    try:
        export(args.rev, parent)
        sides = {"parent": parent, "change": ROOT}
        for i in range(args.pairs):
            seed = args.seed0 + i
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            pair = {"seed": seed, "first": order[0]}
            for side in order:
                pair[side] = run_once(sides[side], args.workload, seed, seconds)
            runs.append(pair)
            print(f"pair {i + 1}/{args.pairs} seed {seed} ({order[0]} first): "
                  + ", ".join(f"{s} correct={pair[s]['correct']} "
                              f"failed={pair[s]['failed']}" for s in sides),
                  file=sys.stderr, flush=True)
    finally:
        shutil.rmtree(parent, ignore_errors=True)
    print(f"{args.workload}: {len(runs)} pairs, parent {args.rev} vs working tree, "
          f"seeds {args.seed0}..{args.seed0 + args.pairs - 1}")
    flags = report(runs, metrics)
    print(json.dumps({"workload": args.workload, "rev": args.rev, "runs": runs,
                      "drift": {runs[k]["seed"]: v for k, v in flags.items()}}))
    ok = all(r[s]["correct"] and not r[s]["failed"] for r in runs for s in ("parent", "change"))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
