#!/usr/bin/env python3
"""Tracing overhead: the traced minus the untraced end-to-end numbers.

Usage, from the repository root, after one run of each kind with the
same workload and seed:

    python3 perfbench/run.py --workload etl-lifecycle --seed 1 --seconds 4 --trace 0
    python3 perfbench/run.py --workload etl-lifecycle --seed 1 --seconds 4 --trace 1
    python3 perfbench/overhead.py --workload etl-lifecycle --seed 1

Reads the two records ``run.py`` wrote under ``.perfbench_out/`` and
prints one line per end-to-end metric: untraced value, traced value,
their difference and the difference as a share of the untraced value.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(workload: str, seed: int, trace: int) -> dict:
    path = os.path.join(ROOT, ".perfbench_out", f"{workload}-seed{seed}-trace{trace}.json")
    with open(path) as fh:
        return json.load(fh)["e2e"]


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args(argv)
    plain, traced = load(args.workload, args.seed, 0), load(args.workload, args.seed, 1)
    print(f"{'metric':<16}{'untraced':>14}{'traced':>14}{'overhead':>14}{'share':>9}")
    for name, base in plain.items():
        diff = traced[name] - base
        share = diff / base if base else float("nan")
        print(f"{name:<16}{base:>14.6g}{traced[name]:>14.6g}{diff:>14.6g}{share:>9.1%}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
