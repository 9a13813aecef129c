#!/usr/bin/env python3
"""Tracing overhead: a traced run's end-to-end figures minus an untraced
run's, same workload and seed.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0
    python3 perfbench/run.py --workload W --seed N --seconds S --trace 1
    python3 perfbench/overhead.py --workload W --seed N

Both runs leave their figures in ``perfbench/out/results/``; this prints one
JSON line per end-to-end metric with both values, the difference and its
share of the untraced value.
"""

from __future__ import annotations

import argparse
import json
from pathlib import Path

RESULTS = Path(__file__).resolve().parent / "out" / "results"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    plain, traced = (json.loads((RESULTS / f"{a.workload}-seed{a.seed}-trace{t}.json").read_text())
                     for t in (0, 1))
    for name, base in plain["end_to_end"].items():
        with_trace = traced["end_to_end"][name]
        print(json.dumps({"metric": name, "untraced": base, "traced": with_trace,
                          "overhead": with_trace - base, "share": (with_trace - base) / base}))


if __name__ == "__main__":
    main()
