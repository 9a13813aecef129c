"""Open-loop publisher: writes JSON-lines files on a fixed schedule.

    python3 perfbench/publisher.py --out DIR --staging DIR --seed N --files F \
        --per-file K --period-ms P --dup-rate R --t0 EPOCH

File ``i`` (``f-<i>.json``, ``K`` records from :func:`events.plan_files`) is
due at ``t0 + i * P`` ms. Every file is rendered before ``t0``; at its due
time it is written under ``--staging`` and renamed into ``--out``, so a
reader never sees a partial file. The schedule never waits for the reader.
Prints one JSON line: first and last write times and how late the schedule
ran (``late_ms_max``: completed rename minus due time, worst file).
"""

from __future__ import annotations

import argparse
import json
import os
import time

from events import append_time, iso_ms, plan_files


def main() -> None:
    ap = argparse.ArgumentParser()
    for name in ("--out", "--staging"):
        ap.add_argument(name, required=True)
    for name in ("--seed", "--files", "--per-file"):
        ap.add_argument(name, type=int, required=True)
    for name in ("--period-ms", "--dup-rate", "--t0"):
        ap.add_argument(name, type=float, required=True)
    a = ap.parse_args()

    bodies = []
    for f, recs in enumerate(plan_files(a.seed, a.files, a.per_file, a.dup_rate)):
        lines = (json.dumps({**r, "timestamp": iso_ms(append_time(f, i, a.period_ms))}) for i, r in enumerate(recs))
        bodies.append(("\n".join(lines) + "\n").encode())
    os.makedirs(a.staging, exist_ok=True)

    late_ms, first, last = 0.0, None, None
    for i, body in enumerate(bodies):
        due = a.t0 + i * a.period_ms / 1000
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        name = f"f-{i:06d}.json"
        tmp = os.path.join(a.staging, name)
        with open(tmp, "wb") as fh:
            fh.write(body)
        os.replace(tmp, os.path.join(a.out, name))
        now = time.time()
        late_ms = max(late_ms, (now - due) * 1000)
        first = first if first is not None else now
        last = now
    print(json.dumps({"late_ms_max": late_ms, "first_write": first, "last_write": last}), flush=True)


if __name__ == "__main__":
    main()
