"""Seeded event streams for the streaming workloads.

Records follow the reference's ``user_event`` shape: ``event_id`` and
``user_id`` (uuid4 text), ``name``, ``email`` and ``created_at``
(``%Y-%m-%d %H:%M:%S``). Every duplicate re-sends the full payload of an
original published in an EARLIER file, so with one file per micro-batch each
duplicate lands in a later micro-batch than its original and only the dedup
state store can drop it. The number of originals is
``unique_count(total, dup_rate)``, the same rule the program's own generator
follows, so one formula checks every workload's input.

Pure Python (no Spark): the publisher process imports it too.
"""

from __future__ import annotations

import datetime as dt
import random
import uuid
from fractions import Fraction

FIRST = ["alice", "bob", "carol", "dave", "erin", "frank", "grace", "heidi"]
LAST = ["smith", "jones", "brown", "wilson", "taylor", "lee", "walker", "hall"]
DOMAINS = ["example.com", "test.org", "mail.net", "corp.io"]
# Kafka append time of record 0; later records rise with publish order
BASE_TS = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


def unique_count(total: int, dup_rate: float) -> int:
    """floor(total / (1 + rate)) in exact rationals (binary floats get
    1100 / 1.1 wrong by one)."""
    return int(Fraction(total) / (1 + Fraction(str(dup_rate))))


def plan_files(seed: int, n_files: int, per_file: int, dup_rate: float) -> list[list[dict]]:
    """``n_files`` lists of ``per_file`` payload dicts, in publish order.

    File 0 holds originals only; the duplicate slots are drawn uniformly from
    the later positions, and each duplicate copies a random original from a
    strictly earlier file.
    """
    total = n_files * per_file
    n_dup = total - unique_count(total, dup_rate)
    if n_files < 2 or n_dup > total - per_file:
        raise ValueError("need at least two files and room for every duplicate after file 0")
    rng = random.Random(seed)
    dup_slots = set(rng.sample(range(per_file, total), n_dup))
    originals: list[dict] = []
    files: list[list[dict]] = []
    for f in range(n_files):
        before = len(originals)  # originals published in files < f
        out = []
        for pos in range(f * per_file, (f + 1) * per_file):
            if pos in dup_slots:
                out.append(originals[rng.randrange(before)])
                continue
            n = len(originals)
            rec = {
                "event_id": str(uuid.UUID(int=rng.getrandbits(128), version=4)),
                "user_id": str(uuid.UUID(int=rng.getrandbits(128), version=4)),
                "name": f"{rng.choice(FIRST)} {rng.choice(LAST)}",
                "email": f"user{n}@{rng.choice(DOMAINS)}",
                "created_at": (BASE_TS + dt.timedelta(seconds=n)).strftime("%Y-%m-%d %H:%M:%S"),
            }
            originals.append(rec)
            out.append(rec)
        files.append(out)
    return files


def append_time(file_idx: int, row: int, file_period_ms: float) -> dt.datetime:
    """Kafka-style append timestamp: the file's publish slot plus one
    microsecond per row, so timestamps rise with publish order."""
    return BASE_TS + dt.timedelta(milliseconds=file_idx * file_period_ms, microseconds=row)


def iso_ms(ts: dt.datetime) -> str:
    """Millisecond ISO-8601 text Spark's JSON reader parses as a timestamp."""
    return ts.strftime("%Y-%m-%dT%H:%M:%S.") + f"{ts.microsecond // 1000:03d}Z"
