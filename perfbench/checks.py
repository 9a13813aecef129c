"""Independent output checks, computed in DuckDB from the staged input.

The expected sink is derived here, not by the program: first record per key
in publish order, then the pipeline's table mapping (rename, uuid/string as
text, ``created_at`` parsed with the generator's format). It is compared
with the sink in both directions by anti-joins over whole rows, so a
missing, altered, duplicated or foreign row each shows.

Two kinds of finding are kept apart:

- per-record failures (``SinkReport.failed``): unique records missing from
  the sink, altered in it, or present more than once; these are the
  benchmark's failed operations;
- whole-run problems (``problems``): a miscounted input, a broken
  conservation law or a negative latency. Any of these makes the run
  incorrect.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import duckdb

from events import unique_count

DATETIME_FMT = "%Y-%m-%d %H:%M:%S"


def mapped_columns(mapping: list[dict]) -> list[str]:
    """DuckDB select list applying a pipeline ``table_mapping``."""
    out = []
    for m in mapping:
        src, dst, typ = m["field_name"], m["column_name"], m["column_type"].lower()
        if typ in ("datetime", "timestamp"):
            expr = f"strptime(\"{src}\", '{DATETIME_FMT}')"
        elif typ in ("string", "uuid"):
            expr = f'CAST("{src}" AS VARCHAR)'
        else:
            raise ValueError(f"no independent mapping for column type {typ!r}")
        out.append(f'{expr} AS "{dst}"')
    return out


@dataclass
class SinkReport:
    input_rows: int
    input_distinct: int
    expected_rows: int
    sink_rows: int
    missing: int  # expected keys absent from the sink
    altered: int  # expected keys in the sink, but no sink row equals the expected row
    duplicated: int  # sink rows beyond the first for their key
    foreign: int  # sink rows whose key no input record carries
    unmatched_expected: int  # expected EXCEPT ALL sink
    unmatched_sink: int  # sink EXCEPT ALL expected
    problems: list[str] = field(default_factory=list)

    @property
    def failed(self) -> int:
        return self.missing + self.altered + self.duplicated + self.foreign


def compare_sink(
    con: duckdb.DuckDBPyConnection,
    input_sql: str,
    sink_sql: str,
    key: str,
    mapping: list[dict],
    order_col: str,
    published: int,
    dup_rate: float | None,
) -> SinkReport:
    """Check the sink against the input.

    ``input_sql`` yields the decoded input fields plus ``order_col`` (publish
    order); ``sink_sql`` yields the sink rows. ``published`` is how many
    records the benchmark published; ``dup_rate`` enables the distinct-key
    formula check (None where the formula does not apply).
    """
    out_cols = ", ".join(f'"{m["column_name"]}"' for m in mapping)
    out_key = next(m["column_name"] for m in mapping if m["field_name"] == key)
    con.execute(f"CREATE OR REPLACE TEMP TABLE _inp AS {input_sql}")
    con.execute(
        f"""CREATE OR REPLACE TEMP TABLE _exp AS
        SELECT {", ".join(mapped_columns(mapping))} FROM (
            SELECT *, row_number() OVER (PARTITION BY "{key}" ORDER BY "{order_col}") AS _rn
            FROM _inp) WHERE _rn = 1"""
    )
    con.execute(f"CREATE OR REPLACE TEMP TABLE _sink AS SELECT {out_cols} FROM ({sink_sql})")

    def one(sql: str) -> int:
        return int(con.execute(sql).fetchone()[0])

    k = f'"{out_key}"'
    unmatched_exp = f"SELECT {out_cols} FROM _exp EXCEPT SELECT {out_cols} FROM _sink"
    rep = SinkReport(
        input_rows=one("SELECT count(*) FROM _inp"),
        input_distinct=one(f'SELECT count(DISTINCT "{key}") FROM _inp'),
        expected_rows=one("SELECT count(*) FROM _exp"),
        sink_rows=one("SELECT count(*) FROM _sink"),
        missing=one(f"SELECT count(*) FROM _exp e WHERE NOT EXISTS (SELECT 1 FROM _sink s WHERE s.{k} = e.{k})"),
        altered=one(f"SELECT count(*) FROM ({unmatched_exp}) u WHERE u.{k} IN (SELECT {k} FROM _sink)"),
        duplicated=one(f"SELECT count(*) - count(DISTINCT {k}) FROM _sink"),
        foreign=one(f"SELECT count(*) FROM _sink s WHERE NOT EXISTS (SELECT 1 FROM _exp e WHERE e.{k} = s.{k})"),
        unmatched_expected=one(
            f"SELECT count(*) FROM (SELECT {out_cols} FROM _exp EXCEPT ALL SELECT {out_cols} FROM _sink)"
        ),
        unmatched_sink=one(
            f"SELECT count(*) FROM (SELECT {out_cols} FROM _sink EXCEPT ALL SELECT {out_cols} FROM _exp)"
        ),
    )
    if rep.input_rows != published:
        rep.problems.append(f"input holds {rep.input_rows} records, {published} were published")
    if dup_rate is not None and rep.input_distinct != unique_count(published, dup_rate):
        rep.problems.append(
            f"input holds {rep.input_distinct} distinct {key}, "
            f"floor({published}/(1+{dup_rate})) = {unique_count(published, dup_rate)}"
        )
    if rep.failed == 0 and (rep.unmatched_expected or rep.unmatched_sink):
        # cannot happen when the per-record counts are right; guards the counts
        rep.problems.append(
            f"anti-joins disagree with the per-record counts: {rep.unmatched_expected} expected"
            f" rows and {rep.unmatched_sink} sink rows unmatched"
        )
    return rep


def conservation_problems(published: int, read_rows: int, sink_rows: int, dropped: int) -> list[str]:
    """Spark's own counters must account for every published record: rows
    read (summed ``numInputRows``) equal rows published, and rows written
    plus ``numDroppedDuplicateRows`` equal rows published."""
    out = []
    if read_rows != published:
        out.append(f"Spark read {read_rows} records, {published} were published")
    if sink_rows + dropped != published:
        out.append(f"sink rows {sink_rows} + dropped duplicates {dropped} != published {published}")
    return out


# a tail percentile is reported only when at least ten samples lie beyond it
_TAILS = (75.0, 90.0, 99.0, 99.9)


def summarize_latency(samples_ms: list[float]) -> dict[str, float]:
    """Median plus each tail percentile with >= 10 samples beyond it
    (nearest rank). Fewer than 40 samples: the median alone."""
    xs = sorted(samples_ms)
    n = len(xs)
    if n == 0:
        raise ValueError("no latency samples")

    def rank(q: float) -> float:
        tenths = round(q * 10)
        return xs[max(0, -(-tenths * n // 1000) - 1)]  # ceil(q/100 * n) - 1

    out = {"n": n, "p50": rank(50.0)}
    if n >= 40:
        for q in _TAILS:
            if n * (1000 - round(q * 10)) >= 10_000:
                out[f"p{q:g}"] = rank(q)
    return out


def latency_problems(samples_ms: list[float]) -> list[str]:
    """A record cannot be committed before it was due."""
    neg = [x for x in samples_ms if x < 0]
    return [f"{len(neg)} latency samples < 0 (min {min(neg):.3f} ms)"] if neg else []
