"""The output checks must catch a planted fault: a missing, duplicated or
altered sink row, a miscounted input, broken conservation, a negative
latency. Pure DuckDB/pyarrow; no Spark.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

import datetime as dt

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from checks import compare_sink, conservation_problems, latency_problems, summarize_latency
from events import plan_files, unique_count

MAPPING = [
    {"field_name": "event_id", "column_name": "event_id", "column_type": "uuid"},
    {"field_name": "user_id", "column_name": "user_id", "column_type": "uuid"},
    {"field_name": "created_at", "column_name": "created_at", "column_type": "datetime"},
    {"field_name": "name", "column_name": "user_name", "column_type": "string"},
    {"field_name": "email", "column_name": "user_email", "column_type": "string"},
]
RATE = 0.1
FILES, PER_FILE = 3, 40
TOTAL = FILES * PER_FILE


def _input_rows():
    return [{**r, "_order": f * PER_FILE + i}
            for f, recs in enumerate(plan_files(7, FILES, PER_FILE, RATE)) for i, r in enumerate(recs)]


def _correct_sink(rows):
    out, seen = [], set()
    for r in sorted(rows, key=lambda r: r["_order"]):
        if r["event_id"] not in seen:
            seen.add(r["event_id"])
            out.append({
                "event_id": r["event_id"], "user_id": r["user_id"],
                "created_at": dt.datetime.strptime(r["created_at"], "%Y-%m-%d %H:%M:%S"),
                "user_name": r["name"], "user_email": r["email"],
            })
    return out


def _check(tmp_path, rows, sink, published=TOTAL):
    pq.write_table(pa.Table.from_pylist(rows), tmp_path / "in.parquet")
    pq.write_table(pa.Table.from_pylist(sink), tmp_path / "sink.parquet")
    con = duckdb.connect()
    return compare_sink(con, f"SELECT * FROM read_parquet('{tmp_path}/in.parquet')",
                        f"SELECT * FROM read_parquet('{tmp_path}/sink.parquet')",
                        key="event_id", mapping=MAPPING, order_col="_order", published=published,
                        dup_rate=RATE)


def test_correct_sink_passes(tmp_path):
    rows = _input_rows()
    rep = _check(tmp_path, rows, _correct_sink(rows))
    assert rep.failed == 0 and rep.problems == []
    assert rep.sink_rows == rep.input_distinct == unique_count(TOTAL, RATE)
    assert rep.unmatched_expected == rep.unmatched_sink == 0


def test_missing_row_fails(tmp_path):
    rows = _input_rows()
    rep = _check(tmp_path, rows, _correct_sink(rows)[1:])
    assert (rep.missing, rep.failed, rep.unmatched_expected, rep.unmatched_sink) == (1, 1, 1, 0)


def test_duplicated_row_fails(tmp_path):
    rows = _input_rows()
    sink = _correct_sink(rows)
    rep = _check(tmp_path, rows, sink + [sink[5]])
    assert (rep.duplicated, rep.failed, rep.unmatched_expected, rep.unmatched_sink) == (1, 1, 0, 1)


def test_altered_payload_fails(tmp_path):
    rows = _input_rows()
    sink = _correct_sink(rows)
    sink[3] = {**sink[3], "user_email": "someone@else.org"}
    rep = _check(tmp_path, rows, sink)
    assert (rep.altered, rep.missing, rep.failed) == (1, 0, 1)
    assert rep.unmatched_expected == rep.unmatched_sink == 1


def test_foreign_row_fails(tmp_path):
    rows = _input_rows()
    sink = _correct_sink(rows)
    rep = _check(tmp_path, rows, sink + [{**sink[0], "event_id": "not-published"}])
    assert (rep.foreign, rep.failed) == (1, 1)


def test_miscounted_input_is_a_problem(tmp_path):
    rows = _input_rows()
    # one duplicate too many turned into an original: distinct count != formula
    dup = next(i for i, r in enumerate(rows) if sum(x["event_id"] == r["event_id"] for x in rows) > 1
               and i >= PER_FILE)
    rows[dup] = {**rows[dup], "event_id": "fresh-key"}
    rep = _check(tmp_path, rows, _correct_sink(rows))
    assert rep.failed == 0
    assert any("distinct" in p for p in rep.problems)
    # and an input that lost a record no longer matches the published count
    rep = _check(tmp_path, rows[:-1], _correct_sink(rows[:-1]))
    assert any("were published" in p for p in rep.problems)


def test_conservation():
    assert conservation_problems(110, 110, 100, 10) == []
    assert len(conservation_problems(110, 109, 100, 10)) == 1  # Spark read one record too few
    assert len(conservation_problems(110, 110, 101, 10)) == 1  # sink + dropped exceed published


def test_negative_latency_is_a_problem():
    assert latency_problems([0.0, 5.0]) == []
    assert latency_problems([3.0, -0.5]) != []


def test_latency_summary_median_alone_below_40_samples():
    assert set(summarize_latency([float(x) for x in range(39)])) == {"n", "p50"}
    s = summarize_latency([float(x) for x in range(40)])
    assert "p75" in s and "p99" not in s


def test_latency_summary_tail_needs_ten_samples_beyond():
    xs = [float(x) for x in range(1, 1001)]
    s = summarize_latency(xs)
    assert (s["p50"], s["p99"]) == (500.0, 990.0)
    assert "p99.9" not in s  # only one sample lies beyond it
    assert "p99" not in summarize_latency(xs[:999])


def test_plan_files_shape():
    files = plan_files(3, 4, 50, RATE)
    flat = [r["event_id"] for f in files for r in f]
    assert len(set(flat)) == unique_count(200, RATE)
    first_file = {}
    for f, recs in enumerate(files):
        for r in recs:
            if r["event_id"] in first_file:
                assert first_file[r["event_id"]] < f  # a duplicate never shares its original's file
            else:
                first_file[r["event_id"]] = f
    assert len({r["event_id"] for r in files[0]}) == len(files[0])
    assert plan_files(3, 4, 50, RATE) == files  # same seed, same input
    assert plan_files(4, 4, 50, RATE) != files


@pytest.mark.parametrize("total,rate,expected", [(1100, 0.1, 1000), (5_000_000, 0.1, 4_545_454), (10, 0.0, 10)])
def test_unique_count_exact(total, rate, expected):
    assert unique_count(total, rate) == expected
