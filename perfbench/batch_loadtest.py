"""batch_loadtest: the reference's own traffic through ``TestExecutor``.

One load-test variant per round: the program's generator publishes
``RECORDS + seed % 1000`` records at duplication rate 0.1 into the harness's
staged topic, the reference pipeline (8h window, ``max_batch_size`` 5000)
dedups and maps them into the parquet sink, and the harness counts the sink.
Rounds repeat until ``--seconds`` of ``run_tests`` time is spent; each round
is checked in DuckDB against the staged topic it read.

Latency of a record here is the ETL phase of its round (publish done to
sink written): every record of a round becomes visible at once.
"""

from __future__ import annotations

import os
import time

import duckdb

from checks import compare_sink, summarize_latency
from common import Result, RssSampler, median, sink_file_metrics

RECORDS = 200_000
WARM_RECORDS = 20_000
WARM_ROUNDS = 2
DUP_RATE = 0.1


def _params(total: int, cores: int) -> dict:
    return {
        "num_processes": cores,
        "total_records": total,
        "duplication_rate": DUP_RATE,
        "deduplication_window": "8h",
        "max_batch_size": 5000,
    }


def run(ctx):
    from clickhouse_etl_loadtest_spark.config.reference_pipeline import REFERENCE_PIPELINE_SPEC, reference_pipeline
    from clickhouse_etl_loadtest_spark.harness import executor
    from clickhouse_etl_loadtest_spark.harness.variants import variant_id

    tr, probe = ctx.tracer, ctx.probe
    mapping = REFERENCE_PIPELINE_SPEC["sink"]["table_mapping"]
    ex = executor.TestExecutor(ctx.spark, "perfbench", reference_pipeline(), str(ctx.work / "harness"),
                               str(ctx.work / "harness" / "results.csv"))
    total = RECORDS + ctx.seed % 1000
    params = _params(total, ctx.cores)
    # warm-up: one small variant, then WARM_ROUNDS measured-size ones. Rounds
    # kept speeding up (5.3, 3.5, 3.2, 2.9, 2.9, 2.6 s) after the small one
    # alone as the JIT compiled more of the path; without these, a slower
    # machine fits fewer rounds and its median falls earlier on that slope.
    ex.run_tests([_params(WARM_RECORDS, ctx.cores)], resume=False)
    for _ in range(WARM_ROUNDS):
        ex.run_tests([params], resume=False)
    vid = variant_id({**executor.DEFAULTS, **params})
    topic_dir, sink_dir = ctx.work / "harness" / vid / "topic", ctx.work / "harness" / vid / "sink"
    setup_done = time.time()

    tr.wrap(executor, "generate_user_events", "sources.generate_user_events")
    tr.wrap(executor, "compile_batch", "plans.compile_batch")
    tr.wrap(executor, "write_sink_batch", "plans.write_sink_batch")
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    rounds, problems, failed = [], [], 0
    spent = 0.0
    sampler = RssSampler([probe.jvm_pid, os.getpid()]).start()
    while not rounds or spent < ctx.seconds:
        stage0 = probe.last_stage_id() if tr.enabled else -1
        gc0 = probe.gc_ms() if tr.enabled else 0
        with tr.span("harness.run_tests") as sid:
            t0 = time.perf_counter()
            out = ex.run_tests([params], resume=False)
            dt = time.perf_counter() - t0
        spent += dt
        if len(out) != 1 or not out[0].result_success:
            raise RuntimeError(f"variant {vid} failed in the harness")
        r = out[0]
        rnd = {"dt": dt, "publish_ms": r.result_time_taken_publish_ms,
               "etl_ms": r.result_time_taken_ms - r.result_time_taken_publish_ms,
               "lag_ms": r.result_lag_ms}
        if tr.enabled:
            rnd.update(probe.stage_totals(stage0))
            rnd["jvm.gc_ms"] = probe.gc_ms() - gc0
            _derived_spans(tr, sid, rnd)
        rep = compare_sink(
            con,
            input_sql=f"SELECT * FROM read_parquet('{topic_dir}/*.parquet')",
            sink_sql=f"SELECT * FROM read_parquet('{sink_dir}/*.parquet')",
            key="event_id", mapping=mapping, order_col="seq", published=total, dup_rate=DUP_RATE,
        )
        failed += rep.failed
        problems += rep.problems
        rnd["sink_rows"] = rep.sink_rows
        rounds.append(rnd)
    peak_mb = sampler.stop()

    lat = [summarize_latency([x["etl_ms"]] * total) for x in rounds]
    e2e = {
        "records_per_s": median([total / x["dt"] for x in rounds]),
        "latency_p50_ms": median([s["p50"] for s in lat]),
        "latency_p99_ms": median([s["p99"] for s in lat]),
        "peak_rss_mb": peak_mb,
    }
    layers = {}
    if tr.enabled:
        publish_s = median([x["publish_ms"] / 1000 for x in rounds])
        layers = {
            "generator.publish_s": publish_s,
            "generator.records_per_s": total / publish_s,
            "compiler.plan_ms": 1000 * median(tr.durations("plans.compile_batch")),
            "etl.sink_write_s": median(tr.durations("plans.write_sink_batch")),
            "harness.verify_s": median([x["lag_ms"] / 1000 for x in rounds]),
            "service.drain_lag_s": median([(x["etl_ms"] + x["lag_ms"]) / 1000 for x in rounds]),
            **{k: median([x[k] for x in rounds]) for k in (
                "dedup.shuffle_write_bytes", "dedup.shuffle_records", "dedup.cpu_ms",
                "spark.tasks", "spark.stages", "jvm.gc_ms")},
            **sink_file_metrics(sink_dir, rounds[-1]["sink_rows"]),
            # no streaming query, state store, service or schedule on this path
            **dict.fromkeys(_STREAM_ONLY, 0),
        }
    return Result(attempted=total * len(rounds), failed=failed, setup_done=setup_done,
                  e2e=e2e, layers=layers, problems=problems)


_STREAM_ONLY = (
    "stream.batches", "stream.empty_batches", "stream.trigger_ms_p50", "stream.add_batch_ms_sum",
    "stream.query_planning_ms_sum", "stream.wal_commit_ms_sum", "stream.commit_offsets_ms_sum",
    "stream.latest_offset_ms_sum", "state.commit_ms_sum", "state.update_ms_sum", "state.partitions",
    "state.rows_total", "state.memory_bytes", "state.dropped_duplicates",
    "service.create_ms", "service.ready_ms", "generator.late_ms_max",
)


def _derived_spans(tr, parent: int, rnd: dict) -> None:
    """The harness times its publish and verify phases itself; place them as
    spans of the round (publish starts with the generator call, verify ends
    the round)."""
    gen = [s for s in tr.spans if s["name"] == "sources.generate_user_events" and s["parent"] == parent]
    if gen:
        t = gen[-1]["start"]
        tr.add("harness.publish", t, t + rnd["publish_ms"] / 1000, parent)
    end = tr.spans[parent]["end"]
    tr.add("harness.verify", end - rnd["lag_ms"] / 1000, end, parent)
