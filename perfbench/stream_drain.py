"""stream_drain: a Kafka-shaped backlog drained closed-loop by
``run_streaming_pipeline`` with the AvailableNow trigger.

The backlog is ``FILES`` parquet files of ``PER_FILE`` records (JSON ``value``
plus a ``timestamp`` rising with publish order), generated from the seed by
:mod:`events`. ``maxFilesPerTrigger=1`` gives every trigger the same intake,
and every duplicate sits in a later file than its original, so the dedup
state store (not in-batch dedup) drops it. Each round drains the whole
backlog into a fresh sink and checkpoint; rounds repeat until ``--seconds``
of drain time is spent.

Latency of a record: from query start (the whole backlog is published by
then) to when its micro-batch is first seen committed in the sink.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import time

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from checks import compare_sink, conservation_problems, latency_problems, summarize_latency
from common import (Result, RssSampler, SinkWatcher, iso_epoch, median, progress_metrics, rows_read,
                    sink_file_metrics)
from events import BASE_TS, plan_files

FILES = 3
PER_FILE = 20_000
DUP_RATE = 0.1
DRAIN_TIMEOUT_S = 150


def stage_backlog(path, seed: int, n_files: int, per_file: int) -> None:
    os.makedirs(path, exist_ok=True)
    for f, recs in enumerate(plan_files(seed, n_files, per_file, DUP_RATE)):
        table = pa.table({
            "value": [json.dumps(r) for r in recs],
            # one millisecond per record: append time rises with publish order
            "timestamp": pa.array([BASE_TS + dt.timedelta(milliseconds=f * per_file + i) for i in range(len(recs))],
                                  pa.timestamp("us", tz="UTC")),
        })
        pq.write_table(table, f"{path}/part-{f:05d}.parquet")


def run(ctx):
    from clickhouse_etl_loadtest_spark.config.reference_pipeline import REFERENCE_PIPELINE_SPEC, reference_pipeline
    from clickhouse_etl_loadtest_spark.streaming import query as sq

    tr, probe, spark = ctx.tracer, ctx.probe, ctx.spark
    mapping = REFERENCE_PIPELINE_SPEC["sink"]["table_mapping"]
    topic = reference_pipeline().source.topics[0].name
    total = FILES * PER_FILE

    def drain(backlog, tag: str):
        """One round: returns (seconds from query start to terminated, start
        epoch, query, sink path)."""
        p = reference_pipeline()
        p.pipeline_id = f"drain-{tag}"
        stream = (spark.readStream.schema("value string, timestamp timestamp")
                  .option("maxFilesPerTrigger", 1).parquet(str(backlog)))
        sink = ctx.work / tag / "sink"
        t0 = time.time()
        with tr.span("streaming.run_streaming_pipeline"):
            q = sq.run_streaming_pipeline(spark, p, str(sink), str(ctx.work / tag / "ckpt"),
                                          sources={topic: stream}, trigger="available_now",
                                          await_ready=False)
        try:
            with tr.span("streaming.await_drained"):
                if not q.awaitTermination(DRAIN_TIMEOUT_S):
                    raise TimeoutError(f"{p.pipeline_id} did not drain in {DRAIN_TIMEOUT_S}s")
        finally:
            sq.stop_pipeline(p.pipeline_id)
        return time.time() - t0, t0, q, sink

    warm = ctx.work / "warm-backlog"
    stage_backlog(warm, 0, 2, 200)
    drain(warm, "warm")
    backlog = ctx.work / "backlog"
    t = time.perf_counter()
    stage_backlog(backlog, ctx.seed, FILES, PER_FILE)
    staging_s = time.perf_counter() - t
    setup_done = time.time()

    tr.wrap(sq, "idempotent_parquet_chunk_writer", "streaming.sink_write", factory=True)
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    rounds, problems, failed = [], [], 0
    spent = 0.0
    sampler = RssSampler([probe.jvm_pid, os.getpid()]).start()
    while not rounds or spent < ctx.seconds:
        tag = f"round{len(rounds)}"
        stage0 = probe.last_stage_id() if tr.enabled else -1
        gc0 = probe.gc_ms() if tr.enabled else 0
        watcher = SinkWatcher(ctx.work / tag / "sink").start()
        with tr.span("round") as root:
            tr.root = root
            n_spans = len(tr.spans)
            secs, t0, q, sink = drain(backlog, tag)
        seen = watcher.stop()
        spent += secs
        progress = q.recentProgress
        rep = compare_sink(
            con,
            input_sql=f"""SELECT json_extract_string(value, '$.event_id') AS event_id,
                json_extract_string(value, '$.user_id') AS user_id,
                json_extract_string(value, '$.name') AS name,
                json_extract_string(value, '$.email') AS email,
                json_extract_string(value, '$.created_at') AS created_at,
                timestamp AS _order FROM read_parquet('{backlog}/*.parquet')""",
            sink_sql=f"SELECT * FROM read_parquet('{sink}/batch=*/*.parquet', hive_partitioning = true)",
            key="event_id", mapping=mapping, order_col="_order", published=total, dup_rate=DUP_RATE,
        )
        per_batch = con.execute(
            f"SELECT batch, count(*) FROM read_parquet('{sink}/batch=*/*.parquet', hive_partitioning = true)"
            " GROUP BY batch").fetchall()
        samples = [(seen[b] - t0) * 1000 for b, n in per_batch for _ in range(n)]
        failed += rep.failed
        problems += rep.problems + latency_problems(samples) + conservation_problems(
            total, rows_read(progress), rep.sink_rows, progress_metrics(progress)["state.dropped_duplicates"])
        rnd = {"dt": secs, "lat": summarize_latency(samples)}
        if tr.enabled:
            rnd.update(progress_metrics(progress))
            rnd.update(probe.stage_totals(stage0))
            rnd.update(sink_file_metrics(sink, rep.sink_rows))
            rnd["jvm.gc_ms"] = probe.gc_ms() - gc0
            rnd["compiler.plan_ms"] = 1000 * sum(tr.durations("streaming.run_streaming_pipeline", n_spans))
            rnd["etl.sink_write_s"] = sum(tr.durations("streaming.sink_write", n_spans))
            with tr.span("harness.verify_count", root):
                t = time.perf_counter()
                spark.read.parquet(str(sink)).count()  # the harness's verify step on this sink
                rnd["harness.verify_s"] = time.perf_counter() - t
            for p in progress:  # one child span per trigger, from its own timestamps
                start = iso_epoch(p["timestamp"])
                tr.add("streaming.trigger", start, start + p["durationMs"].get("triggerExecution", 0) / 1000, root,
                       batch=p["batchId"], rows=p.get("numInputRows"),
                       state=(p.get("stateOperators") or [{}])[0])
        rounds.append(rnd)
    peak_mb = sampler.stop()

    e2e = {
        "records_per_s": median([total / x["dt"] for x in rounds]),
        "latency_p50_ms": median([x["lat"]["p50"] for x in rounds]),
        "latency_p99_ms": median([x["lat"]["p99"] for x in rounds]),
        "peak_rss_mb": peak_mb,
    }
    layers = {}
    if tr.enabled:
        layers = {k: median([x[k] for x in rounds]) for k in rounds[0] if k not in ("dt", "lat")}
        layers.update({
            "generator.publish_s": staging_s,
            "generator.records_per_s": total / staging_s,
            "service.drain_lag_s": median([x["dt"] for x in rounds]),
            # no service and no publish schedule on this path
            "service.create_ms": 0, "service.ready_ms": 0, "generator.late_ms_max": 0,
        })
    return Result(attempted=total * len(rounds), failed=failed, setup_done=setup_done,
                  e2e=e2e, layers=layers, problems=problems)
