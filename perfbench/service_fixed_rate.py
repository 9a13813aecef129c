"""service_fixed_rate: open-loop traffic through the pipeline service.

A pipeline is created over HTTP (``PipelineServiceClient`` against an
in-process ``PipelineService``) with a files source and a short
``max_delay_time``. One publisher process (:mod:`publisher`) then writes a
file of ``PER_FILE`` records every ``PERIOD_MS`` for ``--seconds``: the
offered rate is fixed and does not wait for the pipeline. Afterwards the
benchmark waits for the pipeline to commit every record (at most
``DRAIN_DEADLINE_S``); records not committed by then count as failed.

Latency of a unique record: from its file's scheduled publish time to when
its micro-batch is first seen committed in the sink, so a stall also
charges the records queued behind it.
"""

from __future__ import annotations

import copy
import json
import math
import os
import subprocess
import sys
import time
from pathlib import Path

import duckdb

from checks import compare_sink, conservation_problems, latency_problems, summarize_latency
from common import Result, RssSampler, SinkWatcher, iso_epoch, progress_metrics, rows_read, sink_file_metrics
from events import plan_files

PERIOD_MS = 100
PER_FILE = 50  # 500 records/s offered
DUP_RATE = 0.1
TRIGGER_S = 5  # max_delay_time: the processing-time trigger interval
MAX_DELAY = f"{TRIGGER_S}s"
DRAIN_DEADLINE_S = 60
LATE_VOID_MS = 1000  # a publisher this late did not hold the offered rate: the run is void
TOPIC = "user_events_with_duplicates"
HERE = Path(__file__).resolve().parent


def pipeline_spec(pipeline_id: str, topic: str, max_delay: str = MAX_DELAY) -> dict:
    """The reference pipeline on a files source, repointed at ``topic``."""
    from clickhouse_etl_loadtest_spark.config.reference_pipeline import REFERENCE_PIPELINE_SPEC

    spec = copy.deepcopy(REFERENCE_PIPELINE_SPEC)
    spec["pipeline_id"] = pipeline_id
    spec["source"]["type"] = "files"
    spec["source"]["topics"][0]["name"] = topic
    spec["sink"]["max_delay_time"] = max_delay
    for m in spec["sink"]["table_mapping"]:
        m["source_id"] = topic
    return spec


def wait_committed(query, watcher: SinkWatcher, published: int, deadline: float) -> float | None:
    """Epoch when the query has read ``published`` records and every batch
    that carried records is seen committed; None if the deadline passes.
    Polls the one latest progress event and fetches the whole list only
    when it changes, so waiting adds little load to the JVM it measures."""
    last, batches = None, None
    while time.time() < deadline:
        if batches is None:
            lp = query.lastProgress
            if lp is not None and lp["timestamp"] != last:
                last = lp["timestamp"]
                progress = query.recentProgress
                if rows_read(progress) >= published:
                    batches = {p["batchId"] for p in progress if p.get("numInputRows")}
        if batches is not None and batches <= watcher.seen.keys():
            return max(watcher.seen[b] for b in batches)
        time.sleep(0.05)
    return None


def schedule_start(earliest: float) -> float:
    """First publish time: half an interval after a trigger. Spark fires
    processing-time triggers at multiples of the interval since the epoch,
    so every run then sees the same phase between schedule and triggers,
    and the last file lands mid-interval too (the schedule spans whole
    intervals)."""
    return (math.ceil((earliest - TRIGGER_S / 2) / TRIGGER_S) + 0.5) * TRIGGER_S


def run(ctx):
    from clickhouse_etl_loadtest_spark.service import server
    from clickhouse_etl_loadtest_spark.service.client import PipelineServiceClient
    from clickhouse_etl_loadtest_spark.streaming import query as sq

    src, svc_dir = ctx.work / "src", ctx.work / "svc"
    svc = server.PipelineService(ctx.spark, str(svc_dir), files_path=str(src))
    client = PipelineServiceClient(svc.start(), timeout_s=60)
    try:
        return _run(ctx, client, server, sq, src, svc_dir)
    finally:
        svc.stop()


def _active(spark, name: str):
    return next(q for q in spark.streams.active if q.name == name)


def _run(ctx, client, server, sq, src, svc_dir):
    tr, probe, spark = ctx.tracer, ctx.probe, ctx.spark
    # warm-up: one pipeline through create, one small file, commit, delete
    (src / "warm_events").mkdir(parents=True)
    client.create_pipeline(pipeline_spec("warm", "warm_events", "500ms"), wait_ready=True, timeout_s=120)
    warm_q = _active(spark, "warm")
    warm_watch = SinkWatcher(svc_dir / "warm" / "sink").start()
    warm_rows = [json.dumps({**r, "timestamp": "2024-01-01T00:00:00.000Z"})
                 for f in plan_files(0, 2, 50, DUP_RATE) for r in f]
    (src / "warm_events" / "warm.json").write_text("\n".join(warm_rows) + "\n")
    if wait_committed(warm_q, warm_watch, len(warm_rows), time.time() + 120) is None:
        raise TimeoutError("warm-up pipeline did not commit its file")
    warm_watch.stop()
    client.delete_pipeline()

    tr.wrap(server, "run_streaming_pipeline", "streaming.run_streaming_pipeline")
    tr.wrap(sq, "idempotent_parquet_chunk_writer", "streaming.sink_write", factory=True)
    (src / TOPIC).mkdir(parents=True)
    with tr.span("service.create") as root:
        tr.root = root
        t = time.time()
        client.create_pipeline(pipeline_spec("fixed-rate", TOPIC), wait_ready=False)
        create_ms = (time.time() - t) * 1000
        while not client.pipeline_health().get("ready"):
            time.sleep(0.01)
        ready_ms = (time.time() - t) * 1000 - create_ms
    query = _active(spark, "fixed-rate")
    setup_done = time.time()

    n_files = math.ceil(ctx.seconds * 1000 / PERIOD_MS)
    total = n_files * PER_FILE
    sink = svc_dir / "fixed-rate" / "sink"
    stage0 = probe.last_stage_id() if tr.enabled else -1
    gc0 = probe.gc_ms() if tr.enabled else 0
    watcher = SinkWatcher(sink).start()
    sampler = RssSampler([probe.jvm_pid, os.getpid()]).start()
    t0 = schedule_start(time.time() + 1.0)  # the publisher renders every file before its first is due
    with tr.span("publish+drain") as root:
        tr.root = root
        pub = subprocess.Popen(
            [sys.executable, str(HERE / "publisher.py"), "--out", str(src / TOPIC),
             "--staging", str(ctx.work / "staging"), "--seed", str(ctx.seed), "--files", str(n_files),
             "--per-file", str(PER_FILE), "--period-ms", str(PERIOD_MS), "--dup-rate", str(DUP_RATE),
             "--t0", repr(t0)],
            stdout=subprocess.PIPE, text=True,
        )
        sampler.add(pub.pid)
        try:
            out, _ = pub.communicate(timeout=ctx.seconds + 60)
        finally:
            if pub.poll() is None:
                pub.kill()
                pub.wait()
        if pub.returncode != 0:
            raise RuntimeError(f"publisher exited with {pub.returncode}")
        published = json.loads(out.strip().splitlines()[-1])
        done = wait_committed(query, watcher, total, published["last_write"] + DRAIN_DEADLINE_S)
    client.delete_pipeline()
    seen = watcher.stop()
    peak_mb = sampler.stop()
    progress = query.recentProgress

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    files_sql = f"""SELECT *, CAST(regexp_extract(filename, 'f-(\\d+)\\.json', 1) AS INTEGER) AS _file
        FROM read_json('{src / TOPIC}/*.json', format = 'newline_delimited', filename = true,
             columns = {{'event_id': 'VARCHAR', 'user_id': 'VARCHAR', 'name': 'VARCHAR',
                        'email': 'VARCHAR', 'created_at': 'VARCHAR', 'timestamp': 'VARCHAR'}})"""
    sink_sql = f"SELECT * FROM read_parquet('{sink}/batch=*/*.parquet', hive_partitioning = true)"
    rep = compare_sink(con, files_sql, sink_sql, key="event_id",
                       mapping=pipeline_spec("fixed-rate", TOPIC)["sink"]["table_mapping"],
                       order_col="_file", published=total, dup_rate=DUP_RATE)
    rows = con.execute(f"""SELECT s.batch, min(i._file) FROM ({sink_sql}) s
        JOIN ({files_sql}) i USING (event_id) GROUP BY s.event_id, s.batch""").fetchall()
    samples = [(seen[b] - (t0 + f * PERIOD_MS / 1000)) * 1000 for b, f in rows if b in seen]
    lat = summarize_latency(samples)
    problems = rep.problems + latency_problems(samples) + conservation_problems(
        total, rows_read(progress), rep.sink_rows, progress_metrics(progress)["state.dropped_duplicates"])
    if published["late_ms_max"] > LATE_VOID_MS:
        problems.append(f"publisher ran {published['late_ms_max']:.0f} ms late: offered rate not held, run void")
    if done is None:
        problems.append(f"records still uncommitted {DRAIN_DEADLINE_S}s after the last publish")
        done = max(seen.values(), default=time.time())
    e2e = {
        "records_per_s": total / (done - t0),
        "latency_p50_ms": lat["p50"],
        "latency_p99_ms": lat["p99"],
        "peak_rss_mb": peak_mb,
    }
    layers = {}
    if tr.enabled:
        pub_s = published["last_write"] - published["first_write"]
        layers = {
            **progress_metrics(progress),
            **probe.stage_totals(stage0),
            **sink_file_metrics(sink, rep.sink_rows),
            "jvm.gc_ms": probe.gc_ms() - gc0,
            "generator.publish_s": pub_s,
            "generator.records_per_s": total / pub_s,
            "generator.late_ms_max": published["late_ms_max"],
            "compiler.plan_ms": 1000 * sum(tr.durations("streaming.run_streaming_pipeline")),
            "etl.sink_write_s": sum(tr.durations("streaming.sink_write")),
            "service.create_ms": create_ms,
            "service.ready_ms": ready_ms,
            "service.drain_lag_s": done - published["last_write"],
        }
        with tr.span("harness.verify_count"):
            t = time.perf_counter()
            spark.read.parquet(str(sink)).count()  # the harness's verify step on this sink
            layers["harness.verify_s"] = time.perf_counter() - t
        for p in progress:
            if "addBatch" in p["durationMs"]:
                start = iso_epoch(p["timestamp"])
                tr.add("streaming.trigger", start, start + p["durationMs"]["triggerExecution"] / 1000, root,
                       batch=p["batchId"], rows=p.get("numInputRows"), state=(p.get("stateOperators") or [{}])[0])
    return Result(attempted=total, failed=rep.failed, setup_done=setup_done, e2e=e2e, layers=layers,
                  problems=problems)
