#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload stream_drain --seed 1 --seconds 10 --trace 0

Run from the repository root. The program is imported from the checkout
(``clickhouse_etl_loadtest_spark/`` next to this directory), never from an
installed copy; without it the run exits with code 2. ``--trace 0`` prints
the end-to-end metrics, ``--trace 1`` the per-layer metrics of a traced run.
Every run also writes ``perfbench/out/results/<workload>-seed<n>-trace<t>.json``
(metrics, and for traced runs the spans), which ``perfbench/overhead.py``
reads to report the tracing overhead.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import tempfile
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = ROOT / "clickhouse_etl_loadtest_spark"
WORKLOADS = ("batch_loadtest", "stream_drain", "service_fixed_rate")

END_TO_END = {
    "setup_s": "s",
    "records_per_s": "records/s",
    "latency_p50_ms": "ms",
    "latency_p99_ms": "ms",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "generator.publish_s": "s",
    "generator.records_per_s": "records/s",
    "compiler.plan_ms": "ms",
    "etl.sink_write_s": "s",
    "harness.verify_s": "s",
    "dedup.shuffle_write_bytes": "bytes",
    "dedup.shuffle_records": "count",
    "dedup.cpu_ms": "ms",
    "spark.tasks": "count",
    "spark.stages": "count",
    "jvm.gc_ms": "ms",
    "stream.batches": "count",
    "stream.empty_batches": "count",
    "stream.trigger_ms_p50": "ms",
    "stream.add_batch_ms_sum": "ms",
    "stream.query_planning_ms_sum": "ms",
    "stream.wal_commit_ms_sum": "ms",
    "stream.commit_offsets_ms_sum": "ms",
    "stream.latest_offset_ms_sum": "ms",
    "state.commit_ms_sum": "ms",
    "state.update_ms_sum": "ms",
    "state.partitions": "count",
    "state.rows_total": "count",
    "state.memory_bytes": "bytes",
    "state.dropped_duplicates": "count",
    "sink.files": "count",
    "sink.bytes": "bytes",
    "sink.rows_per_file": "count",
    "service.create_ms": "ms",
    "service.ready_ms": "ms",
    "service.drain_lag_s": "s",
    "generator.late_ms_max": "ms",
}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    from common import process_start_epoch

    t_start = process_start_epoch()
    if not (PACKAGE / "__init__.py").is_file():
        print(f"program package not found at {PACKAGE}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = HERE / "out" / "work" / tag
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # keep every scratch file of Python and the JVM inside the checkout
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "tmp" / "local")
    tempfile.tempdir = None

    from common import Ctx, Result, SparkProbe, Tracer, start_spark, stop_spark

    cores = min(4, len(os.sched_getaffinity(0)))
    spark = start_spark(work, cores)
    try:
        probe = SparkProbe(spark)
        tracer = Tracer(bool(args.trace), counts=lambda: {"gc_ms": probe.gc_ms(), "stages": probe.stage_count()})
        ctx = Ctx(spark, args.seed, args.seconds, cores, work, tracer, probe)
        res: Result = importlib.import_module(args.workload).run(ctx)
        tracer.unwrap_all()
    except Exception:
        traceback.print_exc()
        stop_spark(spark)
        return 1
    stop_spark(spark)

    e2e = {"setup_s": res.setup_done - t_start, **res.e2e}
    shown = PER_LAYER if args.trace else END_TO_END
    values = res.layers if args.trace else e2e
    missing = [k for k in shown if k not in values]
    if missing:
        print(f"workload reported no value for {missing}", file=sys.stderr)
        return 1
    for p in res.problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    line = {
        "correct": not res.problems,
        "attempted": int(res.attempted),
        "failed": int(res.failed),
        "metrics": {k: {"value": values[k], "unit": u} for k, u in shown.items()},
    }
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, **line, "end_to_end": e2e, "per_layer": res.layers,
              "problems": res.problems, "spans": tracer.spans}
    results = HERE / "out" / "results"
    results.mkdir(parents=True, exist_ok=True)
    (results / f"{tag}.json").write_text(json.dumps(record, indent=1))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
