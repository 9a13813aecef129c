"""Run-time plumbing shared by the workloads: the Spark session, resident
memory sampling, the sink commit watcher, Spark status readers and the
tracer. Nothing here reaches inside the program: tracing wraps the module
attributes the benchmark's calls go through, and counts come from Spark's
status store and ``StreamingQueryProgress``.
"""

from __future__ import annotations

import datetime
import os
import statistics
import subprocess
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class Ctx:
    """What a workload gets: the session, its seed and budget, the tracer
    and probes, and a private work directory."""

    spark: object
    seed: int
    seconds: float
    cores: int
    work: Path
    tracer: object
    probe: object


@dataclass
class Result:
    attempted: int
    failed: int
    setup_done: float  # epoch seconds at the end of set-up
    e2e: dict[str, float]  # every END_TO_END metric but setup_s
    layers: dict[str, float] = field(default_factory=dict)  # traced runs: PER_LAYER
    problems: list[str] = field(default_factory=list)


CLK_TCK = os.sysconf("SC_CLK_TCK")


def process_start_epoch() -> float:
    """Wall-clock time this process started (kernel start time)."""
    with open("/proc/stat") as fh:
        btime = next(int(line.split()[1]) for line in fh if line.startswith("btime"))
    with open("/proc/self/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return btime + int(fields[19]) / CLK_TCK  # field 22: starttime


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) * 1024
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


class RssSampler:
    """Peak of the summed resident memory of a set of processes, sampled
    every ``period_s`` on a background thread between start() and stop()."""

    def __init__(self, pids: list[int], period_s: float = 0.05):
        self.pids = list(pids)
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def add(self, pid: int) -> None:
        self.pids = self.pids + [pid]

    def _sample(self) -> None:
        self.peak = max(self.peak, sum(rss_bytes(p) for p in self.pids))

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self._sample()

    def start(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
        return self.peak / 2**20


class SinkWatcher:
    """Records when each ``batch=<id>`` directory of an idempotent parquet
    sink is first seen committed (its ``_SUCCESS`` marker present)."""

    def __init__(self, sink: Path, period_s: float = 0.01):
        self.sink = Path(sink)
        self.period_s = period_s
        self.seen: dict[int, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _poll(self) -> None:
        try:
            entries = os.scandir(self.sink)
        except FileNotFoundError:
            return
        now = time.time()
        with entries:
            for e in entries:
                if e.name.startswith("batch="):
                    b = int(e.name[6:])
                    if b not in self.seen and os.path.exists(os.path.join(e.path, "_SUCCESS")):
                        self.seen[b] = now

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self._poll()

    def start(self) -> "SinkWatcher":
        self._thread.start()
        return self

    def stop(self) -> dict[int, float]:
        self._stop.set()
        self._thread.join(timeout=5)
        self._poll()
        return dict(self.seen)


def start_spark(out_dir: Path, cores: int):
    """The program's own session factory, on ``local[cores]``, with every
    scratch directory inside ``out_dir``."""
    from clickhouse_etl_loadtest_spark.session import get_spark

    tmp = out_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        streaming=True,
        extra_conf={
            # a fixed 1 GiB heap: peak resident memory then depends on the
            # work, not on when the collector decides to grow the heap
            "spark.driver.memory": "1g",
            "spark.driver.extraJavaOptions": f"-Xms1g -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.local.dir": str(tmp / "local"),
            "spark.sql.warehouse.dir": str(tmp / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


class SparkProbe:
    """Counts read from Spark's status APIs (no program instrumentation)."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm = spark._jvm
        self.jvm_pid = int(self.jvm.java.lang.ProcessHandle.current().pid())

    def gc_ms(self) -> int:
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return int(sum(b.getCollectionTime() for b in beans))

    def _stage_seq(self):
        """Every stage attempt the status store holds (streaming jobs run in
        their own job groups, so the store, not the group-scoped tracker, is
        the complete list)."""
        gw = self.sc._gateway
        return self.sc._jsc.sc().statusStore().stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)

    def _stages(self) -> list:
        return list(self.jvm.scala.jdk.javaapi.CollectionConverters.asJava(self._stage_seq()))

    def stage_count(self) -> int:
        return int(self._stage_seq().size())

    def last_stage_id(self) -> int:
        return max((s.stageId() for s in self._stages()), default=-1)

    def stage_totals(self, after: int) -> dict[str, float]:
        """Completed stages with id > ``after``: task and stage counts, and
        the dedup exchange (the stages that write shuffle output; the dedup
        exchange is the only shuffle on every workload's path)."""
        out = {"spark.stages": 0, "spark.tasks": 0, "dedup.shuffle_write_bytes": 0,
               "dedup.shuffle_records": 0, "dedup.cpu_ms": 0.0}
        for st in self._stages():
            if st.stageId() <= after or str(st.status()) != "COMPLETE":
                continue
            out["spark.stages"] += 1
            out["spark.tasks"] += int(st.numTasks())
            wb = int(st.shuffleWriteBytes())
            if wb > 0:
                out["dedup.shuffle_write_bytes"] += wb
                out["dedup.shuffle_records"] += int(st.shuffleWriteRecords())
                out["dedup.cpu_ms"] += int(st.executorCpuTime()) / 1e6
        return out


def progress_metrics(progress: list[dict]) -> dict[str, float]:
    """Per-layer streaming counts from a query's ``StreamingQueryProgress``
    list. Idle progress events (no batch ran) carry no ``addBatch``."""
    ran = [p for p in progress if "addBatch" in (p.get("durationMs") or {})]

    def dsum(k: str) -> float:
        return float(sum((p.get("durationMs") or {}).get(k, 0) for p in progress))

    ops = [p["stateOperators"][0] for p in ran if p.get("stateOperators")]
    return {
        "stream.batches": len(ran),
        "stream.empty_batches": sum(1 for p in ran if not p.get("numInputRows")),
        "stream.trigger_ms_p50": float(statistics.median(
            [p["durationMs"]["triggerExecution"] for p in ran])) if ran else 0.0,
        "stream.add_batch_ms_sum": dsum("addBatch"),
        "stream.query_planning_ms_sum": dsum("queryPlanning"),
        "stream.wal_commit_ms_sum": dsum("walCommit"),
        "stream.commit_offsets_ms_sum": dsum("commitOffsets"),
        "stream.latest_offset_ms_sum": dsum("latestOffset"),
        "state.commit_ms_sum": float(sum(o.get("commitTimeMs", 0) for o in ops)),
        "state.update_ms_sum": float(sum(o.get("allUpdatesTimeMs", 0) for o in ops)),
        "state.partitions": ops[-1].get("numStateStoreInstances", 0) if ops else 0,
        "state.rows_total": ops[-1].get("numRowsTotal", 0) if ops else 0,
        "state.memory_bytes": max((o.get("memoryUsedBytes", 0) for o in ops), default=0),
        "state.dropped_duplicates": dropped_duplicates(progress),
    }


def rows_read(progress: list[dict]) -> int:
    return int(sum(p.get("numInputRows") or 0 for p in progress))


def dropped_duplicates(progress: list[dict]) -> int:
    return int(sum(
        (p["stateOperators"][0].get("customMetrics") or {}).get("numDroppedDuplicateRows", 0)
        for p in progress if p.get("stateOperators")
    ))


def sink_file_metrics(sink: Path, rows: int) -> dict[str, float]:
    files = [p for p in Path(sink).rglob("*.parquet")]
    return {
        "sink.files": len(files),
        "sink.bytes": sum(p.stat().st_size for p in files),
        "sink.rows_per_file": rows / len(files) if files else 0.0,
    }


class Tracer:
    """Spans (name, start, end, parent) and the counts taken at their
    boundaries, kept in memory and written once at the end. Disabled, every
    method is a no-op, so the untraced run pays nothing."""

    def __init__(self, enabled: bool, counts=None):
        self.enabled = enabled
        self.root: int | None = None  # parent of spans opened on threads with no open span
        self.spans: list[dict] = []
        self._counts = counts or (lambda: {})
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int | None:
        if not self.enabled:
            return None
        with self._lock:
            sid = len(self.spans)
            self.spans.append({"id": sid, "name": name, "start": start, "end": end,
                               "parent": parent, **attrs})
        return sid

    @contextmanager
    def span(self, name: str, parent: int | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]
        sid = self.add(name, time.time(), 0.0, parent, counts_start=self._counts())
        stack.append(sid)
        try:
            yield sid
        finally:
            stack.pop()
            self.spans[sid]["end"] = time.time()
            self.spans[sid]["counts_end"] = self._counts()

    def _traced(self, inner, name: str):
        def traced(*args, **kwargs):
            with self.span(name, None if self._stack() else self.root):
                return inner(*args, **kwargs)

        for k in ("set_row_cap", "self_capping", "driver_side"):  # sink-writer markers
            if hasattr(inner, k):
                setattr(traced, k, getattr(inner, k))
        return traced

    def wrap(self, owner, attr: str, name: str, factory: bool = False) -> None:
        """Replace ``owner.attr`` with a callable that records a span per
        call; with ``factory`` the callables it returns are traced instead.
        A call made on a thread with no open span hangs under ``root``."""
        if not self.enabled:
            return
        inner = getattr(owner, attr)
        if factory:
            def new(*args, **kwargs):
                return self._traced(inner(*args, **kwargs), name)
        else:
            new = self._traced(inner, name)
        self._patched.append((owner, attr, inner))
        setattr(owner, attr, new)

    def unwrap_all(self) -> None:
        for owner, attr, inner in reversed(self._patched):
            setattr(owner, attr, inner)
        self._patched.clear()

    def durations(self, name: str, since: int = 0) -> list[float]:
        """Durations of the spans called ``name`` recorded after the first ``since``."""
        return [s["end"] - s["start"] for s in self.spans[since:] if s["name"] == name]


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def iso_epoch(iso: str) -> float:
    """Epoch seconds of a ``StreamingQueryProgress`` timestamp."""
    return datetime.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()
