"""Shared benchmark machinery: host sizing, the Spark session, spans,
status-store readings and summary statistics."""

from __future__ import annotations

import math
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


def host_fingerprint() -> dict:
    """nproc and MemTotal of this host, plus the sizing derived from them."""
    nproc = len(os.sched_getaffinity(0))
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
                break
    # A quarter of RAM, between 1 and 4 GiB: the session's default heap
    # (48g) is larger than most hosts, and this machine may be shared.
    heap_mb = max(1024, min(4096, mem_kb // 1024 // 4))
    return {
        "nproc": nproc,
        "mem_total_kb": mem_kb,
        "local_n": nproc,
        "driver_memory": f"{heap_mb}m",
    }


def start_session(host: dict, work_dir: str):
    """The engine's own session factory, sized to the host through its
    environment overrides, with every scratch path inside ``work_dir``."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(host["local_n"])
    os.environ["SPARK_DRIVER_MEMORY"] = host["driver_memory"]
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    from gtfs_realtime_etl_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    if gateway.proc is not None:
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def cpu_probe_ms() -> float:
    """Median time of a fixed pure-Python loop, a reading of how fast the
    host runs this process just now.  It is recorded next to a run's
    figures, and is in none of them, so that a shift of the whole run
    can be told apart from a change in the program."""
    times = []
    for _ in range(5):
        t = time.perf_counter()
        s = 0
        for i in range(300_000):
            s += i
        times.append((time.perf_counter() - t) * 1e3)
    return statistics.median(times)


def versions(spark) -> dict:
    import pyspark

    return {
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
    }


# --- spans ------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


@dataclass
class Tracer:
    """Spans around calls into each layer, kept in memory until the run
    ends.  Disabled, ``span`` costs one attribute test."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), math.nan, parent, op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def self_ms(self) -> dict[str, float]:
        """Total self time per span name: its duration minus the time its
        child spans cover (children never overlap; they are nested)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start - child[i]) * 1e3
        return out

    def dump(self) -> list[dict]:
        return [
            {"i": i, "name": s.name, "start": s.start, "end": s.end, "parent": s.parent, "op": s.op}
            for i, s in enumerate(self.spans)
        ]


# --- status store --------------------------------------------------------------

SPARK_FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_ms",
    "executor_cpu_ms",
    "jvm_gc_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
    "input_records",
)


class SparkLedger:
    """Engine work per op, read from the SparkContext's status store: the
    jobs started since the previous reading and their stages.  The
    session retains 100 jobs and 200 stages, so read after every op."""

    def __init__(self, spark):
        self._jvm = spark.sparkContext._jvm
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._conv = self._jvm.scala.jdk.javaapi.CollectionConverters
        self._no_quantiles = spark.sparkContext._gateway.new_array(self._jvm.double, 0)
        self._last_job = self._max_job()

    def _jobs(self):
        return list(self._conv.asJava(self._store.jobsList(None)))

    def _max_job(self) -> int:
        return max((j.jobId() for j in self._jobs()), default=-1)

    def mark(self) -> None:
        self._last_job = self._max_job()

    def read(self) -> dict[str, float]:
        out = dict.fromkeys(SPARK_FIELDS, 0.0)
        stage_ids = set()
        for j in self._jobs():
            if j.jobId() > self._last_job:
                out["jobs"] += 1
                stage_ids.update(self._conv.asJava(j.stageIds()))
        self.mark()
        for sid in stage_ids:
            try:
                attempts = self._conv.asJava(
                    self._store.stageData(
                        sid, False, self._jvm.java.util.ArrayList(), False, self._no_quantiles
                    )
                )
            except Exception:  # noqa: BLE001 - evicted or skipped stage
                continue
            for st in attempts:
                if st.numTasks() == 0 or str(st.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                out["executor_run_ms"] += st.executorRunTime()
                out["executor_cpu_ms"] += st.executorCpuTime() / 1e6
                out["jvm_gc_ms"] += st.jvmGcTime()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                out["input_bytes"] += st.inputBytes()
                out["input_records"] += st.inputRecords()
        return out


# --- statistics -----------------------------------------------------------------


def geomean(xs: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(x) for x in xs))


def settled(ms: list[float], floor: int) -> bool:
    """Warm-up rule: at least ``floor`` samples, the last two within 10 %."""
    return len(ms) >= floor and abs(ms[-1] - ms[-2]) <= 0.1 * ms[-2]


def median_or_zero(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def dir_stats(path: str) -> tuple[int, int]:
    """(parquet files, bytes) under ``path``."""
    n = size = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


@dataclass
class Result:
    """What one workload run hands back to the runner."""

    correct: bool
    attempted: int
    failed: int
    setup_s: float
    work_s: float
    op_ms: list[float]
    rows: int
    layers: dict[str, float] = field(default_factory=dict)
    details: dict = field(default_factory=dict)
