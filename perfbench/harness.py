"""Shared benchmark machinery: work directory, Spark session, spans,
percentiles, memory and Spark stage counters."""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK_ROOT = ROOT / ".perfbench_work"
DRIVER_MEM = "3g"
SETUP_REPEATS = 3


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: Path) -> None:
    """Keep every file Spark, the JVM and Python write inside `work`."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ.update(
        TMPDIR=str(tmp),
        TZ="UTC",
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        PYSPARK_PYTHON=os.environ.get("PYSPARK_PYTHON", "python3"),
    )
    os.environ.pop("SPARK_MASTER", None)
    time.tzset()


def start_session(work: Path, n_cpus: int):
    """The package's tuned session on local[n_cpus]."""
    from cdc_pipeline_with_kafka_spark.session import get_spark

    os.environ["SPARK_GRAFT_CPUS"] = str(n_cpus)
    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown() -> None:
    """Stop Spark and wait until the JVM this process launched has exited."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def fresh_dir(path: Path) -> Path:
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    return path


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------

@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op_id: str | None


@dataclass
class Tracer:
    """In-memory spans, written out once the run ends.

    With ``enabled=False`` every call is a no-op, so the untraced run
    executes the same benchmark code."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)  # sinks record from callback threads

    @contextmanager
    def span(self, name: str, op_id: str | None = None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        if op_id is None and parent is not None:
            op_id = self.spans[parent].op_id
        with self._lock:
            idx = len(self.spans)
            self.spans.append(Span(name, time.perf_counter(), 0.0, parent, op_id))
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            self.spans[idx].end = time.perf_counter()

    def durations_ms(self, name: str) -> list[float]:
        return [(s.end - s.start) * 1000 for s in self.spans if s.name == name]

    def self_ms(self) -> dict[str, float]:
        """Per span name, the summed self time: each span's duration
        minus the part of it its child spans cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            covered, cursor = 0.0, s.start
            for c in sorted(children.get(i, []), key=lambda c: c.start):
                lo, hi = max(c.start, cursor), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start - covered) * 1000
        return out

    def accounted(self, wall_s: float) -> float:
        """Share of `wall_s` covered by the layer spans directly under
        the "op" spans (one op = one request batch or job)."""
        ops = {i for i, s in enumerate(self.spans) if s.name == "op"}
        return sum(s.end - s.start for s in self.spans if s.parent in ops) / wall_s

    def dump(self, path: Path) -> None:
        path.write_text(json.dumps([s.__dict__ for s in self.spans]))


# --------------------------------------------------------------------------
# statistics and resources
# --------------------------------------------------------------------------

def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n) at the highest percentile with at least
    ten samples beyond it: the 11th-largest sample, at percentile
    100·(n−10)/n.  With ten or fewer samples no percentile qualifies
    and the maximum is returned, at percentile 100."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    if n <= 10:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def peak_rss_mb(spark) -> float:
    """Peak RSS of the driver JVM plus this Python process."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")


class StageCounters:
    """Spark's own per-stage counters (the status store, available with
    the UI off), summed over stages submitted after `mark()`."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.store = sc._jsc.sc().statusStore()
        self.empty = spark._jvm.java.util.ArrayList()
        self.quantiles = sc._gateway.new_array(spark._jvm.double, 0)
        self.floor = -1

    def _stages(self, floor: int):
        """Stages with id above `floor` (the store lists newest first)."""
        seq = self.store.stageList(self.empty, False, False, self.quantiles, self.empty)
        out = []
        for i in range(seq.size()):
            stage = seq.apply(i)
            if stage.stageId() <= floor:
                break
            out.append(stage)
        return out

    def mark(self) -> None:
        newest = self._stages(self.floor)
        if newest:
            self.floor = newest[0].stageId()

    def totals(self) -> dict[str, float]:
        stages = self._stages(self.floor)
        out = {
            "stages": len(stages),
            "shuffle_bytes": sum(s.shuffleWriteBytes() for s in stages),
            "output_bytes": sum(s.outputBytes() for s in stages),
            "output_records": sum(s.outputRecords() for s in stages),
            "run_ms": sum(s.executorRunTime() for s in stages),
            "task_skew": 1.0,
        }
        costly = max(stages, key=lambda s: s.executorRunTime(), default=None)
        if costly is not None and costly.numTasks() > 1:
            tasks = self.store.taskList(costly.stageId(), costly.attemptId(), 100_000)
            d = [tasks.apply(i).duration() for i in range(tasks.size())]
            d = [x.get() for x in d if x.isDefined()]
            if d and statistics.median(d) > 0:
                out["task_skew"] = max(d) / statistics.median(d)
        return out


# --------------------------------------------------------------------------
# the run
# --------------------------------------------------------------------------

@dataclass
class Outcome:
    """What one measured pass of a workload produced."""

    attempted: int
    failed: int
    throughput_per_s: float
    latency_ms: list[float]
    extra: dict[str, tuple[float, str]] = field(default_factory=dict)  # reported, not gated
    layers: dict[str, float] = field(default_factory=dict)

    @property
    def correct(self) -> bool:
        return self.failed == 0
