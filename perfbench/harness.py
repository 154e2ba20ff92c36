"""Measurement plumbing shared by the workloads: the operation runner
(timing, output checks, failure counting), in-memory spans, Spark
engine counters per operation, and the session's start and stop."""

from __future__ import annotations

import os
import resource
import statistics
import sys
import time
import traceback
from collections import defaultdict
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


@dataclass
class Span:
    sid: int
    name: str
    start: float  # time.time(): comparable with spans from worker processes
    end: float
    parent: int | None
    op: str | None
    attrs: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    """Spans kept in memory; ``enabled`` is toggled per epoch by the
    runner so traced and untraced rounds alternate within one run."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op: str | None = None

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(sid, name, time.time(), 0.0, parent, op or self.op)
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            s.end = time.time()

    def add_foreign(self, name: str, start: float, end: float, op: str, **attrs) -> None:
        """Record a span from a worker process under the deepest driver
        span of ``op`` whose interval contains it."""
        parent = None
        for s in self.spans:
            if s.op == op and s.start <= start and end <= s.end:
                parent = s.sid  # later spans are nested deeper
        self.spans.append(Span(len(self.spans), name, start, end, parent, op, attrs))

    def wrap(self, name: str, fn: Callable) -> Callable:
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per-layer self time: each span's duration minus the part of its
    interval covered by its children, summed by layer."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        covered = 0.0
        cur_start = cur_end = None
        for c in sorted(children[s.sid], key=lambda c: c.start):
            a, b = max(c.start, s.start), min(c.end, s.end)
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.layer] += max(s.end - s.start - covered, 0.0)
    return dict(out)


STAGE_FIELDS = {
    # StageData getter -> counter name
    "numTasks": "tasks",
    "numFailedTasks": "failed_tasks",
    "executorRunTime": "executor_run_ms",
    "inputBytes": "input_bytes",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "memoryBytesSpilled": "spill_bytes",
    "diskBytesSpilled": "spill_bytes",
    "jvmGcTime": "gc_ms",
}
COUNTERS = ["jobs", "stages", *dict.fromkeys(STAGE_FIELDS.values())]


class SparkCounters:
    """Engine counters of the jobs one operation ran, found through the
    job group set for that operation and read from the application
    status store (available with the UI disabled)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()

    def begin(self, op_id: str) -> None:
        self.sc.setJobGroup(op_id, op_id)

    def read(self, op_id: str) -> dict[str, float]:
        self._jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = self._jsc.statusStore()
        out = dict.fromkeys(COUNTERS, 0.0)
        for jid in tracker.getJobIdsForGroup(op_id):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # skipped stage: never attempted
                    continue
                if str(sd.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                for getter, name in STAGE_FIELDS.items():
                    out[name] += float(getattr(sd, getter)())
        return out


class Runner:
    """Runs operations in a closed loop: one client, the next call only
    after the previous one returned and was checked."""

    def __init__(self, tracer: Tracer, counters: SparkCounters | None) -> None:
        self.tracer = tracer
        self.counters = counters
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.latency: dict[str, list[float]] = defaultdict(list)
        self.rows = 0
        self.on_op_end: Callable[[str], None] | None = None
        self.start_round()

    def start_round(self) -> None:
        self.round_ops: list[tuple[str, float]] = []
        self.round_counters = dict.fromkeys(COUNTERS, 0.0)

    def op(
        self,
        kind: str,
        call: Callable[[], Any],
        check: Callable[[Any], list[str]] | None = None,
        rows: int = 0,
    ) -> Any:
        """Time ``call`` — which must consume its result — then check
        the result. A raise or a failed check counts as a failed
        operation; neither stops the run."""
        self.attempted += 1
        op_id = f"{kind}#{self.attempted}"
        if self.counters is not None:
            self.counters.begin(op_id)
        self.tracer.op = op_id
        t0 = time.perf_counter()
        try:
            with self.tracer.span(kind, op_id):
                out = call()
        except Exception:
            self._fail(kind, traceback.format_exc())
            out = None
        else:
            dt = time.perf_counter() - t0
            if self.counters is not None:
                self.counters.begin("perfbench-checks")  # keep checks out of the op's jobs
            self.latency[kind].append(dt)
            self.round_ops.append((kind, dt))
            self.rows += rows
            problems = self._check(check, out)
            if problems:
                self._fail(kind, "; ".join(problems))
        finally:
            self.tracer.op = None
        if self.tracer.enabled:
            if self.on_op_end is not None:
                self.on_op_end(op_id)
            if self.counters is not None:
                for k, v in self.counters.read(op_id).items():
                    self.round_counters[k] += v
        return out

    @staticmethod
    def _check(check, out) -> list[str]:
        if check is None:
            return []
        try:
            return list(check(out))
        except Exception:
            return [traceback.format_exc()]

    def _fail(self, kind: str, why: str) -> None:
        self.failed += 1
        self.failures.append(f"{kind}: {why}")
        print(f"[perfbench] FAILED {kind}: {why}", file=sys.stderr)


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    jvm = 0.0
    if jvm_pid is not None:
        try:
            with open(f"/proc/{jvm_pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        jvm = int(line.split()[1]) / 1024.0
        except OSError:
            pass
    return py + jvm


def start_session(root: str):
    """Start the package's session with every writable location inside
    ``root``. Returns (spark, seconds taken, JVM pid)."""
    from labelspark_spark import get_spark_session

    t0 = time.perf_counter()
    spark = get_spark_session(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(root, "warehouse"),
            "spark.local.dir": os.path.join(root, "local"),
            # a fixed, pre-touched heap (-Xms = -Xmx): how much of the heap
            # is resident then no longer depends on when the collector ran,
            # so peak RSS moves only with native and Python driver memory.
            # C1 only (TieredStopAtLevel=1): with C2 the rounds kept getting
            # faster for 40 s and more (30 % from the first measured round
            # to the 13th on label_export), so a run's figure depended on
            # how many rounds the machine's speed let it reach; with C1 the
            # rounds are flat after one warm-up round
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(root, 'tmp')} "
                f"-Xms{os.environ.get('SPARK_GRAFT_DRIVER_MEM', '1g')} -XX:+AlwaysPreTouch "
                "-XX:TieredStopAtLevel=1"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    started = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    jvm_pid = int(spark.sparkContext._jvm.ProcessHandle.current().pid())
    return spark, started, jvm_pid


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM (and with it the Python
    worker daemon, which exits when the JVM closes its pipe). ``spark``
    is None when start-up was interrupted after the JVM launched."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if spark is not None:
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
        # let a later session in this process launch a fresh JVM
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
