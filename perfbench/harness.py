"""The benchmark's side of the engine: working directories, the Spark
session through the engine's ``session.get_spark``, warm-up, progress
collection and shutdown."""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: Everything a run writes lives under this directory of the checkout.
OUT = os.path.join(ROOT, ".perfbench_out")


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def prepare_environment() -> None:
    """Point every scratch location of Spark, the JVM and Python at the
    checkout, and make the engine importable in Python workers. Must run
    before the first session starts."""
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(OUT, "spark-local")
    # every JVM, the launcher's too; without UsePerfData off, HotSpot
    # writes /tmp/hsperfdata_<user> whatever java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    prior = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = f"{ROOT}:{prior}" if prior else ROOT
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    import tempfile

    tempfile.tempdir = tmp


def start_session(tracer, extra_conf: dict[str, str] | None = None):
    """A fresh engine session on ``local[nproc]`` with the EMQX source
    registered. Returns ``(spark, seconds)``."""
    from pyspark.sql import SparkSession

    from flink_emqx_connector_spark.session import get_spark
    from flink_emqx_connector_spark.sources import register_emqx_source

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    conf = {
        "spark.sql.warehouse.dir": os.path.join(OUT, "warehouse"),
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.ui.showConsoleProgress": "false",
        **(extra_conf or {}),
    }
    t0 = time.perf_counter()
    with tracer.span("session.get_spark", "session"):
        spark = get_spark("perfbench", cpus=cpus(), extra_conf=conf)
        register_emqx_source(spark)
    return spark, time.perf_counter() - t0


def warm_up(spark, tracer) -> None:
    """Run a first job on every core. No Python workers are started: the
    batch queries run none."""
    n = cpus()
    with tracer.span("session.warmup", "session"):
        spark.range(0, 1000, 1, n).selectExpr("sum(id)").collect()


SESSION_SETUPS = 3


def session_setups(tracer, extra_conf: dict[str, str] | None = None):
    """Start the engine session ``SESSION_SETUPS`` times, the first time
    with a cold JVM, and keep the last one.

    Returns ``(spark, median seconds)``. A workload's ``setup_s`` is this
    median plus its own warm-up, which runs once: repeating the streaming
    warm-ups would not fit the benchmark's time budget.
    """
    times = []
    for _ in range(SESSION_SETUPS):
        with tracer.span("phase.session_setup", "bench"):
            spark, seconds = start_session(tracer, extra_conf)
        times.append(seconds)
    return spark, statistics.median(times)


def shutdown_jvm(spark=None) -> None:
    """Stop the session (the active one by default) and wait until the JVM
    process has exited."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    gateway = SparkContext._gateway
    spark = spark or SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


class ProgressCollector:
    """Every ``StreamingQueryProgress`` of every query, via a listener
    (``query.recentProgress`` keeps only the last 100)."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        collector = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                collector._add(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._lock = threading.Lock()
        self.progress: list[dict] = []
        self._listener = _Listener()
        self._spark = spark
        spark.streams.addListener(self._listener)

    def _add(self, p) -> None:
        with self._lock:
            self.progress.append(
                {
                    "query": str(p.id),
                    "batch": p.batchId,
                    "timestamp": p.timestamp,
                    "rows": p.numInputRows,
                    "end_offset": p.sources[0].endOffset if p.sources else None,
                    "duration_ms": dict(p.durationMs),
                }
            )

    def for_query(self, query_id: str) -> list[dict]:
        with self._lock:
            return [p for p in self.progress if p["query"] == query_id]

    def close(self) -> None:
        self._spark.streams.removeListener(self._listener)


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every live descendant
    (the JVM, its Python workers), each with its reaped children, so a
    worker that exits between two readings still counts through its
    parent. Time the host gives to other guests (steal) is not CPU time,
    which is why differences of this are steadier on a shared host than
    wall time."""
    procs: dict[int, tuple[int, int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue  # exited while listing
        fields = raw[raw.rindex(")") + 2:].split()
        # fields[1] is ppid; [11:15] are utime, stime, cutime, cstime
        procs[int(name)] = (int(fields[1]), sum(map(int, fields[11:15])))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _ticks) in procs.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += procs.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, ()))
    return total / _CLK_TCK


def wait_for(predicate, timeout_s: float, poll_s: float = 0.01) -> bool:
    deadline = time.monotonic() + timeout_s
    while not predicate():
        if time.monotonic() >= deadline:
            return False
        time.sleep(poll_s)
    return True


class Outcome:
    """What one workload run measured: end-to-end metrics, per-layer
    metrics, operations attempted and failed, and whether every output
    checked out."""

    def __init__(self):
        self.metrics: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.correct = True
        #: free-form facts for the log and the trace file
        self.notes: dict = {}

    def fail(self, what: str, count: int = 1) -> None:
        self.failed += count
        self.notes.setdefault("failures", []).append(what)
