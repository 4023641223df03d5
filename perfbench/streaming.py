"""What the two streaming workloads share: micro-batch figures from
streaming progress, and the spool lag sampler.

The source's driver-side calls (``latestOffset``, ``commit``) and the
bridge run in Spark's Python streaming-source process, not in this one, so
transport timings come from the benchmark's own calls on the same spool."""

from __future__ import annotations

import datetime as dt
import threading
import time

from perfbench import stats

#: progress ``durationMs`` parts in the order a trigger runs them, with the
#: per-layer metric each one feeds
TRIGGER_PARTS = (
    ("latestOffset", "latest_offset"),
    ("walCommit", "wal"),
    ("getBatch", None),
    ("queryPlanning", "planning"),
    ("addBatch", "add_batch"),
    ("commitOffsets", "commit"),
)


def microbatch_metrics(progress: list[dict]) -> dict[str, float]:
    out: dict[str, float] = {}
    parts = [(key, name) for key, name in TRIGGER_PARTS if name] + [
        ("triggerExecution", "trigger")
    ]
    for key, name in parts:
        values = [p["duration_ms"].get(key, 0) for p in progress]
        out[f"microbatch.{name}_ms_p50"] = stats.percentile(values, 1, 2)
        out[f"microbatch.{name}_ms_p99"] = stats.percentile(values, 99, 100)
    nonempty = [p["rows"] for p in progress if p["rows"]]
    out["microbatch.count"] = float(len(progress))
    out["microbatch.rows_per_batch"] = stats.median(nonempty)
    out["microbatch.nonempty_ratio"] = (
        len(nonempty) / len(progress) if progress else 0.0
    )
    return out


def _epoch(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def add_microbatch_spans(tracer, progress: list[dict], parent_id: int) -> None:
    """One span per micro-batch, with its progress ``durationMs`` parts as
    children laid end to end from the trigger's start."""
    if not tracer.enabled:
        return
    offset = time.time() - time.perf_counter()
    for p in progress:
        start = _epoch(p["timestamp"]) - offset
        total = p["duration_ms"].get("triggerExecution", 0) / 1000.0
        batch = tracer.add(
            "microbatch", "sources.emqx", start, start + total, parent_id
        )
        t = start
        for key, _name in TRIGGER_PARTS:
            d = p["duration_ms"].get(key, 0) / 1000.0
            if d:
                tracer.add(f"microbatch.{key}", "sources.emqx", t, t + d, batch)
                t += d


class Sampler:
    """Calls ``sample()`` every ``period_s`` on a thread until stopped."""

    def __init__(self, sample, period_s: float = 0.1):
        self._sample = sample
        self._period = period_s
        self._stop = threading.Event()
        self.values: list[float] = []
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self._period):
            self.values.append(self._sample())

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


def spool_lag(spool_dir: str, latest_seq_ms: list[float]):
    """A sample of ``latest_seq − frontier`` on a spool; the time of each
    ``latest_seq`` call is appended to ``latest_seq_ms``."""
    from flink_emqx_connector_spark.sources.transport import SpoolTransport

    st = SpoolTransport(spool_dir)

    def sample() -> float:
        t0 = time.perf_counter()
        head = st.latest_seq()
        latest_seq_ms.append((time.perf_counter() - t0) * 1000)
        return float(head - st.frontier())

    return sample


def call_metrics(prefix: str, ms: list[float]) -> dict[str, float]:
    return {
        f"{prefix}_ms_p50": stats.percentile(ms, 1, 2),
        f"{prefix}_ms_p99": stats.percentile(ms, 99, 100),
    }
