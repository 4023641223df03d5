"""``mqtt_live``: an open-loop generator process publishes QoS 1 at a fixed
rate into the engine's embedded broker; the source reads it with
``transport=bridge`` (driver bridge → spool) under a 100 ms trigger into a
``foreachBatch`` sink. Latency runs from each message's due time."""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time
import uuid

from perfbench import harness, inputs, stats, streaming

RATE = 1000.0
WARM_MESSAGES = 200
WARM_TIMEOUT_S = 60.0
#: how long after the last due time a message may still arrive
DRAIN_DEADLINE_S = 15.0
WARM_TOPIC = "bench/warm"


class Sink:
    """The ``foreachBatch`` sink: when each live message arrived, and any
    payload that is not one the generator sent."""

    def __init__(self, seed: int, count: int, tracer):
        self.tags, _ = inputs.live_schedule(seed, count)
        self.t0: float | None = None
        self.arrived: dict[int, float] = {}
        self.duplicates = 0
        self.corrupt = 0
        self.warm = 0
        self.batch_ms: list[float] = []
        self.tracer = tracer
        self._lock = threading.Lock()

    def __call__(self, batch_df, _batch_id) -> None:
        t0 = time.perf_counter()
        rows = batch_df.select("topic", "payload").collect()
        now = time.time()
        with self._lock:
            for topic, payload in rows:
                if topic == WARM_TOPIC:
                    self.warm += 1
                    continue
                self._arrive(bytes(payload), now)
        t1 = time.perf_counter()
        self.batch_ms.append((t1 - t0) * 1000)
        self.tracer.add("sink.batch", "bench", t0, t1)

    def _arrive(self, payload: bytes, now: float) -> None:
        try:
            index, tag, due = inputs.parse_live_payload(payload)
        except ValueError:
            self.corrupt += 1
            return
        if (
            self.t0 is None
            or not 0 <= index < len(self.tags)
            or tag != self.tags[index]
            or inputs.live_payload(index, tag, stats.due_time(self.t0, index, RATE))
            != payload
        ):
            self.corrupt += 1
        elif index in self.arrived:
            self.duplicates += 1
        else:
            self.arrived[index] = now


class Stack:
    """Broker, bridged source query and sink for one setup."""

    def __init__(self, spark, sink: Sink, tracer):
        from flink_emqx_connector_spark.sources.mqtt_wire import EmbeddedBroker

        self.spool = os.path.join(harness.OUT, "spools", uuid.uuid4().hex)
        self.ckpt = os.path.join(harness.OUT, "checkpoints", uuid.uuid4().hex)
        with tracer.span("mqtt_wire.broker_start", "sources.mqtt_wire"):
            self.broker = EmbeddedBroker().start()
        with tracer.span("bridge.query_start", "sources.bridge"):
            self.query = (
                spark.readStream.format("emqx")
                .option("transport", "bridge")
                .option("host", "127.0.0.1")
                .option("port", str(self.broker.port))
                .option("topic", "bench/#")
                .option("group", "perfbench")
                .option("clientid", f"perfbench-{uuid.uuid4().hex[:8]}")
                .option("spool_dir", self.spool)
                .option("partitions", str(harness.cpus()))
                .option("qos", "1")
                .load()
                .writeStream.foreachBatch(sink)
                .option("checkpointLocation", self.ckpt)
                .trigger(processingTime="100 milliseconds")
                .start()
            )

    def warm_up(self, sink: Sink, tracer) -> bool:
        """Publish warm-up messages until ``WARM_MESSAGES`` reached the
        sink; those sent before the bridge subscribed are dropped by the
        broker, so keep publishing in small rounds."""
        from flink_emqx_connector_spark.sources.mqtt_wire import (
            CallbackAPIVersion,
            Client,
            MQTTv5,
        )

        cli = Client(CallbackAPIVersion.VERSION2, client_id="perfbench-warm",
                     protocol=MQTTv5)
        cli.connect("127.0.0.1", self.broker.port)
        cli.loop_start()
        deadline = time.monotonic() + WARM_TIMEOUT_S
        try:
            with tracer.span("bridge.warm_up", "sources.bridge"):
                while sink.warm < WARM_MESSAGES and time.monotonic() < deadline:
                    for _ in range(50):
                        cli.publish(WARM_TOPIC, b"warm", qos=1)
                    time.sleep(0.05)
        finally:
            cli.disconnect()
            cli.loop_stop()
        return sink.warm >= WARM_MESSAGES

    def stop(self) -> None:
        self.query.stop()
        self.broker.stop()
        shutil.rmtree(self.spool, ignore_errors=True)
        shutil.rmtree(self.ckpt, ignore_errors=True)


def replay_transport(seed: int, count: int, t0: float, tracer) -> dict:
    """The transport and Arrow layers on this workload's payloads: the
    bridge's appends and the source's reads run in Spark's Python
    streaming-source process, out of this process's reach, so the same
    messages are appended, read, converted and acked here, serially."""
    from perfbench import spool_drain

    tags, topics = inputs.live_schedule(seed, count)
    payloads = [
        inputs.live_payload(i, tags[i], stats.due_time(t0, i, RATE))
        for i in range(count)
    ]
    backlog = inputs.Backlog(topics, payloads, [None] * count, {}, 0)
    spool = os.path.join(harness.OUT, "spools", "mqtt_live-replay")
    shutil.rmtree(spool, ignore_errors=True)
    secs, _appended = spool_drain.write_backlog(spool, backlog, tracer)
    layers = {
        "append_msgs_per_s": count / secs,
        "transport.append_us_per_msg": secs / count * 1e6,
        "transport.bytes_per_payload_byte": (
            spool_drain.spool_bytes(spool) / backlog.payload_bytes
        ),
        **spool_drain.replay_reads(spool, tracer),
    }
    shutil.rmtree(spool, ignore_errors=True)
    return layers


def run(seed: int, seconds: float, tracer) -> harness.Outcome:
    out = harness.Outcome()
    count = int(RATE * seconds)
    spark, session_s = harness.session_setups(tracer)
    progress = harness.ProgressCollector(spark)
    sink = Sink(seed, count, tracer)
    t0, c0 = time.perf_counter(), harness.tree_cpu_s()
    with tracer.span("phase.warm_up", "bench"):
        stack = Stack(spark, sink, tracer)
        if not stack.warm_up(sink, tracer):
            raise RuntimeError("warm-up messages never reached the sink")
    warmup_s = time.perf_counter() - t0
    warm_cpu_s = harness.tree_cpu_s() - c0

    with tracer.span("phase.live", "bench") as live_span:
        gen = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "mqtt_gen.py"),
             "--port", str(stack.broker.port), "--seed", str(seed),
             "--rate", str(RATE), "--count", str(count)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        try:
            if gen.stdout.readline().strip() != "ready":
                raise RuntimeError("generator did not start")
            from flink_emqx_connector_spark.sources.transport import SpoolTransport

            head0 = SpoolTransport(stack.spool).latest_seq()
            t_start = time.time() + 0.2
            sink.t0 = t_start
            sink.batch_ms.clear()  # keep only the live window's batches
            first_progress = len(progress.for_query(str(stack.query.id)))
            live_c0 = harness.tree_cpu_s()
            gen.stdin.write(f"{t_start!r}\n")
            gen.stdin.flush()
            latest_ms: list[float] = []
            source_lag = streaming.Sampler(streaming.spool_lag(stack.spool, latest_ms))
            spool_head = SpoolTransport(stack.spool)
            bridge_lag = streaming.Sampler(
                lambda: min(count, (time.time() - t_start) * RATE)
                - (spool_head.latest_seq() - head0)
            )
            with contextlib.ExitStack() as sampling:
                if tracer.enabled:
                    sampling.enter_context(source_lag)
                    sampling.enter_context(bridge_lag)
                summary_line, _ = gen.communicate(timeout=seconds + 60)
        finally:
            if gen.poll() is None:
                gen.kill()
            gen.wait()
        gen_summary = json.loads(summary_line.strip().splitlines()[-1])
        last_due = stats.due_time(t_start, count - 1, RATE)
        harness.wait_for(
            lambda: len(sink.arrived) >= count,
            max(0.0, last_due + DRAIN_DEADLINE_S - time.time()),
            poll_s=0.05,
        )
        # the generator is the load, not the system under test
        live_cpu_s = harness.tree_cpu_s() - live_c0 - gen_summary["cpu_s"]
    qid = str(stack.query.id)
    stack.stop()
    batches = progress.for_query(qid)[first_progress:]
    streaming.add_microbatch_spans(tracer, batches, live_span)
    progress.close()
    harness.shutdown_jvm(spark)
    if tracer.enabled:
        with tracer.span("phase.replay", "bench"):
            out.layers.update(replay_transport(seed, count, t_start, tracer))

    arrived = dict(sink.arrived)
    missing = count - len(arrived)
    out.attempted = count
    if missing:
        out.fail(f"{missing} messages never reached the sink", missing)
    if sink.duplicates:
        out.fail(f"{sink.duplicates} duplicate deliveries", sink.duplicates)
    if sink.corrupt:
        out.correct = False
        out.fail(f"{sink.corrupt} payloads that were never sent", sink.corrupt)
    lat = stats.open_loop_latencies_ms(arrived, t_start, RATE)
    tail_pct, tail, n = stats.tail_percentile(lat)
    span = max(arrived.values()) - t_start if arrived else 0.0
    out.metrics = {
        "setup_s": session_s + warmup_s,
        "cpu_ms_per_item": live_cpu_s / max(1, len(arrived)) * 1000,
    }
    wall = {
        "wall.items_per_s": len(arrived) / span if span > 0 else 0.0,
        "wall.latency_p50_ms": stats.median(lat),
        "wall.latency_tail_ms": tail,
    }
    out.layers.update(wall)
    # the warm-up: a fresh stack's start and first messages
    out.layers["cold.cpu_ms_per_item"] = warm_cpu_s / max(1, sink.warm) * 1000
    out.layers.update({
        "mqtt.puback_ms_p50": gen_summary["puback_ms_p50"],
        "mqtt.puback_ms_p99": gen_summary["puback_ms_p99"],
        "gen.late_ms_p99": gen_summary["late_ms_p99"],
        "bridge.lag_msgs_p50": stats.median(bridge_lag.values),
        "bridge.lag_msgs_max": max(bridge_lag.values, default=0.0),
        "source.lag_msgs_p50": stats.median(source_lag.values),
        "sink.batch_ms_p50": stats.percentile(sink.batch_ms, 1, 2),
        "sink.batch_ms_p99": stats.percentile(sink.batch_ms, 99, 100),
        "session.get_spark_s": session_s,
        "session.warmup_s": warmup_s,
        # on the live spool, which has an open segment; replaces the replay's
        **streaming.call_metrics("transport.latest_seq", latest_ms),
        **streaming.microbatch_metrics(batches),
    })
    out.notes.update(
        wall=wall, generator=gen_summary, latency_samples=n,
        latency_tail_percentile=tail_pct, missing=missing,
        duplicates=sink.duplicates,
    )
    return out
