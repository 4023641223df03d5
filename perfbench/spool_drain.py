"""``spool_drain``: a seeded backlog written with ``SpoolPublisher.publish``
and drained by the reference WordCount job on ``format("emqx")`` with
``transport=spool`` and a processing-time trigger."""

from __future__ import annotations

import collections
import contextlib
import json
import math
import os
import shutil
import threading
import time
import uuid

import numpy as np

from perfbench import harness, inputs, stats, streaming

BACKLOG = 30_000
#: the first drain of a session costs three times a later one
WARM_DRAINS = 1
#: CPU per message still falls by several % a drain for the first few
#: measured drains; the cost is taken over all of them
MIN_DRAINS = 4
MAX_DRAINS = 12
DRAIN_TIMEOUT_S = 60.0
#: the source's default admission cap per partition and trigger
MAX_RECORDS_PER_BATCH = 10_000


def write_backlog(spool_dir: str, backlog: inputs.Backlog, tracer):
    """Append the backlog through the public publisher.

    Returns ``(seconds, append_times)``, ``append_times[seq]`` being when
    the message with that spool sequence number was appended."""
    from flink_emqx_connector_spark.sources.transport import SpoolPublisher

    appended = np.empty(len(backlog.payloads))
    with tracer.span("transport.publish_backlog", "sources.transport"):
        t0 = time.perf_counter()
        pub = SpoolPublisher(spool_dir)
        for topic, payload, props in zip(
            backlog.topics, backlog.payloads, backlog.properties
        ):
            seq = pub.publish(topic, payload, qos=1, properties=props)
            appended[seq] = time.perf_counter()
        pub.close()
        return time.perf_counter() - t0, appended


def source(spark, spool_dir: str):
    """The EMQX source over ``spool_dir``; loaded once per session and
    reused by every drain, each of which refills the same directory."""
    return (
        spark.readStream.format("emqx")
        .option("transport", "spool")
        .option("spool_dir", spool_dir)
        .option("partitions", str(harness.cpus()))
        .option("max_records_per_batch", str(MAX_RECORDS_PER_BATCH))
        .load()
    )


def drain(spark, messages, backlog: inputs.Backlog, progress, tracer):
    """Run WordCount over the spool until every word is counted.

    Returns ``(seconds, cpu_s, counts, query_id, sunk)``, seconds and
    ``cpu_s`` being None on timeout. Seconds run from query start until
    the batch that completes the count is sunk, ``cpu_s`` is the CPU time
    this process and its descendants spent in that interval, and
    ``sunk[batch_id]`` is when each batch was sunk.
    """
    from flink_emqx_connector_spark.operators.wordcount import word_count

    expected_total = sum(backlog.counts.values())
    counts: dict[str, int] = {}
    total = [0]
    done = threading.Event()
    finished = [0.0, 0.0]  # perf_counter and tree CPU seconds
    sunk: dict[int, float] = {}

    def sink(batch_df, batch_id):
        for word, cnt in batch_df.collect():
            total[0] += cnt - counts.get(word, 0)
            counts[word] = cnt
        sunk[batch_id] = time.perf_counter()
        if total[0] >= expected_total and not done.is_set():
            finished[:] = time.perf_counter(), harness.tree_cpu_s()
            done.set()

    ckpt = os.path.join(harness.OUT, "checkpoints", uuid.uuid4().hex)
    with tracer.span("drain", "bench") as drain_span:
        t0, c0 = time.perf_counter(), harness.tree_cpu_s()
        query = (
            word_count(messages)
            .writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="0 seconds")
            .start()
        )
        completed = done.wait(DRAIN_TIMEOUT_S)
        query_id = str(query.id)
        # Stopping right after the sink would interrupt the batch's commit
        # and its progress event; wait for the progress to cover the rows.
        harness.wait_for(
            lambda: sum(p["rows"] for p in progress.for_query(query_id))
            >= len(backlog.payloads),
            5.0 if completed else 0.0,
        )
        query.stop()
    streaming.add_microbatch_spans(tracer, progress.for_query(query_id), drain_span)
    shutil.rmtree(ckpt, ignore_errors=True)
    if not completed:
        return None, None, counts, query_id, sunk
    return finished[0] - t0, finished[1] - c0, counts, query_id, sunk


def message_latencies_ms(appended, sunk: dict[int, float], progress) -> np.ndarray:
    """Per message: from its append to the sink of the micro-batch that
    counted it. A batch admits every sequence number below its end offset
    not admitted before, so batch boundaries come from the progress."""
    out = []
    lo = 0
    for p in sorted(progress, key=lambda p: p["batch"]):
        if p["batch"] not in sunk or not p["end_offset"]:
            continue
        hi = min(json.loads(p["end_offset"])["seq"], len(appended))
        if hi > lo:
            out.append((sunk[p["batch"]] - appended[lo:hi]) * 1000.0)
            lo = hi
    return np.concatenate(out) if out else np.empty(0)


def check_drain(outcome, backlog, counts, ingested: int, what: str) -> None:
    """Count the messages missing or duplicated in the WordCount totals.

    The ingested row count gives the net difference; the word totals give
    a lower bound when losses and duplicates cancel, since one message
    moves the totals by at most ``max_words``.
    """
    words = set(counts) | set(backlog.counts)
    word_diff = sum(abs(counts.get(w, 0) - backlog.counts.get(w, 0)) for w in words)
    bad = max(
        abs(ingested - len(backlog.payloads)),
        math.ceil(word_diff / backlog.max_words),
    )
    if bad:
        outcome.correct = False
        outcome.fail(f"{what}: {bad} messages missing or duplicated", bad)


def replay_reads(spool_dir: str, tracer) -> dict[str, float]:
    """Replay each partition's read and Arrow conversion serially in this
    process, on the spool the drain is about to read: the read layers'
    own rates and the single-threaded baseline. Then time ``ack_upto`` at
    each admission step on a copy of the spool."""
    from flink_emqx_connector_spark.sources import emqx, transport

    n = harness.cpus()
    st = transport.SpoolTransport(spool_dir)
    latest_ms = []
    for _ in range(5):
        with tracer.span("transport.latest_seq", "sources.transport"):
            t0 = time.perf_counter()
            head = st.latest_seq()
            latest_ms.append((time.perf_counter() - t0) * 1000)
    scanned = [0]
    # Lines the read had to look at, useful or not, counted at the
    # segment scan. A change that claims a gain may not edit the benchmark,
    # so a spool format without this function falls back to the range.
    scan = getattr(transport, "_scan_segment_seqs", None)
    if scan is not None:
        def counting_scan(path):
            rows = scan(path)
            scanned[0] += len(rows)
            return rows

        transport._scan_segment_seqs = counting_scan
    read_s = arrow_s = 0.0
    rows = 0
    try:
        for i in range(n):
            with tracer.span("transport.read_range_columns", "sources.transport"):
                t0 = time.perf_counter()
                cols = st.read_range_columns(st.frontier(), head, i, n)
                t1 = time.perf_counter()
            with tracer.span("emqx.columns_to_record_batches", "sources.emqx"):
                batches = list(
                    emqx.columns_to_record_batches(cols, MAX_RECORDS_PER_BATCH)
                )
                t2 = time.perf_counter()
            read_s += t1 - t0
            arrow_s += t2 - t1
            rows += sum(b.num_rows for b in batches)
    finally:
        if scan is not None:
            transport._scan_segment_seqs = scan
    attempted = scanned[0] if scan is not None else head - st.frontier()

    copy = spool_dir + "-ack"
    shutil.copytree(spool_dir, copy)
    ack_ms = []
    step = MAX_RECORDS_PER_BATCH * n
    for end in range(step, head + step, step):
        with tracer.span("transport.ack_upto", "sources.transport"):
            t0 = time.perf_counter()
            transport.SpoolTransport(copy).ack_upto(min(end, head))
            ack_ms.append((time.perf_counter() - t0) * 1000)
    shutil.rmtree(copy, ignore_errors=True)
    return {
        "transport.read_rows_per_s": rows / read_s if read_s else 0.0,
        "emqx.arrow_rows_per_s": rows / arrow_s if arrow_s else 0.0,
        "transport.rows_read_per_claimed": rows / attempted if attempted else 0.0,
        **streaming.call_metrics("transport.latest_seq", latest_ms),
        **streaming.call_metrics("transport.ack_upto", ack_ms),
    }


BRIDGE_MESSAGES = 5000
BRIDGE_TIMEOUT_S = 60.0


def replay_bridge(backlog: inputs.Backlog, tracer) -> dict[str, float]:
    """The MQTT and bridge layers on this workload's messages: the first
    ``BRIDGE_MESSAGES`` are published back to back at QoS 1 over one
    connection into the embedded broker, and a driver bridge appends them
    to a fresh spool, which nothing reads meanwhile. The PUBACK times
    include the wait behind earlier messages of the burst."""
    from flink_emqx_connector_spark.sources.bridge import MqttSpoolBridge
    from flink_emqx_connector_spark.sources.mqtt_wire import (
        CallbackAPIVersion,
        Client,
        EmbeddedBroker,
        MQTTv5,
        Properties,
    )
    from flink_emqx_connector_spark.sources.transport import SpoolTransport

    spool = os.path.join(harness.OUT, "spools", "spool_drain-bridge")
    shutil.rmtree(spool, ignore_errors=True)
    head = SpoolTransport(spool).latest_seq
    n = min(BRIDGE_MESSAGES, len(backlog.payloads))
    broker = EmbeddedBroker().start()
    bridge = MqttSpoolBridge("127.0.0.1", broker.port, "plant/#", "perfbench",
                             "perfbench-replay", spool, qos=1)
    cli = Client(CallbackAPIVersion.VERSION2, client_id="perfbench-pub",
                 protocol=MQTTv5)
    try:
        cli.connect("127.0.0.1", broker.port)
        cli.loop_start()
        # publishes before the bridge subscribed are dropped by the broker
        if not harness.wait_for(
            lambda: cli.publish("plant/probe", b"probe", qos=1) and head() > 0,
            BRIDGE_TIMEOUT_S, poll_s=0.05,
        ):
            raise RuntimeError("the bridge never subscribed")
        time.sleep(0.2)  # let probes in flight land
        head0 = head()
        puback_ms = []
        pending: collections.deque = collections.deque()

        def poll_acks() -> None:
            # PUBACKs arrive in publish order on one connection
            while pending and pending[0][0]._event.is_set():
                puback_ms.append((time.perf_counter() - pending.popleft()[1]) * 1000)

        with tracer.span("mqtt_wire.publish", "sources.mqtt_wire"):
            t0 = time.perf_counter()
            for topic, payload, props in zip(
                backlog.topics[:n], backlog.payloads[:n], backlog.properties[:n]
            ):
                p = None
                if props:
                    p = Properties()
                    p.UserProperty = props
                info = cli.publish(topic, payload, qos=1, properties=p)
                pending.append((info, time.perf_counter()))
                poll_acks()
            deadline = time.monotonic() + BRIDGE_TIMEOUT_S
            while pending and time.monotonic() < deadline:
                poll_acks()
                time.sleep(0.001)
        with tracer.span("bridge.ingest", "sources.bridge"):
            if not harness.wait_for(lambda: head() - head0 >= n, BRIDGE_TIMEOUT_S):
                raise RuntimeError("the bridge did not append every message")
            secs = time.perf_counter() - t0
    finally:
        cli.disconnect()
        cli.loop_stop()
        bridge.stop()
        broker.stop()
        shutil.rmtree(spool, ignore_errors=True)
    return {
        "mqtt.puback_ms_p50": stats.percentile(puback_ms, 1, 2),
        "mqtt.puback_ms_p99": stats.percentile(puback_ms, 99, 100),
        "bridge.append_msgs_per_s": n / secs,
    }


def spool_bytes(spool_dir: str) -> int:
    return sum(
        os.path.getsize(os.path.join(spool_dir, f)) for f in os.listdir(spool_dir)
    )


def run(seed: int, seconds: float, tracer) -> harness.Outcome:
    out = harness.Outcome()
    backlog = inputs.wordcount_backlog(seed, BACKLOG)
    spool = os.path.join(harness.OUT, "spools", "spool_drain")
    shutil.rmtree(spool, ignore_errors=True)
    layers: dict[str, list[float]] = {}

    spark, session_s = harness.session_setups(tracer)
    progress = harness.ProgressCollector(spark)
    t0 = time.perf_counter()
    warm_cpu_s = []
    with tracer.span("phase.warm_up", "bench"):
        messages = source(spark, spool)
        for i in range(WARM_DRAINS):
            write_backlog(spool, backlog, tracer)
            _secs, cpu_s, counts, qid, _sunk = drain(
                spark, messages, backlog, progress, tracer
            )
            if cpu_s is None:
                raise RuntimeError(f"warm-up drain {i} did not complete")
            warm_cpu_s.append(cpu_s)
            ingested = sum(p["rows"] for p in progress.for_query(qid))
            check_drain(out, backlog, counts, ingested, f"warm-up drain {i}")
            shutil.rmtree(spool, ignore_errors=True)
    warmup_s = time.perf_counter() - t0

    drain_rates, drain_cpu_s, latencies, measured = [], [], [], []
    t_start = time.perf_counter()
    i = 0
    while i < MIN_DRAINS or (
        time.perf_counter() - t_start < seconds and i < MAX_DRAINS
    ):
        with tracer.span("phase.write_backlog", "bench"):
            secs, appended = write_backlog(spool, backlog, tracer)
        layers.setdefault("append_msgs_per_s", []).append(
            len(backlog.payloads) / secs
        )
        if tracer.enabled:
            layers.setdefault("transport.bytes_per_payload_byte", []).append(
                spool_bytes(spool) / backlog.payload_bytes
            )
            with tracer.span("phase.replay", "bench"):
                for k, v in replay_reads(spool, tracer).items():
                    layers.setdefault(k, []).append(v)
        sampler = streaming.Sampler(streaming.spool_lag(spool, []))
        with tracer.span("phase.drain", "bench"):
            with sampler if tracer.enabled else contextlib.nullcontext():
                secs, cpu_s, counts, qid, sunk = drain(
                    spark, messages, backlog, progress, tracer
                )
        batches = progress.for_query(qid)
        out.attempted += len(backlog.payloads)
        ingested = sum(p["rows"] for p in batches)
        check_drain(out, backlog, counts, ingested, f"drain {i}")
        if secs is None:
            out.notes.setdefault("timeouts", []).append(i)
        else:
            drain_rates.append(len(backlog.payloads) / secs)
            drain_cpu_s.append(cpu_s)
        latencies.append(message_latencies_ms(appended, sunk, batches))
        measured.extend(batches)
        layers.setdefault("source.lag_msgs_p50", []).append(
            stats.median(sampler.values)
        )
        shutil.rmtree(spool, ignore_errors=True)
        i += 1
    progress.close()
    harness.shutdown_jvm(spark)
    if tracer.enabled:
        with tracer.span("phase.replay_bridge", "bench"):
            bridge_layers = replay_bridge(backlog, tracer)

    lat = np.concatenate(latencies)
    tail_pct, tail, n = stats.tail_percentile(lat)
    n_msgs = len(backlog.payloads)
    out.metrics = {
        "setup_s": session_s + warmup_s,
        "cpu_ms_per_item": (
            sum(drain_cpu_s) / (n_msgs * max(1, len(drain_cpu_s))) * 1000
        ),
    }
    wall = {
        "wall.items_per_s": stats.median(drain_rates),
        "wall.latency_p50_ms": stats.median(lat),
        "wall.latency_tail_ms": tail,
    }
    out.layers = {k: stats.median(v) for k, v in layers.items()}
    out.layers.update(
        wall,
        drain_msgs_per_s=wall["wall.items_per_s"],
        **streaming.microbatch_metrics(measured),
    )
    out.layers["transport.append_us_per_msg"] = 1e6 / out.layers["append_msgs_per_s"]
    if tracer.enabled:
        out.layers.update(bridge_layers)
    # the first warm-up drain: a fresh session's first pass over a backlog
    out.layers["cold.cpu_ms_per_item"] = warm_cpu_s[0] / n_msgs * 1000
    out.layers["session.get_spark_s"] = session_s
    out.layers["session.warmup_s"] = warmup_s
    out.notes.update(
        wall=wall, drains=len(drain_rates), backlog=n_msgs,
        latency_samples=n, latency_tail_percentile=tail_pct,
        drain_msgs_per_s=drain_rates,
        drain_cpu_s=drain_cpu_s, warm_cpu_s=warm_cpu_s,
        append_msgs_per_s=layers["append_msgs_per_s"],
    )
    return out
