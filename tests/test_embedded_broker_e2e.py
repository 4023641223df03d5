"""Real-socket MQTT 5 E2E: the four reference integration scenarios
(``EMQXSourceIntegrationTest.java:125-364``) against the embedded broker
(``sources/mqtt_wire.py``) on the ``paho`` transport path — real TCP, real
MQTT 5 packets, no fake-client shims.

| reference test          | here                                           |
|-------------------------|------------------------------------------------|
| messageDelivery         | test_message_delivery_shared_group (Spark E2E) |
| stopWithSavepoint       | test_graceful_stop_then_restart_no_redelivery  |
| recoverAfterFailure     | test_crash_without_ack_redelivers              |
| startWithBrokerOffline  | test_broker_offline_at_start                   |

Plus wire-level round-trips, arrival-timestamp semantics (stamped in
on_message, not at drain), and the MQTT sink publishing through the
embedded client.
"""

import socket
import time
import uuid

import pytest

from flink_emqx_connector_spark.sources.mqtt_wire import (
    CallbackAPIVersion,
    Client,
    EmbeddedBroker,
    MQTTv5,
    PacketTypes,
    Properties,
)
from flink_emqx_connector_spark.sources.transport import PahoTransport


@pytest.fixture()
def broker():
    b = EmbeddedBroker().start()
    yield b
    b.stop()


def _wait(predicate, timeout=30.0, step=0.1):
    deadline = time.time() + timeout
    while time.time() < deadline:
        if predicate():
            return True
        time.sleep(step)
    return False


def _publisher(broker_port):
    cli = Client(CallbackAPIVersion.VERSION2, protocol=MQTTv5)
    cli.connect("127.0.0.1", broker_port)
    cli.loop_start()
    return cli


def _transport(port, clientid, group="g1", topic="t/#"):
    return PahoTransport("127.0.0.1", port, clientid, topic, 1, group)


# --------------------------------------------------------------------------
# wire-level round trips
# --------------------------------------------------------------------------


def test_wire_publish_subscribe_roundtrip(broker):
    """QoS1 publish → subscribe delivery with user properties, over real
    sockets; auto-ack clears the broker's inflight state."""
    got = []
    sub = Client(CallbackAPIVersion.VERSION2, client_id="sub-1", protocol=MQTTv5)
    sub.on_connect = lambda c, u, f, r, p=None: c.subscribe("t/#", qos=1)
    sub.on_message = lambda c, u, m: got.append(m)
    sub.connect("127.0.0.1", broker.port)
    sub.loop_start()
    assert _wait(lambda: broker.sessions.get("sub-1") and broker.sessions["sub-1"].subs)

    pub = _publisher(broker.port)
    pub.publish("t/1", b"hello", qos=1).wait_for_publish()
    assert _wait(lambda: len(got) == 1)
    m = got[0]
    assert (m.topic, bytes(m.payload), m.qos) == ("t/1", b"hello", 1)
    assert _wait(lambda: broker.session_backlog("sub-1") == 0)  # auto-acked
    sub.disconnect()
    pub.disconnect()


def test_transport_protocol_over_real_sockets(broker):
    """PahoTransport drain/retry/subsuming-ack protocol against the real
    broker: nothing acked before commit; ack_upto(2) acks batches 1+2."""
    t = _transport(broker.port, "c-proto-0")
    assert _wait(
        lambda: broker.sessions.get("c-proto-0")
        and broker.sessions["c-proto-0"].subs
    )
    pub = _publisher(broker.port)
    for i in range(5):
        pub.publish("t/1", str(i).encode(), qos=1).wait_for_publish()

    assert _wait(lambda: t.queue.qsize() == 5)
    b1 = t.drain(1, max_records=3, timeout_s=0.2)
    assert b1["payload"] == [b"0", b"1", b"2"]
    again = t.drain(1, max_records=3, timeout_s=0.2)  # task retry
    assert again == b1
    b2 = t.drain(2, max_records=10, timeout_s=0.2)
    assert b2["payload"] == [b"3", b"4"]
    assert broker.session_backlog("c-proto-0") == 5  # un-acked inflight
    t.ack_upto(2)
    assert _wait(lambda: broker.session_backlog("c-proto-0") == 0)
    assert t.pending == {}
    t.client.disconnect()
    pub.disconnect()


def test_arrival_timestamp_stamped_in_on_message(broker):
    """Event time = broker delivery time, not drain time: a drain delayed
    past delivery must surface the arrival timestamp."""
    t = _transport(broker.port, "c-ts-0")
    assert _wait(lambda: broker.sessions.get("c-ts-0") and broker.sessions["c-ts-0"].subs)
    pub = _publisher(broker.port)
    pub.publish("t/1", b"x", qos=1).wait_for_publish()
    assert _wait(lambda: t.queue.qsize() == 1)
    time.sleep(1.2)  # slow trigger
    drain_start = time.time()
    (ts_us,) = t.drain(1, max_records=10, timeout_s=0.2)["timestamp"]
    assert ts_us / 1e6 <= drain_start - 1.0, (ts_us, drain_start)
    t.client.disconnect()
    pub.disconnect()


# --------------------------------------------------------------------------
# the four reference scenarios
# --------------------------------------------------------------------------


def test_message_delivery_shared_group(broker):
    """messageDelivery (reference :125-170): 3 messages to t/1 under
    filter t/# with parallelism 3 via $share — each delivered to exactly
    one group member."""
    ts = [_transport(broker.port, f"c-del-{i}", group="gdel") for i in range(3)]
    assert _wait(
        lambda: all(
            broker.sessions.get(f"c-del-{i}") and broker.sessions[f"c-del-{i}"].subs
            for i in range(3)
        )
    )
    pub = _publisher(broker.port)
    for p in (b"1", b"2", b"3"):
        pub.publish("t/1", p, qos=1).wait_for_publish()
    assert _wait(lambda: sum(t.queue.qsize() for t in ts) == 3)
    got = []
    for t in ts:
        got += t.drain(1, max_records=10, timeout_s=0.2)["payload"]
    assert sorted(got) == [b"1", b"2", b"3"]  # once each, across the group
    # round-robin spread: no member got everything
    assert max(len(t.pending.get(1, [])) for t in ts) < 3
    for t in ts:
        t.ack_upto(1)
        t.client.disconnect()
    pub.disconnect()


def test_graceful_stop_then_restart_no_redelivery(broker):
    """stopWithSavepoint (reference :172-217): consume 10, ack (commit),
    reconnect with the same clientid + clean_start=False — session present,
    nothing redelivered; new messages still flow."""
    t = _transport(broker.port, "c-stop-0", group="gstop")
    assert _wait(lambda: broker.sessions.get("c-stop-0") and broker.sessions["c-stop-0"].subs)
    pub = _publisher(broker.port)
    for i in range(10):
        pub.publish("t/1", str(i).encode(), qos=1).wait_for_publish()
    assert _wait(lambda: t.queue.qsize() == 10)
    msgs = t.drain(1, max_records=100, timeout_s=0.2)
    assert len(msgs["payload"]) == 10
    t.ack_upto(1)  # checkpoint complete
    assert _wait(lambda: broker.session_backlog("c-stop-0") == 0)
    t.client.disconnect()

    t2 = _transport(broker.port, "c-stop-0", group="gstop")
    # session resumed: nothing redelivered after the graceful stop
    time.sleep(0.5)
    assert t2.queue.qsize() == 0
    pub.publish("t/1", b"after", qos=1).wait_for_publish()
    assert _wait(lambda: t2.queue.qsize() == 1)
    assert t2.drain(1, 10, 0.2)["payload"] == [b"after"]
    t2.ack_upto(1)
    t2.client.disconnect()
    pub.disconnect()


@pytest.mark.parametrize("qos", [1])
def test_crash_without_ack_redelivers(broker, qos):
    """recoverAfterFailure (reference :219-301): messages received but
    never acked (crash before checkpoint completion) are redelivered to
    the restarted reader — at-least-once."""
    t = _transport(broker.port, "c-crash-0", group="gcrash")
    assert _wait(lambda: broker.sessions.get("c-crash-0") and broker.sessions["c-crash-0"].subs)
    pub = _publisher(broker.port)
    for i in range(10):
        pub.publish("t/1", str(i).encode(), qos=qos).wait_for_publish()
    assert _wait(lambda: t.queue.qsize() == 10)
    msgs = t.drain(1, max_records=100, timeout_s=0.2)
    assert len(msgs["payload"]) == 10
    # crash: reader dies without DISCONNECT (loop_stop closes the socket
    # and kills the reconnect loop; no graceful packet), acks never sent
    t.client.loop_stop()
    assert _wait(lambda: broker.sessions["c-crash-0"].conn is None)
    assert broker.session_backlog("c-crash-0") == 10

    t2 = _transport(broker.port, "c-crash-0", group="gcrash")
    assert _wait(lambda: t2.queue.qsize() == 10)
    redelivered = t2.drain(1, max_records=100, timeout_s=0.2)
    assert sorted(redelivered["payload"]) == sorted(msgs["payload"])
    t2.ack_upto(1)
    assert _wait(lambda: broker.session_backlog("c-crash-0") == 0)
    # acked for real: yet another incarnation sees nothing
    t2.client.disconnect()
    t3 = _transport(broker.port, "c-crash-0", group="gcrash")
    time.sleep(0.5)
    assert t3.queue.qsize() == 0
    t3.client.disconnect()
    pub.disconnect()


def test_broker_offline_at_start(tmp_path):
    """startWithBrokerOffline (reference :303-364): the reader starts while
    the broker is down (connect refused → async retry loop) and delivers
    everything once the broker comes up."""
    # reserve a port the broker will bind later
    probe = socket.socket()
    probe.bind(("127.0.0.1", 0))
    port = probe.getsockname()[1]
    probe.close()

    t = _transport(port, "c-off-0", group="goff")  # must not raise (ST6)
    assert t.drain(1, max_records=10, timeout_s=0.05)["payload"] == []

    broker = EmbeddedBroker(port=port).start()
    try:
        assert _wait(
            lambda: broker.sessions.get("c-off-0")
            and broker.sessions["c-off-0"].subs,
            timeout=10,
        )
        pub = _publisher(port)
        for i in range(10):
            pub.publish("t/1", str(i).encode(), qos=1).wait_for_publish()
        assert _wait(lambda: t.queue.qsize() == 10)
        got = t.drain(2, max_records=100, timeout_s=0.2)
        assert sorted(got["payload"]) == sorted(
            str(i).encode() for i in range(10)
        )
        t.ack_upto(2)
        assert _wait(lambda: broker.session_backlog("c-off-0") == 0)
        t.client.disconnect()
        pub.disconnect()
    finally:
        broker.stop()


# --------------------------------------------------------------------------
# Spark-integrated paths
# --------------------------------------------------------------------------


def test_spark_stream_from_embedded_broker(spark, broker, tmp_path):
    """Full Structured Streaming read on transport=paho against the
    embedded broker: readStream → memory sink, at-least-once delivery."""
    from flink_emqx_connector_spark.sources import register_emqx_source

    register_emqx_source(spark)
    name = f"mq_{uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("emqx")
        .option("transport", "paho")
        .option("host", "127.0.0.1")
        .option("port", str(broker.port))
        .option("topic", "t/#")
        .option("group", "gspark")
        .option("clientid", f"spark-{name}")
        .option("partitions", "2")
        .option("qos", "1")
        .load()
        .selectExpr("CAST(payload AS STRING) AS word", "timestamp")
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        # wait for both partition clients to subscribe, then publish
        assert _wait(
            lambda: sum(
                1
                for cid, s in broker.sessions.items()
                if cid.startswith(f"spark-{name}") and s.subs
            )
            >= 2,
            timeout=60,
        ), list(broker.sessions)
        pub = _publisher(broker.port)
        for p in (b"a", b"b", b"c"):
            pub.publish("t/1", p, qos=1).wait_for_publish()
        assert _wait(
            lambda: {
                r.word
                for r in spark.sql(f"SELECT DISTINCT word FROM {name}").collect()
            }
            == {"a", "b", "c"},
            timeout=60,
        ), spark.sql(f"SELECT * FROM {name}").collect()
        pub.disconnect()
    finally:
        q.stop()


def test_sink_publishes_through_embedded_client(spark, broker):
    """publish_dataframe on the paho path: executor-side embedded clients
    publish real MQTT packets a subscriber receives."""
    from flink_emqx_connector_spark.sinks.emqx import publish_dataframe

    got = []
    sub = Client(CallbackAPIVersion.VERSION2, client_id="sink-sub", protocol=MQTTv5)
    sub.on_connect = lambda c, u, f, r, p=None: c.subscribe("out/#", qos=1)
    sub.on_message = lambda c, u, m: got.append((m.topic, bytes(m.payload)))
    sub.connect("127.0.0.1", broker.port)
    sub.loop_start()
    assert _wait(lambda: broker.sessions.get("sink-sub") and broker.sessions["sink-sub"].subs)

    df = spark.createDataFrame(
        [(f"out/{i}", str(i).encode()) for i in range(5)], ["topic", "payload"]
    ).repartition(2)
    publish_dataframe(df, transport="paho", host="127.0.0.1", port=broker.port, qos=1)
    assert _wait(lambda: len(got) == 5), got
    assert sorted(got) == [(f"out/{i}", str(i).encode()) for i in range(5)]
    sub.disconnect()


def test_bridge_transport_exactly_once_counts(spark, broker, tmp_path):
    """transport=bridge: the driver-side MQTT→spool bridge + spool source
    deliver EXACTLY the published messages through Spark — no duplicate
    storm under Python-worker rotation (the executor-resident client
    design measured 34× duplicates on a 100k pump; connection-scoped MQTT
    acks cannot survive worker churn — see sources/bridge.py)."""
    from flink_emqx_connector_spark.sources import register_emqx_source

    register_emqx_source(spark)
    spool = str(tmp_path / "bridge-spool")
    name = f"br_{uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("emqx")
        .option("transport", "bridge")
        .option("host", "127.0.0.1")
        .option("port", str(broker.port))
        .option("topic", "t/#")
        .option("group", "gbr")
        .option("clientid", f"br-{name}")
        .option("spool_dir", spool)
        .option("partitions", "3")
        .option("qos", "1")
        .load()
        .selectExpr("CAST(payload AS STRING) AS w")
        .groupBy("w")
        .count()
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        assert _wait(
            lambda: any(
                cid.startswith(f"br-{name}-bridge") and s.subs
                for cid, s in broker.sessions.items()
            ),
            timeout=30,
        ), list(broker.sessions)
        pub = _publisher(broker.port)
        N = 3000
        last = None
        for i in range(N):
            last = pub.publish("t/1", b"m%05d" % i, qos=1)  # unique payloads
        last.wait_for_publish()
        # every message delivered at least once; the broker→spool hop is
        # at-least-once (a transient bridge reconnect redelivers a few),
        # so DISTINCT must be exact while the raw count may slightly
        # exceed N — bounded, not a runaway (the executor-client design
        # measured 34×)
        def distinct():
            r = spark.sql(f"SELECT count(*) c FROM {name}").head()
            return r["c"] if r else 0

        assert _wait(lambda: distinct() == N, timeout=60), distinct()
        time.sleep(2.0)
        total = spark.sql(f"SELECT sum(count) s FROM {name}").head()["s"]
        # at-least-once broker→spool hop: normally <1.05×, but a host
        # scheduling stall can cost ONE reconnect that redelivers the
        # whole un-acked backlog (observed once under full-suite load:
        # 5013/3000). The claim worth pinning is "bounded, never the
        # executor-client runaway (34×)" — so allow one backlog cycle.
        assert N <= total <= 2 * N, total
        pub.disconnect()
    finally:
        q.stop()


def test_bridge_restart_from_checkpoint(spark, broker, tmp_path):
    """stopWithSavepoint at the full-engine level on the MQTT path: stop
    the streaming query, publish more while it is down (messages land in
    the broker session / spool), restart from the same checkpoint — the
    backlog and new messages arrive, nothing committed is re-emitted."""
    from flink_emqx_connector_spark.sources import register_emqx_source

    register_emqx_source(spark)
    spool = str(tmp_path / "bridge-spool")
    name = f"br2_{uuid.uuid4().hex[:8]}"

    def start(qname):
        return (
            spark.readStream.format("emqx")
            .option("transport", "bridge")
            .option("host", "127.0.0.1")
            .option("port", str(broker.port))
            .option("topic", "t/#")
            .option("group", "gbr2")
            .option("clientid", f"br2-{name}")
            .option("spool_dir", spool)
            .option("partitions", "2")
            .option("qos", "1")
            .load()
            .selectExpr("CAST(payload AS STRING) AS w")
            .groupBy("w")
            .count()
            .writeStream.format("memory")
            .queryName(qname)
            .outputMode("complete")  # memory sink recovers only in complete
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )

    q = start(name)
    pub = None
    try:
        assert _wait(
            lambda: any(
                cid.startswith(f"br2-{name}-bridge") and s.subs
                for cid, s in broker.sessions.items()
            ),
            timeout=30,
        )
        pub = _publisher(broker.port)
        for i in range(5):
            pub.publish("t/1", b"a%d" % i, qos=1).wait_for_publish()
        assert _wait(
            lambda: spark.sql(f"SELECT count(*) c FROM {name}").head()["c"] == 5,
            timeout=60,
        )
    finally:
        q.stop()

    # down: 3 more messages queue in the (persistent) broker session
    for i in range(3):
        pub.publish("t/1", b"b%d" % i, qos=1).wait_for_publish()

    name2 = f"{name}_r"
    q2 = start(name2)
    try:
        # restored aggregation state keeps a0..a4 at 1 each (NOT re-counted
        # to 2 — the committed backlog is not re-consumed), and the three
        # down-time messages arrive exactly once
        want = {f"a{i}": 1 for i in range(5)} | {f"b{i}": 1 for i in range(3)}
        assert _wait(
            lambda: {
                r.w: r["count"]
                for r in spark.sql(f"SELECT * FROM {name2}").collect()
            }
            == want,
            timeout=60,
        ), spark.sql(f"SELECT * FROM {name2}").collect()
    finally:
        q2.stop()
        pub.disconnect()


# --------------------------------------------------------------------------
# QoS 2: full PUBREC/PUBREL/PUBCOMP handshake (reference parameterizes its
# recovery scenario over QoS {1,2} — EMQXSourceIntegrationTest.java:219-221)
# --------------------------------------------------------------------------


def test_qos2_publish_roundtrip_exactly_once(broker):
    """QoS 2 publish completes the 4-way handshake (wait_for_publish
    returns on PUBCOMP) and the subscriber sees exactly one copy;
    auto-ack (PUBREC) + PUBREL/PUBCOMP clears all broker state."""
    got = []
    sub = Client(CallbackAPIVersion.VERSION2, client_id="sub-q2", protocol=MQTTv5)
    sub.on_connect = lambda c, u, f, r, p=None: c.subscribe("t/#", qos=2)
    sub.on_message = lambda c, u, m: got.append(m)
    sub.connect("127.0.0.1", broker.port)
    sub.loop_start()
    assert _wait(lambda: broker.sessions.get("sub-q2") and broker.sessions["sub-q2"].subs)

    pub = _publisher(broker.port)
    pub.publish("t/1", b"exactly-once", qos=2).wait_for_publish()
    assert _wait(lambda: len(got) == 1)
    assert (got[0].topic, bytes(got[0].payload), got[0].qos) == ("t/1", b"exactly-once", 2)
    time.sleep(0.3)  # any duplicate would land within a trigger or two
    assert len(got) == 1
    s = broker.sessions["sub-q2"]
    assert _wait(lambda: not s.inflight and not s.awaiting_comp), (
        s.inflight, s.awaiting_comp)
    sub.disconnect()
    pub.disconnect()


def test_qos2_recovery_no_redelivery_after_pubrec(broker):
    """The exactly-once leg: a manual-ack subscriber that PUBRECs and then
    crashes (no DISCONNECT) must NOT get the PUBLISH again on resume —
    the broker finishes the handshake with PUBREL only (reference
    recoverAfterFailure at QoS 2)."""
    got = []
    sub = Client(
        CallbackAPIVersion.VERSION2, client_id="sub-q2r", protocol=MQTTv5,
        manual_ack=True,
    )
    sub.on_connect = lambda c, u, f, r, p=None: (
        f.session_present or c.subscribe("t/#", qos=2)
    )
    sub.on_message = lambda c, u, m: got.append(m)
    sub.connect("127.0.0.1", broker.port, clean_start=True)
    sub.loop_start()
    assert _wait(lambda: broker.sessions.get("sub-q2r") and broker.sessions["sub-q2r"].subs)

    pub = _publisher(broker.port)
    pub.publish("t/1", b"m1", qos=2).wait_for_publish()
    assert _wait(lambda: len(got) == 1)

    # phase 1: crash BEFORE ack → PUBLISH redelivered as DUP on resume
    sub.loop_stop()
    sub2 = Client(
        CallbackAPIVersion.VERSION2, client_id="sub-q2r", protocol=MQTTv5,
        manual_ack=True,
    )
    got2 = []
    sub2.on_message = lambda c, u, m: got2.append(m)
    sub2.connect("127.0.0.1", broker.port, clean_start=False)
    sub2.loop_start()
    assert _wait(lambda: len(got2) == 1), "un-PUBREC'd msg must redeliver"
    assert got2[0].dup

    # phase 2: PUBREC it, then crash before PUBCOMP → on resume the broker
    # sends PUBREL only; the message must NOT arrive a third time
    sub2.ack(got2[0])
    s = broker.sessions["sub-q2r"]
    assert _wait(lambda: got2[0].mid in s.awaiting_comp or not s.awaiting_comp)
    sub2.loop_stop()
    sub3 = Client(
        CallbackAPIVersion.VERSION2, client_id="sub-q2r", protocol=MQTTv5,
        manual_ack=True,
    )
    got3 = []
    sub3.on_message = lambda c, u, m: got3.append(m)
    sub3.connect("127.0.0.1", broker.port, clean_start=False)
    sub3.loop_start()
    assert _wait(lambda: not s.awaiting_comp), "PUBREL/PUBCOMP must finish"
    time.sleep(0.3)
    assert got3 == [], f"message redelivered after PUBREC: {got3}"
    sub3.disconnect()
    pub.disconnect()


def test_properties_list_fidelity_end_to_end(spark, broker, tmp_path):
    """properties_mode=list: duplicate-key MQTT 5 user properties survive
    publisher → broker → bridge → spool → Spark IN ORDER — the
    Mqtt5UserProperties fidelity the reference's POJO carries
    (EMQXMessage.java:3,9) and the default MAP envelope cannot. The
    default map mode last-wins the duplicate (compat check at the end)."""
    from flink_emqx_connector_spark.sources import register_emqx_source

    register_emqx_source(spark)
    spool = str(tmp_path / "props-spool")
    name = f"pl_{uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("emqx")
        .option("transport", "bridge")
        .option("host", "127.0.0.1")
        .option("port", str(broker.port))
        .option("topic", "t/#")
        .option("group", "gpl")
        .option("clientid", f"pl-{name}")
        .option("spool_dir", spool)
        .option("partitions", "2")
        .option("qos", "1")
        .option("properties_mode", "list")
        .load()
        .selectExpr("CAST(payload AS STRING) AS p", "properties_list")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        assert _wait(
            lambda: any(
                cid.startswith(f"pl-{name}-bridge") and s.subs
                for cid, s in broker.sessions.items()
            ),
            timeout=30,
        ), list(broker.sessions)
        pub = _publisher(broker.port)
        props = Properties(PacketTypes.PUBLISH)
        # duplicate key "k" with distinct values, order is the contract
        props.UserProperty = [("k", "v1"), ("k", "v2"), ("trace", "t9")]
        pub.publish("t/1", b"dup", qos=1, properties=props).wait_for_publish()

        def rows():
            return spark.sql(f"SELECT * FROM {name}").collect()

        assert _wait(lambda: len(rows()) >= 1, timeout=60), rows()
        row = [r for r in rows() if r.p == "dup"][0]
        got = [(e.key, e.value) for e in row.properties_list]
        assert got == [("k", "v1"), ("k", "v2"), ("trace", "t9")], got
        pub.disconnect()
    finally:
        q.stop()

    # default map mode on the same spool: duplicate key collapses last-wins
    from flink_emqx_connector_spark.sources.transport import SpoolTransport

    cols = SpoolTransport(spool).read_range_columns(0, 10_000, 0, 1)
    pairs = cols["properties"][cols["payload"].index(b"dup")]
    assert pairs == [("k", "v1"), ("k", "v2"), ("trace", "t9")]
    assert dict(pairs) == {"k": "v2", "trace": "t9"}  # last-wins map view


def test_qos2_client_suppresses_dup_after_lost_pubrec():
    """Broker→subscriber QoS 2 exactly-once, client side: if the client's
    PUBREC is lost, the broker retransmits the PUBLISH with DUP and the
    SAME packet id. The client tracks inbound QoS-2 mids between PUBREC
    and PUBREL (mirror of the broker's rx_qos2), so the retransmission is
    re-PUBREC'd but NOT re-dispatched to on_message. Uses a raw scripted
    server (not the embedded broker) so the PUBREL can be withheld — the
    race window is otherwise closed within a socket round-trip."""
    import threading

    from flink_emqx_connector_spark.sources.mqtt_wire import (
        PUBCOMP,
        PUBREC,
        connack_packet,
        publish_packet,
        pubrel_packet,
        read_packet,
        suback_packet,
    )

    srv = socket.socket()
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]
    got, received = [], {"pubrec": 0, "pubcomp": 0}
    ready = threading.Event()

    def server():
        conn, _ = srv.accept()
        read_packet(conn)  # CONNECT
        conn.sendall(connack_packet(False))
        read_packet(conn)  # SUBSCRIBE
        conn.sendall(suback_packet(1, [2]))
        # deliver mid=7, then retransmit it as DUP BEFORE any PUBREL
        conn.sendall(publish_packet("t/1", b"once", 2, 7))
        ptype, _f, _b = read_packet(conn)  # PUBREC 7
        assert ptype == PUBREC
        received["pubrec"] += 1
        conn.sendall(publish_packet("t/1", b"once", 2, 7, False, True))
        ptype, _f, _b = read_packet(conn)  # re-PUBREC 7, no re-dispatch
        assert ptype == PUBREC
        received["pubrec"] += 1
        # now finish the handshake; mid 7 becomes reusable as NEW
        conn.sendall(pubrel_packet(7))
        ptype, _f, _b = read_packet(conn)  # PUBCOMP 7
        assert ptype == PUBCOMP
        received["pubcomp"] += 1
        conn.sendall(publish_packet("t/2", b"next", 2, 7))
        read_packet(conn)  # PUBREC for the reused mid
        received["pubrec"] += 1
        ready.set()

    th = threading.Thread(target=server, daemon=True)
    th.start()

    cli = Client(CallbackAPIVersion.VERSION2, client_id="sub-dup2", protocol=MQTTv5)
    cli.on_connect = lambda c, u, f, r, p=None: c.subscribe("t/#", qos=2)
    cli.on_message = lambda c, u, m: got.append(m)
    cli.connect("127.0.0.1", port)
    cli.loop_start()

    assert _wait(ready.is_set, timeout=15)
    time.sleep(0.2)
    payloads = [bytes(m.payload) for m in got]
    # exactly once for the DUP'd mid, and the post-PUBREL reuse delivers
    assert payloads == [b"once", b"next"], payloads
    assert received == {"pubrec": 3, "pubcomp": 1}
    cli.loop_stop()
    srv.close()


def test_broker_survives_garbage_and_malformed_frames():
    """MQTT-4.13 robustness: a connection feeding garbage (including an
    over-long Variable Byte Integer, MQTT-1.5.5) or a truncated PUBACK is
    CLOSED — and the broker keeps serving well-formed clients."""
    import socket as _socket
    import time

    from flink_emqx_connector_spark.sources.mqtt_wire import (
        CallbackAPIVersion,
        Client,
        EmbeddedBroker,
        MQTTv5,
        connect_packet,
    )

    broker = EmbeddedBroker().start()
    try:
        # 1. pure garbage with continuation bits set forever: the VBI cap
        #    must reject it instead of waiting for a multi-GB body
        g = _socket.create_connection(("127.0.0.1", broker.port), timeout=5)
        g.sendall(bytes([0x30]) + b"\xff\xff\xff\xff\xff\xff")
        assert g.recv(1) == b"", "broker must close the garbage connection"
        g.close()

        # 1b. LEGAL 4-byte VBI declaring a 268 MB body: the packet-size
        #     bound must reject it instead of pinning a thread buffering it
        g2 = _socket.create_connection(("127.0.0.1", broker.port), timeout=5)
        g2.sendall(bytes([0x10]) + b"\xff\xff\xff\x7f")
        assert g2.recv(1) == b"", "broker must reject an oversized packet"
        g2.close()

        # 2. well-formed CONNECT then a truncated PUBACK (1-byte body where
        #    the packet id needs 2): connection must close, thread must not
        #    crash the broker
        m = _socket.create_connection(("127.0.0.1", broker.port), timeout=5)
        m.sendall(connect_packet("mal", True, 60, None))
        m.recv(64)  # CONNACK
        m.sendall(bytes([0x40, 0x01, 0x07]))  # PUBACK, len 1, body b"\x07"
        assert m.recv(1) == b"", "broker must close on truncated PUBACK"
        m.close()

        # 3. the broker still serves a legitimate round-trip afterwards
        got = []
        sub = Client(CallbackAPIVersion.VERSION2, client_id="ok-sub", protocol=MQTTv5)
        sub.on_message = lambda c, u, msg: got.append(bytes(msg.payload))
        sub.connect("127.0.0.1", broker.port)
        sub.loop_start()
        sub.subscribe("t/ok", qos=1)
        time.sleep(0.2)
        pub = Client(CallbackAPIVersion.VERSION2, client_id="ok-pub", protocol=MQTTv5)
        pub.connect("127.0.0.1", broker.port)
        pub.loop_start()
        pub.publish("t/ok", b"alive", qos=1).wait_for_publish(10)
        deadline = time.time() + 10
        while not got and time.time() < deadline:
            time.sleep(0.05)
        assert got == [b"alive"]
        pub.disconnect()
        sub.disconnect()
    finally:
        broker.stop()


def test_client_reconnects_after_malformed_frame():
    """A malformed frame from the peer must tear the connection down and
    re-enter the reconnect/backoff path (previously it killed the network
    thread with an uncaught ValueError) — observed as a SECOND TCP
    connect against the listener."""
    import socket
    import threading
    import time

    from flink_emqx_connector_spark.sources.mqtt_wire import (
        CallbackAPIVersion,
        Client,
        MQTTv5,
        connack_packet,
    )

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(8)
    port = srv.getsockname()[1]
    accepted = []
    stop = threading.Event()

    def fake_broker():
        while not stop.is_set():
            try:
                conn, _ = srv.accept()
            except OSError:
                return
            accepted.append(conn)
            try:
                conn.recv(512)  # CONNECT
                conn.sendall(connack_packet(False))
                if len(accepted) == 1:
                    # first connection: answer with an over-long VBI frame
                    conn.sendall(bytes([0x30]) + b"\xff\xff\xff\xff\xff")
                # later connections: stay silent (healthy idle)
            except OSError:
                pass

    th = threading.Thread(target=fake_broker, daemon=True)
    th.start()
    cli = Client(CallbackAPIVersion.VERSION2, client_id="mal-cli", protocol=MQTTv5)
    cli.connect("127.0.0.1", port)
    cli.loop_start()
    deadline = time.time() + 10
    while len(accepted) < 2 and time.time() < deadline:
        time.sleep(0.05)
    try:
        assert len(accepted) >= 2, "client never reconnected after malformed frame"
    finally:
        cli.loop_stop()
        stop.set()
        srv.close()
        for c in accepted:
            try:
                c.close()
            except OSError:
                pass


def test_callback_exception_does_not_teardown_connection():
    """A user on_message callback that raises must NOT be classified as a
    malformed frame (MQTT-4.13): the connection stays up (no reconnect)
    and later messages are still delivered — the bug is logged, not
    silently converted into a teardown/redelivery loop."""
    import socket
    import threading
    import time

    from flink_emqx_connector_spark.sources.mqtt_wire import (
        CallbackAPIVersion,
        Client,
        MQTTv5,
        connack_packet,
        publish_packet,
    )

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(8)
    port = srv.getsockname()[1]
    accepted = []
    stop = threading.Event()

    def fake_broker():
        while not stop.is_set():
            try:
                conn, _ = srv.accept()
            except OSError:
                return
            accepted.append(conn)
            try:
                conn.recv(512)  # CONNECT
                conn.sendall(connack_packet(False))
                conn.sendall(publish_packet("t/1", b"boom", 0))
                time.sleep(0.3)
                conn.sendall(publish_packet("t/1", b"after", 0))
            except OSError:
                pass

    th = threading.Thread(target=fake_broker, daemon=True)
    th.start()
    got = []

    def on_message(cli, _ud, msg):
        got.append(bytes(msg.payload))
        if msg.payload == b"boom":
            raise ValueError("app bug inside callback")

    cli = Client(CallbackAPIVersion.VERSION2, client_id="cb-exc", protocol=MQTTv5)
    cli.on_message = on_message
    cli.connect("127.0.0.1", port)
    cli.loop_start()
    deadline = time.time() + 8
    while b"after" not in got and time.time() < deadline:
        time.sleep(0.05)
    try:
        assert got == [b"boom", b"after"], got
        assert len(accepted) == 1, (
            "callback exception must not tear the connection down "
            f"(saw {len(accepted)} connects)"
        )
    finally:
        cli.loop_stop()
        stop.set()
        srv.close()
        for c in accepted:
            try:
                c.close()
            except OSError:
                pass


def test_connect_then_garbage_is_backoff_paced():
    """A peer that accepts TCP and immediately sends a malformed frame
    must be retried with exponential backoff, not a tight connect/teardown
    spin: pacing resets only after a cleanly-parsed packet, and the
    read-path teardown sleeps with the same escalating delay as the
    connect path."""
    import socket
    import threading
    import time

    from flink_emqx_connector_spark.sources.mqtt_wire import (
        CallbackAPIVersion,
        Client,
        MQTTv5,
    )

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(64)
    port = srv.getsockname()[1]
    accepted = []
    stop = threading.Event()

    def hostile_broker():
        while not stop.is_set():
            try:
                conn, _ = srv.accept()
            except OSError:
                return
            accepted.append(conn)
            try:
                conn.recv(512)  # CONNECT — answer with garbage, never CONNACK
                conn.sendall(bytes([0x30]) + b"\xff\xff\xff\xff\xff")
            except OSError:
                pass

    th = threading.Thread(target=hostile_broker, daemon=True)
    th.start()
    cli = Client(CallbackAPIVersion.VERSION2, client_id="spin-cli", protocol=MQTTv5)
    cli.connect("127.0.0.1", port)
    cli.loop_start()
    time.sleep(1.5)
    try:
        # backoff: 0.05+0.1+0.2+0.4+0.8 > 1.5 s → at most ~6-7 connects
        # (plus scheduling slack); an unpaced spin makes hundreds.
        assert len(accepted) <= 10, (
            f"{len(accepted)} connects in 1.5 s — reconnect spin not paced"
        )
    finally:
        cli.loop_stop()
        stop.set()
        srv.close()
        for c in accepted:
            try:
                c.close()
            except OSError:
                pass


def test_bridge_reconnect_replays_backlog_as_one_prefix_aligned_block(tmp_path):
    """Duplicate STRUCTURE, not just a count bound (VERDICT r5 item 6): a
    mid-stream connection cut with lost acks must yield EXACTLY ONE
    contiguous replay of the un-acked backlog, in original order —
    discriminating a clean backlog-redelivery cycle from scattered
    duplication (which a raw ≤2N bound would wave through).

    Deterministic construction: the bridge's acks are dropped after the
    first K messages (simulated PUBACK loss), so the broker's un-acked
    backlog is exactly messages K..N-1; a hard socket kill then forces a
    session-resume redelivery."""
    import threading

    from flink_emqx_connector_spark.sources.bridge import MqttSpoolBridge
    from flink_emqx_connector_spark.sources.mqtt_wire import _hard_close
    from flink_emqx_connector_spark.sources.transport import SpoolTransport

    broker = EmbeddedBroker().start()
    spool = str(tmp_path / "spool")
    bridge = MqttSpoolBridge(
        "127.0.0.1", broker.port, "t/#", group="", clientid="pa-cut",
        spool_dir=spool, qos=1, members=1,
    )
    try:
        cli = bridge._clients[0]
        cid = "pa-cut-bridge-0"
        assert _wait(lambda: broker.sessions.get(cid) and broker.sessions[cid].subs)

        n, k = 40, 25
        acked = [0]
        orig_ack = cli.ack
        lock = threading.Lock()

        def dropping_ack(msg):
            with lock:
                acked[0] += 1
                if acked[0] <= k:
                    return orig_ack(msg)
                return None  # PUBACK lost from here on

        cli.ack = dropping_ack
        pub = _publisher(broker.port)
        last = None
        for i in range(n):
            last = pub.publish("t/1", b"p%03d" % i, qos=1)
        last.wait_for_publish()
        st = SpoolTransport(spool)
        assert _wait(lambda: st.latest_seq() == n)          # all appended once
        assert _wait(lambda: broker.session_backlog(cid) == n - k)

        cli.ack = orig_ack  # acks flow again on the next incarnation
        with broker._lock:
            conn = broker.sessions[cid].conn
        _hard_close(conn.sock)  # network cut, no DISCONNECT

        # reconnect → session resume → the broker replays its backlog;
        # every replayed message is appended (duplicate) and now acked
        assert _wait(lambda: st.latest_seq() == n + (n - k), timeout=30)
        assert _wait(lambda: broker.session_backlog(cid) == 0)
        time.sleep(0.5)  # any scattered extras would land here
        payloads = st.read_range_columns(0, 10 * n, 0, 1)["payload"]
        expect = [b"p%03d" % i for i in range(n)] + [
            b"p%03d" % i for i in range(k, n)
        ]
        # ONE prefix-aligned contiguous replay, original order, nothing else
        assert payloads == expect, payloads
    finally:
        bridge.stop()
        broker.stop()


def test_bridge_watchdog_respawns_dead_member():
    """Dynamic member supervision (the rebalancing leg both the reference
    and the pre-round-8 engine lacked — EMQXSplitEnumerator.java:37-47
    stubs): when a member's loop thread dies WITHOUT takeover, the
    watchdog respawns it under the SAME clientid with clean_start=False,
    so broker session resume redelivers everything published while the
    member was down — nothing lost."""
    from flink_emqx_connector_spark.sources.bridge import MqttSpoolBridge
    from flink_emqx_connector_spark.sources.transport import SpoolTransport

    broker = EmbeddedBroker().start()
    import tempfile

    spool = tempfile.mkdtemp(prefix="wdspool-")
    bridge = MqttSpoolBridge(
        "127.0.0.1", broker.port, "t/#", group="", clientid="wd",
        spool_dir=spool, qos=1, members=1,
    )
    bridge.WATCHDOG_INTERVAL = 0.3
    try:
        cid = "wd-bridge-0"
        assert _wait(lambda: broker.sessions.get(cid) and broker.sessions[cid].subs)
        pub = _publisher(broker.port)
        pub.publish("t/1", b"before", qos=1).wait_for_publish()
        st = SpoolTransport(spool)
        assert _wait(lambda: st.latest_seq() == 1)

        # simulated member-loop death (NOT a takeover): loop exits,
        # socket closes, session + subscription survive at the broker
        victim = bridge._clients[0]
        victim._running = False
        victim._close_sock()
        assert _wait(lambda: not victim._thread.is_alive())

        # published while the member is dead → queued in the session
        for i in range(5):
            pub.publish("t/1", b"down%d" % i, qos=1)

        # generous timeouts: under a full-suite run 32 Spark executor
        # threads can starve the 0.3 s watchdog/broker threads for
        # seconds at a time (observed as a rare suite-only flake)
        assert _wait(lambda: bridge.respawns >= 1, timeout=30), "no respawn"
        # session resume redelivers the queued 5; nothing lost
        assert _wait(lambda: st.latest_seq() >= 6, timeout=30), st.latest_seq()
        assert bridge._clients[0] is not victim
        pub.publish("t/1", b"after", qos=1).wait_for_publish()
        assert _wait(lambda: st.latest_seq() >= 7, timeout=30)
        time.sleep(0.3)  # any extra redelivery lands here
        # Flake policy (round-5, same as the prefix-aligned-replay test):
        # QoS 1 is at-least-once — when full-suite host stall delays an
        # ack past the respawned member's next resume cycle, the broker
        # legitimately redelivers and one extra spool row appears
        # (observed once in ~8 rounds of suite runs). The contract is
        # COVERAGE exact + duplicates bounded by ONE redelivery cycle,
        # never scattered: each payload 1-2 copies, nothing foreign.
        from collections import Counter

        copies = Counter(st.read_range_columns(0, 100, 0, 1)["payload"])
        expect = {b"before", b"after"} | {b"down%d" % i for i in range(5)}
        assert set(copies) == expect, copies
        assert all(1 <= c <= 2 for c in copies.values()), copies
        pub.disconnect()
    finally:
        bridge.stop()
        broker.stop()


def test_bridge_watchdog_cedes_after_session_takeover():
    """The counter-case: a member stopped by DISCONNECT 0x8E (session
    taken over — a NEW owner holds the clientid) must NOT be respawned;
    a respawn would take the session back and ping-pong (the round-2
    34x duplicate storm). The new owner keeps receiving."""
    from flink_emqx_connector_spark.sources.bridge import MqttSpoolBridge

    broker = EmbeddedBroker().start()
    import tempfile

    spool = tempfile.mkdtemp(prefix="wdspool2-")
    bridge = MqttSpoolBridge(
        "127.0.0.1", broker.port, "t/#", group="", clientid="tk",
        spool_dir=spool, qos=1, members=1,
    )
    bridge.WATCHDOG_INTERVAL = 0.3
    try:
        cid = "tk-bridge-0"
        assert _wait(lambda: broker.sessions.get(cid) and broker.sessions[cid].subs)
        old = bridge._clients[0]

        # a new owner claims the clientid → broker sends 0x8E to `old`
        got = []
        owner = Client(CallbackAPIVersion.VERSION2, client_id=cid, protocol=MQTTv5)
        owner.on_connect = lambda c, u, f, r, p=None: c.subscribe("t/#", qos=1)
        owner.on_message = lambda c, u, m: got.append(bytes(m.payload))
        owner.connect("127.0.0.1", broker.port, clean_start=False)
        owner.loop_start()

        assert _wait(lambda: getattr(old, "superseded", False), timeout=10)
        # outlast BOTH the watchdog (0.3 s) and paho's reconnect
        # min_delay (1 s): without the on_disconnect client.disconnect()
        # the auto-reconnect loop would retake the session here with the
        # same clientid + clean_start=False and ping-pong with the owner
        time.sleep(2.5)
        assert bridge.respawns == 0, "watchdog respawned a superseded member"
        assert bridge._clients[0] is old
        assert not old.is_connected(), "superseded member reconnected"

        pub = _publisher(broker.port)
        pub.publish("t/1", b"to-owner", qos=1).wait_for_publish()
        assert _wait(lambda: got == [b"to-owner"], timeout=10), got
        # no late retake: the owner keeps the session past another
        # reconnect-delay window, with no duplicate delivery
        time.sleep(1.5)
        assert got == [b"to-owner"], got
        assert not old.is_connected(), "superseded member reconnected late"
        pub.disconnect()
        owner.loop_stop()
    finally:
        bridge.stop()
        broker.stop()


def test_shared_group_redispatch_on_member_death(broker):
    """Scale-out work reassignment (the 'dead partition' question): when a
    $share group member crashes holding un-acked deliveries, the broker
    re-dispatches its backlog to LIVE members of the group (EMQX shared-
    subscription behavior) instead of stranding it until the same
    clientid resumes. Survivors end up holding ALL published payloads;
    the dead session keeps nothing."""
    ts = [_transport(broker.port, f"c-rd-{i}", group="grd") for i in range(3)]
    assert _wait(
        lambda: all(
            broker.sessions.get(f"c-rd-{i}") and broker.sessions[f"c-rd-{i}"].subs
            for i in range(3)
        )
    )
    pub = _publisher(broker.port)
    payloads = [str(i).encode() for i in range(9)]
    for p in payloads:
        pub.publish("t/1", p, qos=1).wait_for_publish()
    assert _wait(lambda: sum(t.queue.qsize() for t in ts) == 9)
    # nobody acks; member 0 crashes abruptly (no DISCONNECT packet)
    dead_share = ts[0].queue.qsize()
    assert dead_share > 0  # round-robin guarantees it got some
    ts[0].client.loop_stop()
    assert _wait(lambda: broker.sessions["c-rd-0"].conn is None)
    # the dead member's backlog moved to the live members...
    assert _wait(lambda: broker.session_backlog("c-rd-0") == 0)
    # ...and every published payload is now held by a SURVIVOR (their own
    # un-acked deliveries plus the re-dispatched share, DUP-flagged)
    def survivor_payloads():
        got = []
        for t in ts[1:]:
            # queue items are (seq, arrival_ts, paho message)
            got += [item[2].payload for item in list(t.queue.queue)]
            for batch in t.pending.values():
                got += [m.payload for m in batch]
        return got

    assert _wait(lambda: sorted(survivor_payloads()) == sorted(payloads))
    for t in ts[1:]:
        t.client.disconnect()
    pub.disconnect()


def test_unsubscribe_stops_delivery(broker):
    """UNSUBSCRIBE over real sockets: delivery stops, the broker answers
    0x00 for the removed filter and 0x11 for a filter that never
    existed, and the connection stays fully usable (a re-subscribe
    receives again)."""
    got = []
    unsubs = []
    sub = Client(CallbackAPIVersion.VERSION2, client_id="unsub-e2e", protocol=MQTTv5)
    sub.on_connect = lambda c, u, f, r, p=None: c.subscribe("t/u/#", qos=1)
    sub.on_message = lambda c, u, m: got.append(bytes(m.payload))
    sub.on_unsubscribe = lambda c, u, mid, codes, p=None: unsubs.append(codes)
    sub.connect("127.0.0.1", broker.port)
    sub.loop_start()
    assert _wait(lambda: broker.sessions.get("unsub-e2e") and broker.sessions["unsub-e2e"].subs)

    pub = _publisher(broker.port)
    pub.publish("t/u/1", b"before", qos=1).wait_for_publish()
    assert _wait(lambda: got == [b"before"])

    sub.unsubscribe("t/u/#")
    assert _wait(lambda: unsubs == [(0x00,)]), unsubs
    assert broker.sessions["unsub-e2e"].subs == {}
    pub.publish("t/u/2", b"after", qos=1).wait_for_publish()
    time.sleep(0.3)
    assert got == [b"before"], got  # nothing delivered post-unsubscribe

    sub.unsubscribe("t/u/#")  # second time: no subscription existed
    assert _wait(lambda: unsubs == [(0x00,), (0x11,)]), unsubs

    sub.subscribe("t/u/#", qos=1)  # connection still healthy
    assert _wait(lambda: broker.sessions["unsub-e2e"].subs)
    pub.publish("t/u/3", b"again", qos=1).wait_for_publish()
    assert _wait(lambda: got == [b"before", b"again"]), got
    sub.disconnect()
    pub.disconnect()


def test_shared_group_graceful_scale_in_no_loss(broker):
    """Graceful scale-in of a shared-subscription group (round-10): a
    member UNSUBSCRIBEs its $share filter, drains part of its un-acked
    backlog, and disconnects cleanly — everything it never acked must
    re-dispatch to the remaining live member (real EMQX redistributes a
    departing shared subscriber's un-acked work). Before this round the
    detach re-dispatch consulted subs — already missing the filter — so
    the departing member's backlog stranded forever."""
    import threading as _t

    got_a, got_b = [], []
    lock = _t.Lock()

    def on_msg(sink):
        def cb(c, u, m):
            with lock:
                sink.append(m)
        return cb

    a = Client(CallbackAPIVersion.VERSION2, client_id="scalein-a",
               protocol=MQTTv5, manual_ack=True)
    a.on_connect = lambda c, u, f, r, p=None: c.subscribe("$share/g/t/s/#", qos=1)
    a.on_message = on_msg(got_a)
    a.connect("127.0.0.1", broker.port)
    a.loop_start()
    b = Client(CallbackAPIVersion.VERSION2, client_id="scalein-b",
               protocol=MQTTv5, manual_ack=True)
    b.on_connect = lambda c, u, f, r, p=None: c.subscribe("$share/g/t/s/#", qos=1)
    b.on_message = on_msg(got_b)
    b.connect("127.0.0.1", broker.port)
    b.loop_start()
    assert _wait(lambda: broker.sessions.get("scalein-a", None)
                 and broker.sessions["scalein-a"].subs
                 and broker.sessions.get("scalein-b", None)
                 and broker.sessions["scalein-b"].subs)

    pub = _publisher(broker.port)
    for i in range(20):
        pub.publish("t/s/1", b"m%02d" % i, qos=1).wait_for_publish()
    assert _wait(lambda: len(got_a) + len(got_b) == 20), (len(got_a), len(got_b))
    assert got_a and got_b, "round-robin should hit both members"

    # A drains (acks) HALF its messages, unsubscribes, disconnects.
    with lock:
        drained = got_a[: len(got_a) // 2]
        leftover = {bytes(m.payload) for m in got_a[len(got_a) // 2:]}
    for m in drained:
        a.ack(m)
    a.unsubscribe("$share/g/t/s/#")
    assert _wait(lambda: broker.sessions["scalein-a"].subs == {}), "unsubscribe"
    a.disconnect()

    # everything A never acked must arrive at B (DUP redelivery)
    def b_has_leftovers():
        with lock:
            return leftover <= {bytes(m.payload) for m in got_b}
    assert _wait(b_has_leftovers, timeout=10), (
        sorted(leftover), sorted(bytes(m.payload) for m in got_b))
    # B acks everything → no stranded backlog anywhere
    with lock:
        for m in got_b:
            b.ack(m)
    assert _wait(lambda: broker.session_backlog("scalein-b") == 0)
    assert broker.session_backlog("scalein-a") == 0, "backlog stranded on departed member"
    b.disconnect()
    pub.disconnect()


def test_bridge_scale_in_and_out_no_loss(tmp_path):
    """Bridge dynamic resize (round-10 scale_to): start a 3-member shared
    group, pump, scale IN to 1 mid-stream (unsubscribe → drain →
    disconnect; the broker re-dispatches whatever the departing members
    never acked), keep pumping, scale back OUT to 2 and pump again.
    Every published payload must appear in the spool at least once
    (at-least-once contract; downstream exactly-once is the spool
    consumer's WAL) and no backlog may strand on any retired clientid."""
    from flink_emqx_connector_spark.sources.bridge import MqttSpoolBridge
    from flink_emqx_connector_spark.sources.transport import SpoolTransport

    broker = EmbeddedBroker().start()
    spool = str(tmp_path / "spool")
    bridge = MqttSpoolBridge(
        "127.0.0.1", broker.port, "t/sc/#", group="g", clientid="sc",
        spool_dir=spool, qos=1, members=3,
    )
    try:
        cids = [f"sc-bridge-{i}" for i in range(3)]
        assert _wait(lambda: all(
            broker.sessions.get(c) and broker.sessions[c].subs for c in cids
        ))
        pub = _publisher(broker.port)
        sent = []

        def pump(tag, n):
            last = None
            for i in range(n):
                p = b"%s-%03d" % (tag.encode(), i)
                sent.append(p)
                last = pub.publish("t/sc/1", p, qos=1)
            last.wait_for_publish()

        st = SpoolTransport(spool)
        pump("a", 30)
        assert _wait(lambda: st.latest_seq() >= 30)

        bridge.scale_to(1, drain_s=0.5)
        assert len(bridge._clients) == 1
        # retired members: subscription gone, nothing stranded
        for c in cids[1:]:
            assert broker.sessions[c].subs == {}, c
            assert broker.session_backlog(c) == 0, c

        pump("b", 30)
        assert _wait(lambda: st.latest_seq() >= 60)

        bridge.scale_to(2)
        assert len(bridge._clients) == 2
        assert _wait(lambda: broker.sessions.get("sc-bridge-1")
                     and broker.sessions["sc-bridge-1"].subs)
        pump("c", 30)

        def all_present():
            got = set(st.read_range_columns(0, 10_000, 0, 1)["payload"])
            return set(sent) <= got
        assert _wait(all_present, timeout=15), "lost messages across resize"
        # spool durability precedes the ack: the final PUBACK can still be
        # in flight on the socket when all_present turns true — wait for
        # the broker to drain it rather than racing it (observed ~1/10
        # runs under host load)
        assert _wait(
            lambda: all(broker.session_backlog(c) == 0 for c in cids)
        ), [(c, broker.session_backlog(c)) for c in cids]
        pub.disconnect()
    finally:
        bridge.stop()
        broker.stop()


def test_broker_disconnects_silent_client_after_keepalive():
    """Broker half of MQTT-3.1.2-22 (round-10): a client that declares
    keepalive=1 and then goes silent is detached after ~1.5x keepalive —
    the real-EMQX behavior the old 'never times out' double hid. A
    session-present queue survives for resume (normal detach path)."""
    import struct as _struct

    from flink_emqx_connector_spark.sources.mqtt_wire import (
        connect_packet,
        read_packet,
    )

    broker = EmbeddedBroker().start()
    try:
        s = socket.create_connection(("127.0.0.1", broker.port), timeout=5)
        s.sendall(connect_packet("silent-c", False, 1, 60))
        ptype, _f, _b = read_packet(s)
        assert ptype == 2  # CONNACK
        assert _wait(lambda: broker.sessions.get("silent-c") is not None)
        # stay silent: no PINGREQ, no traffic — the broker must close
        # within ~1.5 s (+ scheduling slack)
        assert _wait(
            lambda: broker.sessions["silent-c"].conn is None, timeout=6
        ), "broker kept a silent keepalive=1 client alive"
        # the socket is really dead from the client's side too
        s.settimeout(2)
        try:
            data = s.recv(1)
            assert data == b"", data  # FIN
        except (TimeoutError, socket.timeout):
            raise AssertionError("no FIN from broker after keepalive timeout")
        s.close()
    finally:
        broker.stop()
