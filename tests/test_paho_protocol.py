"""PahoTransport protocol tests against an in-process fake MQTT client.

paho-mqtt isn't installed in this container, so the real-broker path is
exercised by faking the paho module surface the transport touches: shared
subscription + manual-ack subscribe (ST1/ST4), callback→queue→drain
handoff (ST7), retry-of-same-batch redelivery, checkpoint-subsuming acks
(ST2-ST3, EMQXSourceReader.java:182-202), and broker-offline-at-start
tolerance (ST6)."""

import sys
import types

import pytest


class FakeMsg:
    def __init__(self, topic, payload, qos=1, retain=False):
        self.topic = topic
        self.payload = payload
        self.qos = qos
        self.retain = retain
        self.properties = None


class FakeClient:
    offline = False

    def __init__(self, api_version=None, client_id="", protocol=None, manual_ack=False):
        self.client_id = client_id
        self.manual_ack = manual_ack
        self.subscribed = []
        self.acked = []
        self.on_connect = None
        self.on_message = None
        self.async_pending = False

    def reconnect_delay_set(self, min_delay=1, max_delay=10):
        pass

    def connect(self, host, port, clean_start=True, properties=None, keepalive=60):
        if FakeClient.offline:
            raise OSError("connection refused")

    def connect_async(self, *a, **k):
        self.async_pending = True

    def loop_start(self):
        if not FakeClient.offline and self.on_connect is not None:
            flags = types.SimpleNamespace(session_present=False)
            self.on_connect(self, None, flags, 0, None)

    def subscribe(self, topic, qos=0):
        self.subscribed.append((topic, qos))

    def ack(self, m):
        self.acked.append(m)


@pytest.fixture()
def fake_paho(monkeypatch):
    mqtt = types.ModuleType("paho.mqtt.client")
    mqtt.Client = FakeClient
    mqtt.CallbackAPIVersion = types.SimpleNamespace(VERSION2=2)
    mqtt.MQTTv5 = 5
    pkt = types.ModuleType("paho.mqtt.packettypes")
    pkt.PacketTypes = types.SimpleNamespace(CONNECT=1)
    prop = types.ModuleType("paho.mqtt.properties")

    class Properties:
        def __init__(self, _t):
            pass

    prop.Properties = Properties
    paho = types.ModuleType("paho")
    paho_mqtt = types.ModuleType("paho.mqtt")
    monkeypatch.setitem(sys.modules, "paho", paho)
    monkeypatch.setitem(sys.modules, "paho.mqtt", paho_mqtt)
    monkeypatch.setitem(sys.modules, "paho.mqtt.client", mqtt)
    monkeypatch.setitem(sys.modules, "paho.mqtt.packettypes", pkt)
    monkeypatch.setitem(sys.modules, "paho.mqtt.properties", prop)
    FakeClient.offline = False
    yield mqtt


def _transport(group="g1", clientid="c-0"):
    from flink_emqx_connector_spark.sources.transport import PahoTransport

    return PahoTransport("localhost", 1883, clientid, "t/#", 1, group)


def test_shared_subscription_on_fresh_session(fake_paho):
    t = _transport()
    assert t.client.subscribed == [("$share/g1/t/#", 1)]


def test_drain_retry_and_subsuming_acks(fake_paho):
    t = _transport()
    for i in range(5):
        t.client.on_message(t.client, None, FakeMsg("t/1", str(i).encode()))

    b1 = t.drain(1, max_records=3, timeout_s=0.05)
    assert b1["payload"] == [b"0", b"1", b"2"]
    assert b1["seq"] == [0, 1, 2]
    # a retried task of the same batch re-reads the SAME buffered messages
    again = t.drain(1, max_records=3, timeout_s=0.05)
    assert again == b1

    b2 = t.drain(2, max_records=10, timeout_s=0.05)
    assert b2["payload"] == [b"3", b"4"]
    assert b2["seq"] == [3, 4]
    assert t.client.acked == []  # nothing acked before commit

    # committing batch 2 acks batch 1 too (subsume previous checkpoints)
    t.ack_upto(2)
    assert [bytes(m.payload) for m in t.client.acked] == [
        b"0", b"1", b"2", b"3", b"4"
    ]
    assert t.pending == {}
    # idempotent
    t.ack_upto(2)
    assert len(t.client.acked) == 5


def test_drain_columns_keep_user_property_order(fake_paho):
    """drain hands the reader the spool's column dict: user properties as
    ordered pairs, duplicate keys kept in wire order. The shared Arrow
    conversion keeps them in list mode and collapses them last-wins in map
    mode."""
    from flink_emqx_connector_spark.sources.emqx import columns_to_record_batches
    from flink_emqx_connector_spark.sources.transport import COLUMNS

    t = _transport()
    m = FakeMsg("t/1", b"dup")
    wire = [("k", "v1"), ("k", "v2"), ("trace", "t9")]
    m.properties = types.SimpleNamespace(UserProperty=wire)
    t.client.on_message(t.client, None, m)
    t.client.on_message(t.client, None, FakeMsg("t/1", b"plain"))
    cols = t.drain(1, max_records=10, timeout_s=0.05)
    assert tuple(cols) == COLUMNS
    assert cols["properties"] == [wire, []]
    (listed,) = columns_to_record_batches(cols, props_mode="list")
    assert listed.column("properties_list").to_pylist() == [
        [{"key": k, "value": v} for k, v in wire],
        [],
    ]
    (mapped,) = columns_to_record_batches(cols)
    assert mapped.column("properties").to_pylist() == [
        [("k", "v2"), ("trace", "t9")],
        [],
    ]


def test_broker_offline_at_start_tolerated(fake_paho):
    FakeClient.offline = True
    t = _transport(clientid="c-off")  # must not raise (ST6)
    assert t.client.async_pending
    assert t.drain(1, max_records=10, timeout_s=0.01)["payload"] == []


def test_bounded_inflight_queue_drops_to_redelivery(fake_paho, monkeypatch):
    """ST7 hardening over the reference: its ConcurrentLinkedQueue is
    unbounded (EMQXSourceReader.java:37) — a fast publisher against a
    stalled reader grows memory without bound. Our queue is bounded: with
    the reader stalled, overflow messages are dropped UNACKED, memory
    stays at maxsize, and because un-acked QoS1 messages are redelivered
    on session resume (EMQXSourceIntegrationTest.java:221-301 semantics)
    every message is still delivered after the reader resumes."""
    from flink_emqx_connector_spark.sources.transport import PahoTransport

    monkeypatch.setattr(PahoTransport, "BLOCK_TIMEOUT", 0.01)
    t = PahoTransport("localhost", 1883, "c-bounded", "t/#", 1, "g1",
                      max_inflight=8)
    # stalled reader: publish 100 >> maxsize=8
    for i in range(100):
        t.client.on_message(t.client, None, FakeMsg("t/1", b"m%03d" % i))
    assert t.queue.qsize() == 8  # memory flat at the bound
    assert t.dropped == 92

    delivered = set(t.drain(1, max_records=50, timeout_s=0.05)["payload"])
    assert delivered == {b"m%03d" % i for i in range(8)}
    t.ack_upto(1)

    # broker redelivers everything not acked (manual-ack + session resume)
    acked = {bytes(m.payload) for m in t.client.acked}
    batch = 2
    while len(delivered) < 100:
        for i in range(100):
            payload = b"m%03d" % i
            if payload not in acked:
                t.client.on_message(t.client, None, FakeMsg("t/1", payload))
        assert t.queue.qsize() <= 8
        delivered |= set(t.drain(batch, 50, 0.05)["payload"])
        t.ack_upto(batch)
        acked = {bytes(m.payload) for m in t.client.acked}
        batch += 1
    assert delivered == {b"m%03d" % i for i in range(100)}


def test_bounded_queue_backpressure_no_drops_with_live_reader(fake_paho):
    """When the reader keeps draining, a full queue BLOCKS the (network
    loop) publisher thread instead of dropping — everything arrives in
    order with zero drops."""
    import threading

    from flink_emqx_connector_spark.sources.transport import PahoTransport

    t = PahoTransport("localhost", 1883, "c-bp", "t/#", 1, "g1",
                      max_inflight=4)

    def feed():
        for i in range(40):
            t.client.on_message(t.client, None, FakeMsg("t/1", b"p%02d" % i))

    feeder = threading.Thread(target=feed)
    feeder.start()
    got = []
    deadline = 40
    while len(got) < 40 and deadline > 0:
        bid = len(got)
        got.extend(t.drain(bid, max_records=4, timeout_s=0.2)["payload"])
        t.ack_upto(bid)
        deadline -= 1
    feeder.join(timeout=10)
    assert not feeder.is_alive()
    assert t.dropped == 0
    assert got == [b"p%02d" % i for i in range(40)]


def test_session_expiry_option_reaches_connect():
    """The `session_expiry` source option must land in the CONNECT
    properties (the reference hard-codes 60 s behind a TODO —
    EMQXSourceReader.java:96,100; here it is configurable)."""
    from flink_emqx_connector_spark.sources.transport import PahoTransport

    t = PahoTransport("localhost", 1883, "expiry-test", "t/#", 1, "g",
                      session_expiry=77)
    assert t.session_expiry == 77
    # the wire client stores the CONNECT session-expiry it will send
    assert t.client._session_expiry == 77


def test_reader_options_reach_transport(fake_paho):
    """max_inflight and properties_mode source options must plumb from the
    DataSource options dict through the stream reader to the transport /
    batch builders."""
    from flink_emqx_connector_spark.schema import (
        EMQX_MESSAGE_SCHEMA,
        EMQX_MESSAGE_SCHEMA_ORDERED_PROPS,
    )
    from flink_emqx_connector_spark.sources.emqx import (
        EMQXDataSource,
        EMQXStreamReader,
    )

    r = EMQXStreamReader(
        EMQX_MESSAGE_SCHEMA,
        {"transport": "paho", "max_inflight": "123", "properties_mode": "list",
         "clientid": "opt-test"},
    )
    assert r.max_inflight == 123
    assert r.props_mode == "list"

    ds = EMQXDataSource(options={"properties_mode": "list"})
    assert ds.schema() == EMQX_MESSAGE_SCHEMA_ORDERED_PROPS
    ds2 = EMQXDataSource(options={})
    assert ds2.schema() == EMQX_MESSAGE_SCHEMA

    import pytest as _pytest

    with _pytest.raises(ValueError):
        EMQXStreamReader(
            EMQX_MESSAGE_SCHEMA, {"transport": "paho", "properties_mode": "bogus"}
        )

