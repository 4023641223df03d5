"""Round trip: batch publish via the MQTT sink → consume via the EMQX
source — the loop the reference never closed (it has no production sink,
SURVEY.md §2.1 S10-S11)."""

import uuid

from pyspark.sql import functions as F

from flink_emqx_connector_spark.sinks import publish_dataframe
from flink_emqx_connector_spark.sources import register_emqx_source


def test_streaming_pipe_through_mqtt_sink(spark, tmp_path):
    """Full streaming pipe: consume spool A → transform → foreachBatch
    publish to spool B → consume spool B. The streaming write path the
    reference never had."""
    import time

    from flink_emqx_connector_spark.sinks import foreach_batch_publisher
    from flink_emqx_connector_spark.sources.transport import SpoolPublisher

    spool_a = str(tmp_path / "a")
    spool_b = str(tmp_path / "b")
    pub = SpoolPublisher(spool_a)
    for i in range(6):
        pub.publish("in/t", str(i).encode(), qos=1)

    register_emqx_source(spark)
    upstream = (
        spark.readStream.format("emqx")
        .option("transport", "spool")
        .option("spool_dir", spool_a)
        .option("partitions", "2")
        .load()
        .select(
            F.concat(F.lit("doubled/"), F.col("payload").cast("string")).alias("topic"),
            F.encode(
                (F.col("payload").cast("string").cast("int") * 2).cast("string"),
                "UTF-8",
            ).alias("payload"),
        )
    )
    q = (
        upstream.writeStream.foreachBatch(
            foreach_batch_publisher(transport="spool", spool_dir=spool_b, qos=1)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt_pipe"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)

    name = f"pipe_{uuid.uuid4().hex[:8]}"
    q2 = (
        spark.readStream.format("emqx")
        .option("transport", "spool")
        .option("spool_dir", spool_b)
        .option("partitions", "2")
        .load()
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(60)
    rows = spark.sql(f"SELECT topic, payload FROM {name}").collect()
    assert sorted((r.topic, bytes(r.payload)) for r in rows) == [
        (f"doubled/{i}", str(i * 2).encode()) for i in range(6)
    ]


def test_publish_then_consume(spark, tmp_path):
    spool = str(tmp_path / "spool")
    out = spark.range(5).select(
        F.concat(F.lit("out/"), F.col("id").cast("string")).alias("topic"),
        F.encode(F.col("id").cast("string"), "UTF-8").alias("payload"),
    )
    publish_dataframe(out, transport="spool", spool_dir=spool, qos=1)

    register_emqx_source(spark)
    name = f"rt_{uuid.uuid4().hex[:8]}"
    df = (
        spark.readStream.format("emqx")
        .option("transport", "spool")
        .option("spool_dir", spool)
        .option("partitions", "2")
        .load()
    )
    q = (
        df.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    rows = spark.sql(f"SELECT topic, payload FROM {name}").collect()
    assert sorted((r.topic, bytes(r.payload)) for r in rows) == [
        (f"out/{i}", str(i).encode()) for i in range(5)
    ]


def test_stream_writer_format_emqx_spool(spark, tmp_path):
    """writeStream.format("emqx"): the structured DataSourceStreamWriter
    twin of foreachBatch — spool A → transform → spool B round trip."""
    from flink_emqx_connector_spark.sources.transport import (
        SpoolPublisher,
        SpoolTransport,
    )

    spool_a = str(tmp_path / "a")
    spool_b = str(tmp_path / "b")
    pub = SpoolPublisher(spool_a)
    for i in range(6):
        pub.publish("in/t", str(i).encode(), qos=1)
    pub.close()

    register_emqx_source(spark)
    q = (
        spark.readStream.format("emqx")
        .option("transport", "spool")
        .option("spool_dir", spool_a)
        .option("partitions", "2")
        .load()
        .select(
            F.concat(F.lit("out/"), F.col("payload").cast("string")).alias("topic"),
            F.col("payload"),
        )
        .writeStream.format("emqx")
        .option("transport", "spool")
        .option("spool_dir", spool_b)
        .option("qos", "1")
        .option("checkpointLocation", str(tmp_path / "ckpt_sw"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)

    t = SpoolTransport(spool_b)
    cols = t.read_range_columns(0, t.latest_seq(), 0, 1)
    assert sorted(zip(cols["topic"], cols["payload"])) == [
        (f"out/{i}", str(i).encode()) for i in range(6)
    ]


def test_stream_writer_format_emqx_broker(spark, tmp_path):
    """writeStream.format("emqx") on the mqtt path: executor stream
    writers publish real MQTT 5 packets to the embedded broker."""
    import time

    from flink_emqx_connector_spark.sources.mqtt_wire import (
        CallbackAPIVersion,
        Client,
        EmbeddedBroker,
        MQTTv5,
    )
    from flink_emqx_connector_spark.sources.transport import SpoolPublisher

    broker = EmbeddedBroker().start()
    got = []
    sub = Client(CallbackAPIVersion.VERSION2, client_id="sw-sub", protocol=MQTTv5)
    sub.on_connect = lambda c, u, f, r, p=None: c.subscribe("out/#", qos=1)
    sub.on_message = lambda c, u, m: got.append((m.topic, bytes(m.payload)))
    sub.connect("127.0.0.1", broker.port)
    sub.loop_start()
    deadline = time.time() + 10
    while time.time() < deadline and not broker.sessions.get("sw-sub"):
        time.sleep(0.05)

    spool_a = str(tmp_path / "a")
    pub = SpoolPublisher(spool_a)
    for i in range(4):
        pub.publish("in/t", str(i).encode(), qos=1)
    pub.close()

    register_emqx_source(spark)
    q = (
        spark.readStream.format("emqx")
        .option("transport", "spool")
        .option("spool_dir", spool_a)
        .option("partitions", "2")
        .load()
        .select(
            F.concat(F.lit("out/"), F.col("payload").cast("string")).alias("topic"),
            F.col("payload"),
        )
        .writeStream.format("emqx")
        .option("transport", "paho")
        .option("host", "127.0.0.1")
        .option("port", str(broker.port))
        .option("qos", "1")
        .option("checkpointLocation", str(tmp_path / "ckpt_swb"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    deadline = time.time() + 15
    while time.time() < deadline and len(got) < 4:
        time.sleep(0.1)
    assert sorted(got) == [(f"out/{i}", str(i).encode()) for i in range(4)], got
    sub.disconnect()
    broker.stop()


def test_idempotent_sink_skips_replayed_batch(spark, tmp_path):
    """Replaying a committed micro-batch (same batch_id, as Structured
    Streaming does after a failure between sink write and checkpoint
    commit) publishes nothing new; a NEW batch_id still publishes."""
    from flink_emqx_connector_spark.sinks.emqx import (
        idempotent_foreach_batch_publisher,
    )
    from flink_emqx_connector_spark.sources.transport import SpoolTransport

    spool = str(tmp_path / "spool")
    out = spark.range(3).select(
        F.lit("t/1").alias("topic"),
        F.encode(F.col("id").cast("string"), "UTF-8").alias("payload"),
    )
    sink = idempotent_foreach_batch_publisher(spool, qos=1)

    def count_msgs():
        t = SpoolTransport(spool)
        return len(
            t.read_range_columns(
                0, t.latest_seq(), partition_id=0, num_partitions=1
            )["seq"]
        )

    sink(out, batch_id=0)
    assert count_msgs() == 3
    sink(out, batch_id=0)  # replay: must be a no-op
    assert count_msgs() == 3
    sink(out, batch_id=1)  # new batch: publishes
    assert count_msgs() == 6
