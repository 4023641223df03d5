"""EMQX/MQTT Structured Streaming source — the Spark re-expression of the
reference connector (SURVEY.md §2.1 S1-S9, §2.3 ST1-ST9).

Mapping onto the reference:

- ``EMQXSource`` (factory, ``EMQXSource.java:33-105``) → ``EMQXDataSource``
  (a Python ``DataSource``); options replace constructor args, with the
  same qos validation.
- ``EMQXSplitEnumerator`` (one clientid per subtask,
  ``EMQXSplitEnumerator.java:50-55``) → ``partitions()``: N
  ``EMQXPartition``s, clientid = ``{base}-{i}`` (``EMQXSource.java:102-104``).
- ``EMQXSourceReader`` (``EMQXSourceReader.java:34-203``) → per-partition
  ``read()`` draining a transport; checkpoint-gated acks live in
  ``commit(offset)`` — Spark calls it after the micro-batch's offset is
  durably logged, the same point in the protocol as Flink's
  ``notifyCheckpointComplete`` (ST3).
- Delivery: at-least-once. Emission precedes ack, so duplicates are
  possible after a crash — identical to the reference (test
  ``EMQXSourceIntegrationTest.java:295-298``); pair with
  ``dropDuplicates`` on a message key for effective exactly-once.

Usage::

    from flink_emqx_connector_spark.sources import register_emqx_source
    register_emqx_source(spark)
    df = (spark.readStream.format("emqx")
          .option("transport", "spool").option("spool_dir", "/tmp/spool")
          .option("partitions", "3").load())

Transports:

- ``spool`` — segment-log directory (replayable; exactly-once via the
  offset WAL). The testable broker stand-in AND the handoff tier below.
- ``bridge`` — **the production MQTT path**: driver-side shared-
  subscription clients drain the broker into a spool (ack after durable
  append), executors read the spool. See ``sources/bridge.py`` for why
  executor-resident MQTT clients cannot survive Python-worker rotation.
- ``paho`` — executor-resident MQTT clients (reference-shaped, ST1-ST7
  protocol parity). Correct while each partition's tasks stay on one
  worker process; under worker rotation delivery degrades to duplicate
  storms (measured 34×) — prefer ``bridge`` for real workloads.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from ..schema import EMQX_MESSAGE_SCHEMA, EMQX_MESSAGE_SCHEMA_ORDERED_PROPS
from .transport import PahoTransport, SpoolTransport

#: Driver-side bridge registry (transport="bridge"): keyed off the reader,
#: never pickled to executors.
_BRIDGES: dict[str, object] = {}


@dataclass
class EMQXPartition(InputPartition):
    """One split = one client identity (reference ``EMQXSourceSplit.java:
    7-26`` — work assignment is 'which clientid', not an offset range)."""

    index: int
    num_partitions: int
    clientid: str
    start: int
    end: int


class EMQXStreamReader(DataSourceStreamReader):
    """Micro-batch reader over a transport.

    Offsets:
    - spool transport: ``{"seq": n}`` — a real replayable position (the
      spool is the broker's retained un-acked backlog).
    - paho transport: ``{"seq": batch_id}`` — MQTT has no seekable log, so
      the offset names a batch; redelivery on restart comes from the
      broker's persistent session + manual acks (exactly the reference's
      recovery model, ``EMQXSourceIntegrationTest.java:219-301``).
    """

    def __init__(self, schema: StructType, options: dict):
        self.options = options
        self.transport_kind = options.get("transport", "paho").lower()
        self.num_partitions = int(options.get("partitions", "1"))
        self.base_clientid = options.get("clientid", "emqx-spark")
        self.host = options.get("host", "127.0.0.1")
        self.port = int(options.get("port", "1883"))
        self.topic_filter = options.get("topic", "#")
        self.group = options.get("group", "spark")
        self.qos = int(options.get("qos", "1"))
        if not 0 <= self.qos <= 2:  # EMQXSource.java:47 validation parity
            raise ValueError(f"Invalid QoS: {self.qos}")
        self.max_per_batch = int(options.get("max_records_per_batch", "10000"))
        self.poll_timeout_s = float(options.get("poll_timeout_s", "0.2"))
        # reference hard-codes 60 s (EMQXSourceReader.java:96 TODO); here an option
        self.session_expiry = int(options.get("session_expiry", "300"))
        # bounded callback→drain queue; the reference's ConcurrentLinkedQueue
        # is unbounded (EMQXSourceReader.java:37) — see PahoTransport
        self.max_inflight = int(options.get("max_inflight", "100000"))
        # §4.12 enhanced authentication (source options): method name +
        # shared secret, forwarded to the transport's client. EMQX
        # deployments requiring SCRAM-class auth refuse plain CONNECTs
        # with CONNACK 0x8C — a permanent refusal the reader cedes on.
        self.auth_method = options.get("auth_method")
        self.auth_secret = options.get("auth_secret")
        # "map" (default, MAP<STRING,STRING>, duplicate keys last-win) or
        # "list" (ordered ARRAY<STRUCT<key,value>> — full Mqtt5UserProperties
        # fidelity, EMQXMessage.java:3,9)
        self.props_mode = options.get("properties_mode", "map").lower()
        if self.props_mode not in ("map", "list"):
            raise ValueError(f"unknown properties_mode: {self.props_mode}")
        self.spool_dir = options.get("spool_dir", "")
        if self.transport_kind in ("spool", "bridge"):
            if not self.spool_dir:
                raise ValueError(f"{self.transport_kind} transport requires spool_dir")
            self._spool = SpoolTransport(self.spool_dir)
            # Seed batch planning at the acked frontier so a restarted
            # reader ramps from the committed position, not seq 0.
            self._planned = self._spool.frontier()
            if self.transport_kind == "bridge":
                # Stable-process MQTT ingestion (see sources/bridge.py for
                # why executor-resident clients can't survive Python-worker
                # rotation): the bridge lives on the DRIVER for the life of
                # the query; executors only ever read the spool. Held in a
                # module registry — reader instances are pickled to
                # executors and threads/sockets must not travel.
                from .bridge import MqttSpoolBridge

                self._bridge_key = f"{self.spool_dir}|{self.base_clientid}"
                if self._bridge_key not in _BRIDGES:
                    _BRIDGES[self._bridge_key] = MqttSpoolBridge(
                        self.host,
                        self.port,
                        self.topic_filter,
                        self.group,
                        self.base_clientid,
                        self.spool_dir,
                        qos=self.qos,
                        members=int(options.get("bridge_members", "1")),
                    )
        elif self.transport_kind == "paho":
            self._spool = None
        else:
            raise ValueError(f"unknown transport: {self.transport_kind}")
        self._batch = 0

    # ---- driver side ------------------------------------------------------

    def initialOffset(self) -> dict:
        return {"seq": 0}

    def latestOffset(self) -> dict:
        if self._spool is not None:
            # Admission control (Kafka's maxOffsetsPerTrigger analogue):
            # after a restart with a deep un-acked backlog, cap each
            # micro-batch at max_records_per_batch × partitions instead of
            # swallowing the whole log in one giant batch — bounded batch
            # memory and steady checkpoint cadence at any backlog depth.
            head = self._spool.latest_seq()
            cap = self._planned + self.max_per_batch * self.num_partitions
            self._planned = min(head, max(cap, self._planned))
            return {"seq": self._planned}
        # paho: no driver-visible log — each latestOffset names the next
        # micro-batch; executors drain whatever arrived (ST7).
        self._batch += 1
        return {"seq": self._batch}

    def partitions(self, start: dict, end: dict):
        return [
            EMQXPartition(
                index=i,
                num_partitions=self.num_partitions,
                clientid=f"{self.base_clientid}-{i}",
                start=start["seq"],
                end=end["seq"],
            )
            for i in range(self.num_partitions)
        ]

    def commit(self, end: dict) -> None:
        """Micro-batch durably committed → ack everything below it (the
        reference's notifyCheckpointComplete, EMQXSourceReader.java:182-202).

        Spool: driver deletes acked files. Paho: executor-resident clients
        ack lazily on their next read() (see _ack_pending_paho) since the
        driver holds no broker connection.
        """
        if self._spool is not None:
            self._spool.ack_upto(end["seq"])
        else:
            self._committed = end["seq"]

    def stop(self) -> None:
        if self.transport_kind == "bridge":
            bridge = _BRIDGES.pop(getattr(self, "_bridge_key", ""), None)
            if bridge is not None:
                bridge.stop()

    # ---- executor side ----------------------------------------------------

    def read(self, partition: EMQXPartition):
        if self.transport_kind in ("spool", "bridge"):
            cols = SpoolTransport(self.spool_dir).read_range_columns(
                partition.start,
                partition.end,
                partition.index,
                partition.num_partitions,
            )
        else:
            t = PahoTransport.get(
                self.host,
                self.port,
                partition.clientid,
                self.topic_filter,
                self.qos,
                self.group,
                session_expiry=self.session_expiry,
                max_inflight=self.max_inflight,
                auth_method=self.auth_method,
                auth_secret=self.auth_secret,
            )
            # commit() ran on the driver; the executor learns the committed
            # frontier from the batch window start and acks below it (ST3).
            t.ack_upto(partition.start - 1)
            cols = t.drain(partition.end, self.max_per_batch, self.poll_timeout_s)
        # Arrow batches, not per-row tuples: the row path pickles one row at
        # a time (~5k rows/s); a RecordBatch crosses the Python→JVM boundary
        # vectorized (~10× source throughput).
        yield from columns_to_record_batches(
            cols, self.max_per_batch, props_mode=self.props_mode
        )


def _props_arrow_field(props_mode: str):
    import pyarrow as pa

    if props_mode == "list":
        return pa.field(
            "properties_list",
            pa.list_(
                pa.struct([("key", pa.string()), ("value", pa.string())])
            ),
        )
    return pa.field("properties", pa.map_(pa.string(), pa.string()))


def _arrow_schema(props_mode: str = "map"):
    import pyarrow as pa

    return pa.schema(
        [
            pa.field("topic", pa.string()),
            pa.field("qos", pa.int32()),
            pa.field("retained", pa.bool_()),
            _props_arrow_field(props_mode),
            pa.field("payload", pa.binary()),
            pa.field("timestamp", pa.timestamp("us")),
        ]
    )


def _props_arrow_array(pairs_per_row: list, props_mode: str):
    """Ordered (key, value) pair rows → the mode's Arrow array: list mode
    keeps order + duplicates; map mode dedups last-wins (Spark's map
    reader rejects duplicate keys under the default EXCEPTION policy)."""
    import pyarrow as pa

    if props_mode == "list":
        return pa.array(
            [[{"key": k, "value": v} for k, v in row] for row in pairs_per_row],
            pa.list_(pa.struct([("key", pa.string()), ("value", pa.string())])),
        )
    return pa.array(
        [list(dict(row).items()) for row in pairs_per_row],
        pa.map_(pa.string(), pa.string()),
    )


def columns_to_record_batches(
    cols: dict[str, list], chunk: int = 10000, props_mode: str = "map"
):
    """A transport's column dict (``transport.COLUMNS``) → pyarrow
    RecordBatches matching EMQX_MESSAGE_SCHEMA (or the ordered-props
    variant); no per-message objects anywhere on this path."""
    import pyarrow as pa

    schema = _arrow_schema(props_mode)
    n = len(cols["topic"])
    for i in range(0, n, chunk):
        sl = slice(i, i + chunk)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(cols["topic"][sl], pa.string()),
                pa.array(cols["qos"][sl], pa.int32()),
                pa.array(cols["retained"][sl], pa.bool_()),
                _props_arrow_array(cols["properties"][sl], props_mode),
                pa.array(cols["payload"][sl], pa.binary()),
                pa.array(cols["timestamp"][sl], pa.timestamp("us")),
            ],
            schema=schema,
        )


class EMQXDataSource(DataSource):
    """``spark.readStream.format("emqx")`` entry point (S1)."""

    @classmethod
    def name(cls) -> str:
        return "emqx"

    def schema(self) -> StructType:
        if self.options.get("properties_mode", "map").lower() == "list":
            return EMQX_MESSAGE_SCHEMA_ORDERED_PROPS
        return EMQX_MESSAGE_SCHEMA

    def streamReader(self, schema: StructType) -> EMQXStreamReader:
        return EMQXStreamReader(schema, dict(self.options))

    def streamWriter(self, schema: StructType, overwrite: bool):
        """``df.writeStream.format("emqx")`` — rows (topic, payload) are
        published back to the broker/spool (S11 + SURVEY §7 step 6)."""
        from ..sinks.emqx import _stream_writer

        return _stream_writer(dict(self.options), overwrite)


def register_emqx_source(spark) -> None:
    spark.dataSource.register(EMQXDataSource)


__all__ = [
    "EMQXDataSource",
    "EMQXStreamReader",
    "EMQXPartition",
    "register_emqx_source",
]
