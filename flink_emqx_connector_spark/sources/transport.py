"""Message transports behind the EMQX source.

Two implementations with identical at-least-once semantics:

- ``PahoTransport`` — a real MQTT 5 client (paho-mqtt, import-gated since
  the test container doesn't ship it): persistent session, shared
  subscription, manual acks withheld until Spark commits the micro-batch —
  the reference's delivery model (``EMQXSourceReader.java:92-117,168-202``).

- ``SpoolTransport`` — a broker simulated as a segment-log spool directory
  (a miniature WAL): publishers append NDJSON lines to an open segment and
  roll it every ``segment_size`` messages; consumption claims messages by
  ``seq % num_partitions``; *ack* advances a ``FRONTIER`` file (the
  broker's session state) and garbage-collects fully-acked closed
  segments. Un-acked messages survive restarts and are redelivered — the
  same at-least-once contract, fully testable without a broker, and ~10×
  the throughput of the earlier file-per-message spool. Used by the E2E
  streaming tests that mirror the reference's four integration scenarios
  (``EMQXSourceIntegrationTest.java:125-364``).

Both hand the source one message form, a dict of equal-length column
lists (``COLUMNS``): ``seq``, ``topic``, ``qos``, ``retained``,
``properties`` (ordered ``(key, value)`` pairs), ``payload`` (bytes) and
``timestamp`` (µs since the epoch).
"""

from __future__ import annotations

import glob
import json
import os
import time

#: Keys of the column dict every transport returns, one list per key.
COLUMNS = ("seq", "topic", "qos", "retained", "properties", "payload", "timestamp")


def _prop_pairs(raw) -> list[tuple[str, str]]:
    """Normalize user properties (dict or iterable of pairs) to an ordered
    (key, value) list — MQTT 5 allows duplicate keys (EMQXMessage.java:9),
    which only the pair form can represent."""
    if raw is None:
        return []
    if isinstance(raw, dict):
        return list(raw.items())
    return [(k, v) for k, v in raw]


# --------------------------------------------------------------------------
# Spool transport ("broker as a directory")
# --------------------------------------------------------------------------


#: Messages per closed segment file. Small enough that the tail (open)
#: segment re-read per trigger is cheap, large enough that 50k messages
#: are ~100 files, not 50k.
SEGMENT_SIZE = 512

#: An .openseg below the frontier must ALSO have been quiet this long
#: before ack GC may unlink it (a live publisher could still append).
OPENSEG_GC_QUIET_S = 300.0


def _scan_segments(spool_dir: str):
    """(closed, open_) segment listings.

    closed: list of (first_seq, last_seq, path); open_: list of paths.

    The listing is the union of two back-to-back ``os.listdir`` calls. On a
    spool of a few hundred segments one listing takes several system calls,
    and a roll (``.openseg`` → ``.seg`` rename) between two of them can hide
    the segment or show it in both forms. A segment rolls once, so it is in
    at least one of two consecutive listings; one seen in both forms counts
    as closed.
    """
    if not os.path.isdir(spool_dir):
        return [], []
    names = set(os.listdir(spool_dir))
    names |= set(os.listdir(spool_dir))
    closed, rolled = [], set()
    for f in names:
        if f.endswith(".seg"):
            first, last, token = f[: -len(".seg")].split("-")
            closed.append((int(first), int(last), os.path.join(spool_dir, f)))
            rolled.add(f"{first}-{token}.openseg")
    open_ = [
        os.path.join(spool_dir, f)
        for f in names
        if f.endswith(".openseg") and f not in rolled
    ]
    closed.sort()
    return closed, open_


def _segment_forms(path: str):
    """``path``, then — for an ``.openseg`` — the closed form its roll
    renames it to (``{first}-{last}-{token}.seg``), looked up lazily."""
    yield path
    if path.endswith(".openseg"):
        first, token = os.path.basename(path)[: -len(".openseg")].split("-")
        yield from glob.glob(
            os.path.join(os.path.dirname(path), f"{first}-*-{token}.seg")
        )


def _scan_segment_seqs(path: str) -> list[tuple[int, str]]:
    """(seq, json_body) per line WITHOUT parsing the JSON — each line is
    ``{seq:012d} {json}``, so consumers can claim/filter on the cheap
    integer prefix and json-parse only the lines they own.

    Every segment read (``latest_seq``, the range reads, ack GC, publisher
    restart) goes through here, so the live-spool races are handled once:
    - only newline-terminated lines count: a trailing line the publisher is
      still writing is left for the next poll, so ``latest_seq`` never
      admits a seq the read would then drop;
    - an ``.openseg`` that vanished after it was listed was rolled, and is
      read from its closed form."""
    for form in _segment_forms(path):
        try:
            with open(form) as f:
                raw = f.read()
            break
        except FileNotFoundError:
            continue
    else:
        return []  # acked/GC'd concurrently
    out = []
    for line in raw.split("\n")[:-1]:
        if len(line) < 14 or line[12] != " ":
            continue
        try:
            out.append((int(line[:12]), line[13:]))
        except ValueError:
            continue
    return out


def _claims_segment(path: str, partition_id: int, num_partitions: int) -> bool:
    """Whole-file partition claim: each segment is read by exactly one
    partition, so aggregate read cost over N partitions is ~1× the log —
    the earlier per-seq interleave made every partition read EVERY file
    (N× raw I/O, the first streaming bottleneck at 32+ partitions).

    The claim key is ``{first_seq}-{token}`` — the filename prefix shared
    by a segment's open (``{first}-{token}.openseg``) and closed
    (``{first}-{last}-{token}.seg``) forms — so ownership is stable across
    the publisher's roll-rename. A key derived from the full filename
    would flip owners mid-batch when a segment rolls between two
    partitions' reads: one partition's claim set would double-deliver or
    drop the rows the other already claimed."""
    import zlib

    stem = os.path.basename(path).rsplit(".", 1)[0]
    parts = stem.split("-")
    key = f"{parts[0]}-{parts[-1]}"
    return zlib.crc32(key.encode()) % num_partitions == partition_id


class SpoolPublisher:
    """Publisher: appends NDJSON lines to an open segment, flushing per
    publish, and rolls the segment every ``segment_size`` messages
    (``{first:012d}-{last:012d}-{token}.seg``).

    Sequence numbers order the spool (the broker's arrival order); a
    per-publisher token makes filenames unique so CONCURRENT publishers
    (e.g. foreachPartition sink tasks) can never overwrite each other —
    colliding seqs are tolerated by the consumer (same offset position,
    both delivered), matching how a broker serializes racing publishers
    arbitrarily.
    """

    def __init__(self, spool_dir: str, segment_size: int = SEGMENT_SIZE):
        import uuid

        self.dir = spool_dir
        os.makedirs(spool_dir, exist_ok=True)
        self.token = uuid.uuid4().hex[:8]
        self.segment_size = segment_size
        # The FRONTIER file is the durable floor: after ack_upto GCs all
        # closed segments, the segment scan alone would restart seqs BELOW
        # the acked frontier — and reads clamp lo to the frontier, so those
        # messages would be permanently masked (silent loss). The frontier
        # outlives exactly the segments it subsumes.
        spool = SpoolTransport(spool_dir)
        self._next = max(spool.latest_seq(), spool.frontier())
        self._fd = None
        self._open_path = ""
        self._open_start = 0
        self._open_count = 0

    def publish(
        self,
        topic: str,
        payload: bytes,
        qos: int = 1,
        retained: bool = False,
        properties: dict[str, str] | list[tuple[str, str]] | None = None,
    ) -> int:
        seq = self._next
        self._next += 1
        rec = {
            "seq": seq,
            "topic": topic,
            "qos": qos,
            "retained": retained,
            # stored as ordered pairs so duplicate keys survive the spool
            # (readers accept both this and the legacy dict form)
            "properties": _prop_pairs(properties),
            "payload_hex": payload.hex(),
            "timestamp": time.time(),
        }
        if self._fd is None:
            self._open_start = seq
            self._open_path = os.path.join(
                self.dir, f"{seq:012d}-{self.token}.openseg"
            )
            self._fd = open(self._open_path, "a")
        self._fd.write(f"{seq:012d} {json.dumps(rec)}\n")
        self._fd.flush()
        self._open_count += 1
        if self._open_count >= self.segment_size:
            self._roll(seq)
        return seq

    def _roll(self, last_seq: int) -> None:
        self._fd.close()
        dst = os.path.join(
            self.dir, f"{self._open_start:012d}-{last_seq:012d}-{self.token}.seg"
        )
        os.rename(self._open_path, dst)
        self._fd = None
        self._open_count = 0

    def close(self) -> None:
        """Seal the open segment so ack can garbage-collect it."""
        if self._fd is not None and self._open_count:
            self._roll(self._next - 1)
        elif self._fd is not None:
            self._fd.close()
            os.remove(self._open_path)
            self._fd = None


class SpoolTransport:
    """Consumer view of the segment-log spool.

    Offsets are ``{"seq": n}`` — messages with seq < n are part of committed
    or in-flight batches. ``ack_upto`` advances the ``FRONTIER`` file (the
    broker's per-session acked position, exactly like PUBACKs on checkpoint
    completion, ``EMQXSourceReader.java:182-202``) and deletes closed
    segments wholly below it. Reads never return messages below the
    frontier, so a fresh reader incarnation sees only the un-acked backlog;
    crash before commit → frontier unmoved → full redelivery.
    """

    def __init__(self, spool_dir: str):
        self.dir = spool_dir

    def _frontier_path(self) -> str:
        return os.path.join(self.dir, "FRONTIER")

    def frontier(self) -> int:
        try:
            with open(self._frontier_path()) as f:
                return int(f.read().strip() or "0")
        except (FileNotFoundError, ValueError):
            return 0

    def latest_seq(self) -> int:
        closed, open_ = _scan_segments(self.dir)
        last = max((c[1] for c in closed), default=-1)
        for path in open_:
            for seq, _body in _scan_segment_seqs(path):
                last = max(last, seq)
        return last + 1

    def _claimed_rows(
        self, lo: int, end: int, partition_id: int, num_partitions: int
    ) -> list[tuple[int, str]]:
        """(seq, json_body) rows of [lo, end) owned by this partition, in
        seq order. Segments (open and closed alike) are whole-file claimed
        via the roll-stable key — see ``_claims_segment``. At high rates a
        batch spans many segments, spreading work over all partitions; a
        low-rate single-publisher tail lands on one partition, which is
        fine (3 messages don't need 32 tasks)."""
        closed, open_ = _scan_segments(self.dir)
        rows: list[tuple[int, str]] = []
        paths = [p for first, last, p in closed if last >= lo and first < end]
        paths.extend(open_)
        for path in paths:
            if num_partitions > 1 and not _claims_segment(
                path, partition_id, num_partitions
            ):
                continue
            rows.extend(
                (seq, body)
                for seq, body in _scan_segment_seqs(path)
                if lo <= seq < end
            )
        rows.sort()
        return rows

    def read_range_columns(
        self, start: int, end: int, partition_id: int, num_partitions: int
    ) -> dict[str, list]:
        """Messages in [start, end) claimed by this partition — the spool
        analogue of the broker's shared-subscription load balancing (one
        clientid per partition, EMQXSourceReader.java:103) — as a dict of
        plain lists keyed by ``COLUMNS``, in seq order. Every row below
        ``end`` that ``latest_seq`` counted is returned, even while the
        publisher rolls segments."""
        lo = max(start, self.frontier())
        cols: dict[str, list] = {k: [] for k in COLUMNS}
        if lo >= end:
            return cols
        for seq, body in self._claimed_rows(lo, end, partition_id, num_partitions):
            try:
                rec = json.loads(body)
            except json.JSONDecodeError:
                continue  # corrupt line (torn tails never get here)
            cols["seq"].append(seq)
            cols["topic"].append(rec["topic"])
            cols["qos"].append(rec["qos"])
            cols["retained"].append(rec["retained"])
            cols["properties"].append(_prop_pairs(rec["properties"]))
            cols["payload"].append(bytes.fromhex(rec["payload_hex"]))
            cols["timestamp"].append(int(rec["timestamp"] * 1_000_000))
        return cols

    def ack_upto(self, end: int) -> int:
        """Advance the acked frontier to ``end`` and GC closed segments
        wholly below it; returns the number of segments collected."""
        if end > self.frontier():
            os.makedirs(self.dir, exist_ok=True)
            tmp = self._frontier_path() + ".tmp"
            with open(tmp, "w") as f:
                f.write(str(end))
            os.rename(tmp, tmp[: -len(".tmp")])
        n = 0
        closed, open_ = _scan_segments(self.dir)
        for _first, last, path in closed:
            if last < end:
                try:
                    os.remove(path)
                    n += 1
                except FileNotFoundError:
                    pass
        # Dead open segments (crashed publisher, never rolled): collectable
        # once every line is below the frontier AND the file has been quiet
        # for a while — a LIVE publisher may still hold the fd and append
        # seqs ≥ frontier, which an unlink would silently drop.
        for path in open_:
            seqs = [s for s, _b in _scan_segment_seqs(path)]
            if not seqs or max(seqs) >= end:
                continue
            try:
                quiet = time.time() - os.path.getmtime(path)
            except OSError:
                continue
            if quiet >= OPENSEG_GC_QUIET_S:
                try:
                    os.remove(path)
                    n += 1
                except FileNotFoundError:
                    pass
        return n


# --------------------------------------------------------------------------
# Paho (real MQTT) transport — import-gated
# --------------------------------------------------------------------------

#: Executor-side client registry: clientid → live transport. Python workers
#: are reused across micro-batches (spark.python.worker.reuse defaults on),
#: so clients outlive batches — the Spark analogue of the reference's
#: long-lived per-subtask reader (EMQXSourceReader.java:34-66). If a worker
#: is recycled, the persistent session + un-acked QoS≥1 redelivery restores
#: the stream (same recovery model as the reference, test
#: EMQXSourceIntegrationTest.java:219-301).
_CLIENTS: dict[str, "PahoTransport"] = {}


def paho_available() -> bool:
    try:
        import paho.mqtt.client  # noqa: F401

        return True
    except ImportError:
        return False


def _load_mqtt():
    """paho-mqtt when installed, else the embedded MQTT 5 client
    (``mqtt_wire.Client``, same callback surface, real sockets)."""
    try:
        import paho.mqtt.client as mqtt
        from paho.mqtt.packettypes import PacketTypes
        from paho.mqtt.properties import Properties

        return mqtt, PacketTypes, Properties
    except ImportError:
        from . import mqtt_wire

        return mqtt_wire, mqtt_wire.PacketTypes, mqtt_wire.Properties


class PahoTransport:
    """One MQTT 5 client with manual acks + persistent session.

    Mirrors the reference reader:
    - ``$share/<group>/<filter>`` subscription (EMQXSourceReader.java:103)
    - ``clean_start=False`` + session expiry (":94-117")
    - auto-reconnect; startable while the broker is down (":92", ST6)
    - callback thread → queue → batch drain (":67-83,146-165", ST7)
    - acks withheld until commit (":168-202", ST2-ST4)
    """

    # Default session-expiry interval (seconds): how long the broker keeps
    # subscription + un-acked message state across a disconnect. The
    # reference hard-codes 60 s behind a TODO (EMQXSourceReader.java:96,100);
    # here it is a per-instance option (`session_expiry` source option) —
    # size it to survive the longest expected executor restart.
    SESSION_EXPIRY = 300

    # In-flight admission control (ST7). The reference buffers into an
    # unbounded ConcurrentLinkedQueue (EMQXSourceReader.java:37): a fast
    # publisher against a slow micro-batch grows reader memory without
    # bound. Here the callback→drain queue is bounded (`max_inflight`
    # source option): when full, on_message first BLOCKS briefly — the
    # callback runs on the network loop thread, so blocking stops socket
    # reads and exerts TCP/broker backpressure — and if still full after
    # BLOCK_TIMEOUT drops the message UNACKED, which under manual-ack +
    # persistent session means the broker redelivers it after resume
    # (at-least-once preserved; QoS 0 drops are within contract).
    MAX_INFLIGHT = 100_000
    BLOCK_TIMEOUT = 5.0

    def __init__(
        self,
        host: str,
        port: int,
        clientid: str,
        topic_filter: str,
        qos: int,
        group: str,
        session_expiry: int | None = None,
        max_inflight: int | None = None,
        auth_method: str | None = None,
        auth_secret: "str | bytes | None" = None,
    ):
        import queue

        self.auth_method = auth_method
        self.auth_secret = auth_secret
        self.clientid = clientid
        self.session_expiry = (
            self.SESSION_EXPIRY if session_expiry is None else int(session_expiry)
        )
        self.max_inflight = (
            self.MAX_INFLIGHT if max_inflight is None else int(max_inflight)
        )
        self.queue: queue.Queue = queue.Queue(maxsize=self.max_inflight)
        self.dropped = 0  # overflow drops awaiting broker redelivery
        self.superseded = False  # session taken over (DISCONNECT 0x8E)
        self.seq = 0
        # batch_id → [mqtt messages awaiting ack] (ST2: snapshot-stamped acks)
        self.pending: dict[int, list] = {}
        self.inflight: list = []
        self._connect(host, port, topic_filter, qos, group)

    def _connect(self, host, port, topic_filter, qos, group):
        import queue as _q

        mqtt, PacketTypes, Properties = _load_mqtt()

        self._mqtt = mqtt
        cli = mqtt.Client(
            mqtt.CallbackAPIVersion.VERSION2,
            client_id=self.clientid,
            protocol=mqtt.MQTTv5,
            manual_ack=True,
        )
        props = Properties(PacketTypes.CONNECT)
        props.SessionExpiryInterval = self.session_expiry
        sub_topic = f"$share/{group}/{topic_filter}" if group else topic_filter

        def on_connect(client, userdata, flags, reason, properties=None):
            if getattr(reason, "value", reason) != 0:
                return  # CONNACK refusal — never subscribe into it
            # re-subscribe only when the broker kept no session (ST5)
            if not flags.session_present:
                client.subscribe(sub_topic, qos=qos)

        def on_message(client, userdata, msg):
            # stamp ARRIVAL time here, not at drain: under a slow trigger
            # the drain runs seconds later and event-time columns would
            # inherit batch latency
            item = (self.seq, time.time(), msg)
            self.seq += 1
            try:
                # Bounded queue: blocks the network loop thread when full
                # (backpressure), then drops unacked (redelivery covers it).
                # The timeout also keeps this thread live enough to service
                # keepalive pings during a long reader stall.
                self.queue.put(item, timeout=self.BLOCK_TIMEOUT)
            except _q.Full:
                self.dropped += 1

        def on_disconnect(client, userdata, flags, reason, properties=None):
            # Real EMQX announces session takeover with DISCONNECT 0x8E
            # before closing. Stock paho blindly reconnects, which takes
            # the session BACK and ping-pongs — round 2 measured a 34×
            # duplicate storm from exactly this loop. Policy (both legs:
            # real paho and the embedded double apply it): cede the
            # clientid — another reader instance owns it now; this
            # reader's un-acked messages redeliver to the new owner.
            code = getattr(reason, "value", reason)
            if code == 0x8E:
                self.superseded = True
                client.disconnect()

        cli.on_connect = on_connect
        cli.on_message = on_message
        cli.on_disconnect = on_disconnect
        if self.auth_method is not None:
            # §4.12 enhanced authentication: the embedded MQTT 5 client
            # implements the AUTH exchange; a real paho build without
            # enhanced-auth support cannot speak it — fail loud rather
            # than silently connecting unauthenticated (the broker would
            # refuse 0x8C anyway, but with a misleading symptom).
            if not hasattr(cli, "enhanced_auth"):
                raise ValueError(
                    "auth_method set but this MQTT client has no "
                    "enhanced-auth support (pip paho-mqtt lacks the "
                    "AUTH exchange; the embedded client provides it)"
                )
            cli.enhanced_auth(self.auth_method, self.auth_secret or b"")
        cli.reconnect_delay_set(min_delay=1, max_delay=10)
        try:
            cli.connect(host, port, clean_start=False, properties=props, keepalive=30)
        except OSError:
            # broker offline at start — connect_async + loop retries (ST6)
            cli.connect_async(host, port, clean_start=False, properties=props, keepalive=30)
        cli.loop_start()
        self.client = cli

    def drain(
        self, batch_id: int, max_records: int, timeout_s: float
    ) -> dict[str, list]:
        """Drain up to max_records into this batch as a dict of lists keyed
        by ``COLUMNS``; retried tasks of the same batch re-emit the buffered
        messages (no loss within a run)."""
        import queue as q

        if batch_id in self.pending:  # task retry → redeliver buffer
            msgs = self.pending[batch_id]
        else:
            msgs = []
            deadline = time.time() + timeout_s
            while len(msgs) < max_records:
                try:
                    msgs.append(self.queue.get(timeout=max(0.0, deadline - time.time())))
                except q.Empty:
                    break
            self.pending[batch_id] = msgs
        cols: dict[str, list] = {k: [] for k in COLUMNS}
        for seq, arrival_ts, m in msgs:
            props = getattr(m, "properties", None)
            cols["seq"].append(seq)
            cols["topic"].append(m.topic)
            cols["qos"].append(m.qos)
            cols["retained"].append(bool(m.retain))
            cols["properties"].append(
                _prop_pairs(getattr(props, "UserProperty", None))
            )
            cols["payload"].append(bytes(m.payload))
            cols["timestamp"].append(int(arrival_ts * 1_000_000))
        return cols

    def ack_upto(self, batch_id: int) -> None:
        """Ack every buffered message of batches ≤ batch_id (subsuming
        earlier checkpoints, EMQXSourceReader.java:189-199)."""
        for bid in sorted(b for b in self.pending if b <= batch_id):
            for _seq, _ts, m in self.pending.pop(bid):
                try:
                    self.client.ack(m)
                except Exception:
                    pass  # ack after reconnect is impossible; broker redelivers

    @classmethod
    def get(
        cls,
        host,
        port,
        clientid,
        topic_filter,
        qos,
        group,
        session_expiry=None,
        max_inflight=None,
        auth_method=None,
        auth_secret=None,
    ) -> "PahoTransport":
        t = _CLIENTS.get(clientid)
        if t is None:
            t = cls(
                host,
                port,
                clientid,
                topic_filter,
                qos,
                group,
                session_expiry,
                max_inflight,
                auth_method=auth_method,
                auth_secret=auth_secret,
            )
            _CLIENTS[clientid] = t
        return t
