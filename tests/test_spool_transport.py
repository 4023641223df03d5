"""Unit tests for the segment-log spool transport (no Spark needed).

Regression coverage for the publisher/frontier interaction: the FRONTIER
file is the only durable record of position once ack GC has collected the
segments it subsumes, so publisher seq recovery must honor it.
"""

import os
import time

import pytest

from flink_emqx_connector_spark.sources.transport import (
    SpoolPublisher,
    SpoolTransport,
)


def test_publisher_seq_resumes_from_frontier_after_gc(tmp_path):
    """A fresh publisher after full ack+GC must NOT restart below the
    frontier — reads clamp lo to the frontier, so seqs below it
    would be permanently masked (silent message loss)."""
    spool = str(tmp_path / "spool")
    pub = SpoolPublisher(spool, segment_size=2)
    for i in range(6):
        pub.publish("t/1", str(i).encode())
    pub.close()

    t = SpoolTransport(spool)
    cols = t.read_range_columns(0, t.latest_seq(), 0, 1)
    assert cols["payload"] == [str(i).encode() for i in range(6)]
    assert cols["seq"] == list(range(6))
    t.ack_upto(6)
    # every closed segment is below the frontier → all GC'd
    assert not [f for f in os.listdir(spool) if f.endswith(".seg")]

    pub2 = SpoolPublisher(spool)
    seq = pub2.publish("t/1", b"after-gc")
    pub2.close()
    assert seq == 6  # not 0
    cols = t.read_range_columns(0, t.latest_seq(), 0, 1)
    assert cols["payload"] == [b"after-gc"]
    assert cols["seq"] == [6]


def test_consume_republish_reconsume_pipeline(tmp_path):
    """The long-running consume→ack→publish→consume loop never loses a
    message across publisher incarnations (the sink creates one publisher
    per partition per micro-batch)."""
    spool = str(tmp_path / "spool")
    t = SpoolTransport(spool)
    seen = []
    for round_ in range(5):
        pub = SpoolPublisher(spool, segment_size=2)
        for i in range(3):
            pub.publish("t/1", f"{round_}-{i}".encode())
        pub.close()
        end = t.latest_seq()
        seen.extend(p.decode() for p in t.read_range_columns(0, end, 0, 1)["payload"])
        t.ack_upto(end)
    assert seen == [f"{r}-{i}" for r in range(5) for i in range(3)]


def test_ack_gc_collects_stale_open_segment(tmp_path):
    """A crashed publisher's .openseg (never rolled) is collected once all
    its seqs are below the frontier AND it has been quiet long enough;
    a recently-written one is left alone (a live publisher may append)."""
    spool = str(tmp_path / "spool")
    pub = SpoolPublisher(spool)
    pub.publish("t/1", b"a")
    pub.publish("t/1", b"b")
    # no close(): simulates a crash leaving an .openseg behind
    open_segs = [f for f in os.listdir(spool) if f.endswith(".openseg")]
    assert len(open_segs) == 1

    t = SpoolTransport(spool)
    t.ack_upto(2)
    # fresh file: NOT collected (quiet-period guard)
    assert [f for f in os.listdir(spool) if f.endswith(".openseg")] == open_segs

    stale = os.path.join(spool, open_segs[0])
    old = time.time() - 3600
    os.utime(stale, (old, old))
    t.ack_upto(2)
    assert not [f for f in os.listdir(spool) if f.endswith(".openseg")]


def test_sink_partition_seals_segments(tmp_path):
    """The sink's per-partition publisher closes (rolls) its segment so
    ack GC can collect it."""
    from flink_emqx_connector_spark.sinks.emqx import _publish_partition

    spool = str(tmp_path / "spool")
    rows = [{"topic": "t/1", "payload": f"m{i}".encode()} for i in range(3)]
    _publish_partition(iter(rows), "spool", spool, "", 0, qos=1)
    files = os.listdir(spool)
    assert not [f for f in files if f.endswith(".openseg")]
    assert [f for f in files if f.endswith(".seg")]
    t = SpoolTransport(spool)
    got = t.read_range_columns(0, t.latest_seq(), 0, 1)
    assert got["payload"] == [b"m0", b"m1", b"m2"]
    assert t.ack_upto(t.latest_seq()) >= 1
    assert not [f for f in os.listdir(spool) if f.endswith(".seg")]


def test_partition_claims_disjoint_and_complete(tmp_path):
    """Every message in a window is delivered by exactly one of N
    partitions, and each segment file is scanned by exactly one partition
    (read amplification ~1x the log, not Nx)."""
    from unittest import mock

    import flink_emqx_connector_spark.sources.transport as tr

    spool = str(tmp_path / "spool")
    pub = SpoolPublisher(spool, segment_size=16)
    for i in range(200):
        pub.publish("t/1", str(i).encode())
    # leave the last segment open: claims must cover the tail too
    t = SpoolTransport(spool)
    end = t.latest_seq()
    n_parts = 8

    scans = []
    real = tr._scan_segment_seqs

    def counting(path):
        scans.append(path)
        return real(path)

    got = []
    with mock.patch.object(tr, "_scan_segment_seqs", counting):
        for p in range(n_parts):
            got += t.read_range_columns(0, end, p, n_parts)["payload"]
    assert sorted(got) == sorted(str(i).encode() for i in range(200))
    n_files = len([f for f in os.listdir(spool) if f.endswith((".seg", ".openseg"))])
    # whole-file claims: each file scanned once across ALL partitions
    assert len(scans) == n_files, (len(scans), n_files)


def test_partition_claim_stable_across_roll(tmp_path):
    """Claim ownership must not change when a segment rolls from open to
    closed between two partitions' reads of the same batch window."""
    import flink_emqx_connector_spark.sources.transport as tr

    spool = str(tmp_path / "spool")
    pub = SpoolPublisher(spool, segment_size=1000)  # stays open
    for i in range(20):
        pub.publish("t/1", str(i).encode())
    t = SpoolTransport(spool)
    end = t.latest_seq()
    n_parts = 4
    before = {
        p: t.read_range_columns(0, end, p, n_parts)["seq"] for p in range(n_parts)
    }
    pub.close()  # roll: .openseg -> .seg
    after = {
        p: t.read_range_columns(0, end, p, n_parts)["seq"] for p in range(n_parts)
    }
    assert before == after


def test_claims_property_random_schedules():
    """Property: for ANY publisher schedule (message count, segment size,
    roll points, multiple publishers) and ANY partition count, the
    partition claims are a disjoint complete cover of every batch window."""
    import tempfile

    from hypothesis import given, settings, strategies as st

    @settings(max_examples=25, deadline=None)
    @given(
        seg_size=st.integers(min_value=1, max_value=7),
        counts=st.lists(st.integers(min_value=0, max_value=20), min_size=1, max_size=4),
        n_parts=st.integers(min_value=1, max_value=9),
        close_last=st.booleans(),
        window=st.tuples(
            st.integers(min_value=0, max_value=10),
            st.integers(min_value=0, max_value=60),
        ),
    )
    def check(seg_size, counts, n_parts, close_last, window):
        with tempfile.TemporaryDirectory() as d:
            spool = str(d) + "/s"
            total = 0
            for pi, cnt in enumerate(counts):
                pub = SpoolPublisher(spool, segment_size=seg_size)
                for _ in range(cnt):
                    pub.publish("t/1", str(total).encode())
                    total += 1
                if close_last or pi < len(counts) - 1:
                    pub.close()
            t = SpoolTransport(spool)
            lo, span = window
            hi = min(lo + span, t.latest_seq())
            seen = []
            for p in range(n_parts):
                seen += t.read_range_columns(lo, hi, p, n_parts)["seq"]
            assert sorted(seen) == list(range(min(lo, hi), hi))

    check()


# --------------------------------------------------------------------------
# live-spool read races: the publisher appends and rolls while readers list
# and scan segments
# --------------------------------------------------------------------------


def test_segment_rolled_after_listing_is_read_from_closed_form(tmp_path):
    """An .openseg listed before its roll and opened after it is read from
    the rolled .seg, not dropped as missing."""
    from unittest import mock

    import flink_emqx_connector_spark.sources.transport as tr

    spool = str(tmp_path / "spool")
    pub = SpoolPublisher(spool, segment_size=1000)  # stays open
    for i in range(5):
        pub.publish("t/1", str(i).encode())
    t = SpoolTransport(spool)
    real = tr._scan_segments

    def listing_then_roll(d):
        listing = real(d)
        pub.close()  # the roll lands between the listing and the open
        return listing

    with mock.patch.object(tr, "_scan_segments", listing_then_roll):
        assert t.latest_seq() == 5
    pub = SpoolPublisher(spool, segment_size=1000)
    for i in range(5, 8):
        pub.publish("t/1", str(i).encode())
    with mock.patch.object(tr, "_scan_segments", listing_then_roll):
        cols = t.read_range_columns(0, 8, 0, 1)
    assert cols["seq"] == list(range(8))
    assert cols["payload"] == [str(i).encode() for i in range(8)]


@pytest.mark.parametrize("form", ["neither", "both"])
def test_roll_in_the_middle_of_a_listing(tmp_path, form):
    """A roll between two system calls of one directory listing can leave
    the segment out of that listing ("neither") or put it in under both
    names ("both"). ``latest_seq`` and the reads still see every row
    exactly once."""
    from unittest import mock

    import flink_emqx_connector_spark.sources.transport as tr

    real = os.listdir

    def spool_rolling_mid_listing(name):
        spool = str(tmp_path / name)
        pub = SpoolPublisher(spool, segment_size=1000)  # stays open
        for i in range(4):
            pub.publish("t/1", str(i).encode())
        before = real(spool)
        rolled = []

        def listdir(d):
            if rolled:
                return real(d)
            rolled.append(True)
            pub.close()
            if form == "neither":
                return [f for f in real(d) if not f.endswith(".seg")]
            return real(d) + before

        return spool, mock.patch.object(tr.os, "listdir", listdir)

    spool, mid_roll = spool_rolling_mid_listing("head")
    with mid_roll:
        assert SpoolTransport(spool).latest_seq() == 4
    for parts in (1, 3):
        spool, mid_roll = spool_rolling_mid_listing(f"read{parts}")
        with mid_roll:
            t = SpoolTransport(spool)
            seqs = [
                s
                for p in range(parts)
                for s in t.read_range_columns(0, 4, p, parts)["seq"]
            ]
        assert sorted(seqs) == [0, 1, 2, 3], (parts, seqs)


def test_torn_trailing_line_is_not_counted(tmp_path):
    """A line without its newline yet is neither counted by ``latest_seq``
    nor read; once complete it is both."""
    spool = str(tmp_path / "spool")
    pub = SpoolPublisher(spool, segment_size=1000)
    pub.publish("t/1", b"a")
    pub.publish("t/1", b"b")
    (name,) = os.listdir(spool)
    path = os.path.join(spool, name)
    with open(path, "r+b") as f:
        f.truncate(os.path.getsize(path) - 1)  # publisher mid-write
    t = SpoolTransport(spool)
    assert t.latest_seq() == 1
    assert t.read_range_columns(0, 2, 0, 1)["seq"] == [0]
    with open(path, "a") as f:
        f.write("\n")
    assert t.latest_seq() == 2
    assert t.read_range_columns(0, 2, 0, 1)["seq"] == [0, 1]


def test_live_reader_gets_every_seq_once_while_publisher_rolls(tmp_path):
    """A reader alternating ``latest_seq`` and 2-partition
    ``read_range_columns`` over [previous head, head) while a publisher
    appends 60,000 rows in 64-message segments receives every seq exactly
    once."""
    import threading

    spool = str(tmp_path / "spool")
    n = 60_000
    pub = SpoolPublisher(spool, segment_size=64)
    t = SpoolTransport(spool)
    done = threading.Event()
    got: list[int] = []
    errors: list[BaseException] = []

    def read():
        lo = 0
        try:
            while True:
                last_pass = done.is_set()
                hi = t.latest_seq()
                for p in range(2):
                    got.extend(t.read_range_columns(lo, hi, p, 2)["seq"])
                lo = max(lo, hi)
                if last_pass:
                    return
        except BaseException as e:  # surfaced in the main thread
            errors.append(e)

    reader = threading.Thread(target=read)
    reader.start()
    for i in range(n):
        pub.publish("t/1", b"%d" % i)
    pub.close()
    done.set()
    reader.join(timeout=120)
    assert not reader.is_alive() and not errors, errors
    missing = n - len(set(got))
    dups = len(got) - len(set(got))
    assert (missing, dups) == (0, 0), (missing, dups)
    assert sorted(got) == list(range(n))
