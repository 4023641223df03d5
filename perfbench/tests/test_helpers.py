"""Tests of the benchmark's own helpers; they start no Spark session.

    python3 -m pytest perfbench/tests -q
"""

import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from perfbench import inputs, stats, tracing  # noqa: E402


def test_tail_percentile_keeps_ten_samples_beyond():
    values = list(range(1, 10001))  # 10,000 samples
    pct, value, n = stats.tail_percentile(values)
    assert (pct, value, n) == (99.9, 9990.0, 10000)
    assert sum(v > value for v in values) == 10


def test_tail_percentile_falls_back_when_samples_are_few():
    pct, value, n = stats.tail_percentile(range(1, 10000))  # 9,999 samples
    assert (pct, value, n) == (99.0, 9900.0, 9999)
    pct, value, n = stats.tail_percentile(range(1, 16))
    assert (pct, value, n) == (100.0, 15.0, 15)
    assert stats.tail_percentile([]) == (100.0, 0.0, 0)


def test_percentile_is_nearest_rank():
    assert stats.percentile(range(1, 101), 1, 2) == 50.0
    assert stats.percentile(range(1, 101), 99, 100) == 99.0
    assert stats.percentile([], 1, 2) == 0.0


def test_latency_is_timed_from_the_due_time():
    # message 2 is due at t0 + 2/rate = 100.02 even if it was sent late
    arrivals = {0: 100.5, 2: 100.52}
    lat = stats.open_loop_latencies_ms(arrivals, t0=100.0, rate=100.0)
    assert np.allclose(sorted(lat), [500.0, 500.0])
    assert stats.due_time(100.0, 2, 100.0) == 100.02


def _span(tracer, name, start, end, parent):
    return tracer.add(name, "layer." + name, start, end, parent)


def test_self_time_subtracts_the_union_of_children():
    t = tracing.Tracer("r", enabled=True)
    root = _span(t, "root", 0.0, 10.0, None)
    _span(t, "a", 1.0, 4.0, root)
    _span(t, "b", 3.0, 6.0, root)  # overlaps a: union is 1..6
    c = _span(t, "c", 8.0, 12.0, root)  # clipped to the parent's end
    _span(t, "d", 9.0, 9.5, c)
    own = tracing.self_times(t.spans)
    assert own[root] == 10.0 - 5.0 - 2.0
    assert own[c] == 3.5
    layers = tracing.layer_self_times(t.spans)
    assert layers["layer.root"] == 3.0
    assert layers["layer.a"] == 3.0 and layers["layer.b"] == 3.0


def test_span_context_nests_and_disabled_tracer_records_nothing():
    t = tracing.Tracer("r", enabled=True)
    with t.span("outer", "x") as outer:
        with t.span("inner", "y") as inner:
            pass
    spans = {s.span_id: s for s in t.spans}
    assert spans[inner].parent_id == outer
    assert spans[outer].parent_id is None
    off = tracing.Tracer("r", enabled=False)
    with off.span("outer", "x") as sid:
        assert sid == 0
    assert off.add("a", "x", 0.0, 1.0) == 0
    assert off.spans == []


def test_same_seed_gives_the_same_inputs():
    a = inputs.wordcount_backlog(5, 300)
    b = inputs.wordcount_backlog(5, 300)
    c = inputs.wordcount_backlog(6, 300)
    assert (a.payloads, a.topics, a.properties, a.counts) == (
        b.payloads, b.topics, b.properties, b.counts
    )
    assert a.payloads != c.payloads
    assert inputs.live_schedule(5, 50) == inputs.live_schedule(5, 50)
    assert inputs.live_schedule(5, 50) != inputs.live_schedule(6, 50)


def test_backlog_counts_match_its_payloads():
    b = inputs.wordcount_backlog(3, 200)
    counted: dict[str, int] = {}
    for p in b.payloads:
        words = p.decode().split()
        assert 10 <= len(words) <= b.max_words
        for w in words:
            counted[w] = counted.get(w, 0) + 1
    assert counted == b.counts
    assert any(props for props in b.properties)
    assert any(props is None for props in b.properties)


def test_live_payload_round_trips():
    payload = inputs.live_payload(42, 0xDEADBEEF, 1234.5)
    assert inputs.parse_live_payload(payload) == (42, 0xDEADBEEF, 1234.5)


def test_message_latency_runs_to_the_batch_that_counted_it():
    from perfbench import spool_drain

    appended = np.array([0.0, 1.0, 2.0, 3.0, 4.0])
    sunk = {0: 10.0, 1: 20.0}
    progress = [
        {"batch": 1, "end_offset": '{"seq":5}'},
        {"batch": 0, "end_offset": '{"seq":2}'},
    ]
    lat = spool_drain.message_latencies_ms(appended, sunk, progress)
    assert lat.tolist() == [10000.0, 9000.0, 18000.0, 17000.0, 16000.0]


def test_drain_check_counts_missing_or_duplicated_messages():
    from perfbench import harness, spool_drain

    backlog = inputs.wordcount_backlog(1, 50)
    out = harness.Outcome()
    spool_drain.check_drain(out, backlog, dict(backlog.counts), 50, "ok")
    assert (out.correct, out.failed) == (True, 0)
    short = dict(backlog.counts)
    for w in backlog.payloads[0].decode().split():
        short[w] -= 1  # the first message never counted
    spool_drain.check_drain(out, backlog, short, 49, "lost")
    assert (out.correct, out.failed) == (False, 1)


def test_tree_cpu_counts_children_while_running_and_after_exit():
    import subprocess
    import time

    from perfbench import harness

    spin = (
        "import time\n"
        "t = time.process_time()\n"
        "while time.process_time() - t < 0.3: pass\n"
    )
    c0 = harness.tree_cpu_s()
    child = subprocess.Popen([sys.executable, "-c", spin + "time.sleep(30)"])
    try:
        deadline = time.monotonic() + 20
        while harness.tree_cpu_s() - c0 < 0.25 and time.monotonic() < deadline:
            time.sleep(0.05)  # the child is alive: counted as a descendant
        assert harness.tree_cpu_s() - c0 >= 0.25
    finally:
        child.kill()
        child.wait()
    c1 = harness.tree_cpu_s()
    subprocess.run([sys.executable, "-c", spin], check=True)
    # reaped: counted through this process's children's time
    assert harness.tree_cpu_s() - c1 >= 0.25
