"""Open-loop MQTT 5 generator for the ``mqtt_live`` workload: one
connection, one publishing thread, QoS 1 at a fixed rate.

    python3 perfbench/mqtt_gen.py --port P --seed S --rate R --count N

It connects, prints ``ready``, reads the schedule's start time (epoch
seconds) from stdin, publishes message ``i`` when it is due at
``start + i / rate`` whether or not earlier ones were acknowledged, and
prints one JSON summary line: messages sent, how late each send was, the
PUBACK round trip seen from this side and the CPU time it used from the
start time on.
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import inputs, stats  # noqa: E402

ACK_WAIT_S = 10.0


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--count", type=int, required=True)
    args = ap.parse_args(argv)

    from flink_emqx_connector_spark.sources.mqtt_wire import (
        CallbackAPIVersion,
        Client,
        MQTTv5,
    )

    tags, topics = inputs.live_schedule(args.seed, args.count)
    cli = Client(CallbackAPIVersion.VERSION2, client_id="perfbench-gen",
                 protocol=MQTTv5)
    cli.connect("127.0.0.1", args.port)
    cli.loop_start()
    print("ready", flush=True)
    t0 = float(sys.stdin.readline())
    cpu0 = time.process_time()

    late_ms, puback_ms, errors = [], [], 0
    pending: collections.deque = collections.deque()

    def poll_acks() -> None:
        # PUBACKs arrive in publish order on one connection
        while pending and pending[0][0]._event.is_set():
            _info, sent = pending.popleft()
            puback_ms.append((time.time() - sent) * 1000)

    for i in range(args.count):
        due = stats.due_time(t0, i, args.rate)
        now = time.time()
        while now < due:
            poll_acks()
            time.sleep(min(due - now, 0.0005))
            now = time.time()
        late_ms.append((now - due) * 1000)
        try:
            info = cli.publish(
                topics[i], inputs.live_payload(i, tags[i], due), qos=1
            )
        except (OSError, TimeoutError):
            errors += 1
            continue
        pending.append((info, time.time()))
        poll_acks()
    deadline = time.monotonic() + ACK_WAIT_S
    while pending and time.monotonic() < deadline:
        poll_acks()
        time.sleep(0.001)
    cli.disconnect()
    cli.loop_stop()
    print(json.dumps({
        "sent": args.count - errors,
        "errors": errors,
        "unacked": len(pending),
        "late_ms_p99": stats.percentile(late_ms, 99, 100),
        "puback_ms_p50": stats.percentile(puback_ms, 1, 2),
        "puback_ms_p99": stats.percentile(puback_ms, 99, 100),
        "cpu_s": time.process_time() - cpu0,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
