"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload spool_drain --seed 1 --seconds 8 --trace 0

Workloads: ``spool_drain`` and ``batch_mix`` are the ones ``BENCHMARK.json``
lists, with why each exists. ``mqtt_live`` runs the same way but is not
listed: the engine loses a varying few of its messages from run to run (a
read race on the live spool), so two sets of its runs do not agree on
``failed``. With ``--trace 0`` the result holds the end-to-end metrics;
with ``--trace 1`` it holds the per-layer metrics, and the spans, layer
self times and tracing overhead are written to
``.perfbench_out/trace-<workload>-<seed>.json``.

The end-to-end costs are CPU time: of this process and every process it
started (the JVM and its Python workers), not counting a load generator.
On a shared host, time the host gives other guests is wall time but not
CPU time, so wall-time figures spread too far between identical runs to
bound; they are reported as per-layer ``wall.*`` metrics and in the notes.
Every workload reports every end-to-end metric, each over its own items:

===============  =======================  ===================  ==================
metric           spool_drain              mqtt_live            batch_mix
===============  =======================  ===================  ==================
setup_s          session start (median of 3) plus the workload's warm-up, once
cpu_ms_per_item  per message over the     per message          per query over the
                 measured drains          delivered live       steady passes
===============  =======================  ===================  ==================

The per-layer ``cold.cpu_ms_per_item`` is the same cost on the first
warm-up drain, the warm-up messages and the first pass.

``attempted`` and ``failed`` count messages (streaming) or queries checked
against the DuckDB oracle (batch); ``correct`` is false when an output is
wrong, not when one is missing.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import json
import os
import sys
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness, tracing  # noqa: E402

BENCHMARK_JSON = os.path.join(harness.ROOT, "BENCHMARK.json")
WORKLOADS = ("spool_drain", "mqtt_live", "batch_mix")
#: the end-to-end metric the headline tracing overhead is taken on
OVERHEAD_ON = "cpu_ms_per_item"
LAYERS = (
    "bench", "session", "sources.transport", "sources.emqx",
    "sources.bridge", "sources.mqtt_wire", "plans", "operators",
)


def _declared() -> dict:
    with open(BENCHMARK_JSON) as f:
        spec = json.load(f)
    return {
        "end_to_end": {m["name"]: m["unit"] for m in spec["end_to_end"]},
        "per_layer": {m["name"]: m["unit"] for m in spec["per_layer"]},
        "better": {m["name"]: m["better"] for m in spec["end_to_end"]},
    }


def _result_path(workload: str, seed: int) -> str:
    return os.path.join(harness.OUT, "results", f"{workload}-seed{seed}.json")


def _untraced_baseline(args) -> dict | None:
    """End-to-end metrics of an untraced run of the same workload in this
    checkout: the same seed if there is one, else the latest of any seed.
    A traced run does not start one itself: the two would not fit in one
    run's time limit."""
    same = _result_path(args.workload, args.seed)
    if os.path.exists(same):
        path = same
    else:
        found = sorted(
            glob.glob(_result_path(args.workload, "*")), key=os.path.getmtime
        )
        if not found:
            return None
        path = found[-1]
    with open(path) as f:
        return json.load(f)


def _overhead_pct(traced: float, untraced: float, better: str) -> float:
    """How much worse the traced run read than the untraced one, in %."""
    if not untraced:
        return 0.0
    worse = traced - untraced if better == "lower" else untraced - traced
    return 100.0 * worse / untraced


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    declared = _declared()
    harness.prepare_environment()
    import importlib

    # Fails here, before anything starts, when the engine is not present.
    importlib.import_module("flink_emqx_connector_spark.sources.emqx")
    workload = importlib.import_module(f"perfbench.{args.workload}")

    baseline = _untraced_baseline(args) if args.trace else None
    run_id = uuid.uuid4().hex[:12]
    tracer = tracing.Tracer(run_id, enabled=bool(args.trace))
    # Spark and the engine log to stdout in places; the result line must
    # be the last line of stdout, so everything else goes to stderr.
    with contextlib.redirect_stdout(sys.stderr):
        try:
            with tracer.span(f"workload.{args.workload}", "bench"):
                outcome = workload.run(args.seed, args.seconds, tracer)
        except BaseException:
            harness.shutdown_jvm()  # a failed run still leaves no process
            raise

    os.makedirs(os.path.join(harness.OUT, "results"), exist_ok=True)
    if args.trace:
        layers = dict.fromkeys(declared["per_layer"], 0.0)
        layers.update(
            {k: v for k, v in outcome.layers.items() if k in layers}
        )
        self_s = tracing.layer_self_times(tracer.spans)
        for layer in LAYERS:
            layers[f"self_s.{layer}"] = self_s.get(layer, 0.0)
        layers["trace.spans"] = float(len(tracer.spans))
        layers["trace.bookkeeping_ms"] = tracer.bookkeeping_s * 1000
        overhead = {
            k: _overhead_pct(v, baseline[k], declared["better"][k])
            for k, v in outcome.metrics.items()
            if baseline and k in baseline
        }
        # 0 when no untraced run of this workload exists in the checkout;
        # the trace file then records the baseline as null
        layers["trace.overhead_pct"] = overhead.get(OVERHEAD_ON, 0.0)
        tracer.write(
            os.path.join(harness.OUT, f"trace-{args.workload}-{args.seed}.json"),
            {
                "workload": args.workload,
                "seed": args.seed,
                "end_to_end_traced": outcome.metrics,
                "end_to_end_untraced": baseline,
                "overhead_pct": overhead,
                "layer_self_s": self_s,
                "per_layer": layers,
                "layers_measured": outcome.layers,
                "notes": outcome.notes,
            },
        )
        units = declared["per_layer"]
        values = layers
    else:
        with open(_result_path(args.workload, args.seed), "w") as f:
            json.dump(outcome.metrics, f)
        units = declared["end_to_end"]
        values = outcome.metrics
    missing = sorted(set(units) - set(values))
    if missing:
        raise SystemExit(f"workload did not measure {missing}")
    print(json.dumps(outcome.notes, default=str), file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": bool(outcome.correct),
                "attempted": int(outcome.attempted),
                "failed": int(outcome.failed),
                "metrics": {
                    k: {"value": float(values[k]), "unit": units[k]}
                    for k in units
                },
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
