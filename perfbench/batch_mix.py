"""``batch_mix``: sf0.1 tables generated from the seed with
``dev/gen_testdata.generate``; a fixed, ordered list of registry queries
runs as one first pass and then steady passes in one engine session.

The dedup family is bound by driver-side plan construction (``q.spark()``
materializes and loops on the driver); the relational family is bound by
execution. A query is timed as build (``q.spark``) plus execution into the
``noop`` sink, and costed as the CPU time every process of the run spent
meanwhile. Results are checked against the DuckDB oracle with
``plans.check.compare_query`` after the timed passes."""

from __future__ import annotations

import contextlib
import glob
import importlib.util
import json
import os
import shutil
import sys
import time

from perfbench import harness, stats

SCALE = 0.1
MIN_STEADY_PASSES = 4
MAX_STEADY_PASSES = 6
#: (family, queries), in the order they run
#: sized so that a run fits the benchmark's time budget: MinHash-LSH is the
#: dedup family's most expensive plan build, and the relational queries
#: spend most of their time executing
FAMILIES = (
    ("dedup", ("dedup_minhash_lsh",)),
    ("relational", ("q18_large_orders", "q21_last_shipper_census")),
)
PASS_PROPERTY = "perfbench.pass"


def generate_tables(out_dir: str, seed: int) -> None:
    path = os.path.join(harness.ROOT, "dev", "gen_testdata.py")
    spec = importlib.util.spec_from_file_location("perfbench_gen_testdata", path)
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    with contextlib.redirect_stdout(sys.stderr):
        gen.generate(out_dir, SCALE, seed=seed)


def run_pass(spark, sf_dir: str, label: str, tracer, out) -> dict[str, dict]:
    """Run every query once; returns ``{family: {"build": s, "exec": s,
    "cpu": s}}``, ``cpu`` being the CPU time of every process over build
    and execution. A query that raises counts as failed and its time is
    not added."""
    from flink_emqx_connector_spark.plans import QUERIES

    times: dict[str, dict] = {}
    with tracer.span(f"phase.pass.{label}", "bench"):
        for family, names in FAMILIES:
            spark.sparkContext.setLocalProperty(PASS_PROPERTY, f"{label}/{family}")
            t = times[family] = {"build": 0.0, "exec": 0.0, "cpu": 0.0}
            for name in names:
                c0 = harness.tree_cpu_s()
                try:
                    with tracer.span(f"plans.build.{name}", "plans"):
                        t0 = time.perf_counter()
                        df = QUERIES[name].spark(spark, sf_dir)
                        t1 = time.perf_counter()
                    with tracer.span(f"operators.exec.{name}", "operators"):
                        df.write.format("noop").mode("overwrite").save()
                        t2 = time.perf_counter()
                except Exception as e:  # a failed query is a counted result
                    out.fail(f"{label} {name}: {e!r}"[:300])
                    continue
                t["build"] += t1 - t0
                t["exec"] += t2 - t1
                t["cpu"] += harness.tree_cpu_s() - c0
    spark.sparkContext.setLocalProperty(PASS_PROPERTY, None)
    return times


def storage_mb(spark) -> float:
    """Memory and disk held by cached and checkpointed blocks."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def event_log_stages(log_dir: str) -> dict[str, dict[str, float]]:
    """Per pass label: jobs, executor run time, GC time, shuffle bytes
    written and bytes spilled, summed from the event log's task ends."""
    paths = sorted(glob.glob(os.path.join(log_dir, "*")), key=os.path.getmtime)
    if not paths:
        return {}
    stage_label: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    with open(paths[-1]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                label = (ev.get("Properties") or {}).get(PASS_PROPERTY)
                if label is None:
                    continue
                agg = out.setdefault(label, dict.fromkeys(
                    ("jobs", "executor_run_s", "gc_s", "shuffle_mb", "spill_mb"), 0.0
                ))
                agg["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_label.setdefault(sid, label)
            elif kind == "SparkListenerTaskEnd":
                label = stage_label.get(ev.get("Stage ID"))
                m = ev.get("Task Metrics")
                if label is None or not m:
                    continue
                agg = out[label]
                agg["executor_run_s"] += m.get("Executor Run Time", 0) / 1000
                agg["gc_s"] += m.get("JVM GC Time", 0) / 1000
                agg["shuffle_mb"] += (
                    m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    / 2**20
                )
                agg["spill_mb"] += (
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                ) / 2**20
    return out


def run(seed: int, seconds: float, tracer) -> harness.Outcome:
    from flink_emqx_connector_spark.plans.check import compare_query

    out = harness.Outcome()
    sf_dir = os.path.join(harness.OUT, "data", f"sf{SCALE}-seed{seed}")
    shutil.rmtree(sf_dir, ignore_errors=True)
    with tracer.span("phase.generate", "bench"):
        generate_tables(sf_dir, seed)
    log_dir = os.path.join(harness.OUT, "eventlog")
    extra = {}
    if tracer.enabled:
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }

    spark, session_s = harness.session_setups(tracer, extra)
    t0 = time.perf_counter()
    with tracer.span("phase.warm_up", "bench"):
        harness.warm_up(spark, tracer)
    warmup_s = time.perf_counter() - t0

    passes = [run_pass(spark, sf_dir, "first", tracer, out)]
    storage = [storage_mb(spark)]
    t_start = time.perf_counter()
    while len(passes) - 1 < MIN_STEADY_PASSES or (
        time.perf_counter() - t_start < seconds
        and len(passes) - 1 < MAX_STEADY_PASSES
    ):
        passes.append(run_pass(spark, sf_dir, f"steady{len(passes)}", tracer, out))
        storage.append(storage_mb(spark))

    with tracer.span("phase.check", "bench"):
        for _family, names in FAMILIES:
            for name in names:
                out.attempted += 1
                try:
                    ok = compare_query(spark, sf_dir, name).get("ok")
                except Exception as e:  # a failed check is a counted result
                    ok = False
                    out.notes.setdefault("check_errors", []).append(
                        f"{name}: {e!r}"[:300]
                    )
                if not ok:
                    out.correct = False
                    out.fail(f"{name} does not match the oracle")
    harness.shutdown_jvm(spark)
    shutil.rmtree(sf_dir, ignore_errors=True)

    n_queries = sum(len(names) for _f, names in FAMILIES)
    pass_s = [sum(t["build"] + t["exec"] for t in p.values()) for p in passes]
    pass_cpu_s = [sum(t["cpu"] for t in p.values()) for p in passes]
    steady = passes[1:]
    # what a long session pays per query: the steady passes' CPU over
    # their queries. A sum, not a median of passes: the passes still speed
    # up, and which one a compilation lands in varies from run to run.
    steady_cpu_s = pass_cpu_s[1:]
    out.metrics = {
        "setup_s": session_s + warmup_s,
        "cpu_ms_per_item": sum(steady_cpu_s) / (n_queries * len(steady_cpu_s)) * 1000,
    }
    # passes are the items of the wall times; too few passes for a
    # percentile, the tail is the slowest pass, the first
    tail_pct, tail, _n = stats.tail_percentile(pass_s)
    wall = {
        "wall.items_per_s": n_queries / stats.median(pass_s[1:]),
        "wall.latency_p50_ms": stats.median(pass_s[1:]) * 1000,
        "wall.latency_tail_ms": tail * 1000,
    }
    layers = out.layers
    layers.update(wall)
    layers["cold.cpu_ms_per_item"] = pass_cpu_s[0] / n_queries * 1000
    for family, _names in FAMILIES:
        first = passes[0][family]
        layers[f"{family}_first_s"] = first["build"] + first["exec"]
        layers[f"{family}_steady_s"] = stats.median(
            p[family]["build"] + p[family]["exec"] for p in steady
        )
        layers[f"{family}.build_s_first"] = first["build"]
        layers[f"{family}.exec_s_first"] = first["exec"]
        layers[f"{family}.build_s_steady"] = stats.median(
            p[family]["build"] for p in steady
        )
        layers[f"{family}.exec_s_steady"] = stats.median(
            p[family]["exec"] for p in steady
        )
        layers[f"{family}.cpu_s_first"] = first["cpu"]
        layers[f"{family}.cpu_s_steady"] = stats.median(
            p[family]["cpu"] for p in steady
        )
    if tracer.enabled:
        by_label = event_log_stages(log_dir)
        for family, _names in FAMILIES:
            rows = [v for k, v in by_label.items()
                    if k.startswith("steady") and k.endswith("/" + family)]
            for key in ("jobs", "executor_run_s", "gc_s", "shuffle_mb", "spill_mb"):
                layers[f"spark.{key}.{family}"] = stats.median(r[key] for r in rows)
        layers["spark.storage_mb"] = max(storage)
        out.notes["event_log"] = by_label
    layers["session.get_spark_s"] = session_s
    layers["session.warmup_s"] = warmup_s
    out.notes.update(
        wall=wall, pass_s=pass_s, pass_cpu_s=pass_cpu_s,
        latency_tail_percentile=tail_pct,
        families={f: [p[f] for p in passes] for f, _n in FAMILIES},
    )
    return out
