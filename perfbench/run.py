"""Benchmark entry point.

    python3 perfbench/run.py --workload <keyed_count|sessions_timers|batch_panel>
                             --seed <n> --seconds <s> --trace <0|1>

Prints, as the last line of stdout, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  See README.md.
"""

from __future__ import annotations

import argparse
import copy
import json
import os
import shutil
import signal
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402

# Workload parameters.  Open-loop rates are fixed, in events per second.
# keyed_count's 25k is well below half its drain rate: drains on one 4-core
# box ranged from about 130k to 450k ev/s as the host's load changed, and at
# 50k the open loop neared saturation in the slow states, where its latency
# varied 2-3x from run to run.
PARAMS = {
    "keyed_count": {
        "n_keys": 1_000_000, "rate": 25_000, "tick_ms": 100, "closed_files": 8,
        "shuffle_partitions": 8,
        "warmup_events": 20_000, "drain_events": 600_000, "drain_rounds": 2,
        "open_warmup_s": 4,
    },
    "sessions_timers": {
        "n_keys": 50_000, "zipf_s": 1.1, "gap_ms": 2000, "delay_ms": 2000,
        "shuffle_partitions": 8, "live_sessions": 1000, "max_events": 8, "spacing": [0.25, 0.75],
        "cooldown_ms": 20_000, "tick_ms": 100, "closed_files": 8,
        "warmup_span_ms": 5000, "drain_span_ms": 10_000, "drain_rounds": 1,
        "open_warmup_s": 6,
        "late_in_bound_share": 0.02, "late_in_bound_ms": [200, 1500],
        "late_beyond_share": 0.005, "late_beyond_ms": 60_000,
    },
    "batch_panel": {
        "sf": 0.01,
        "queries": ["dedup_resolve_groups", "emb_kmeans_iterate", "q9_profit_by_nation",
                    "q18_large_volume_customers", "dedup_minhash_lsh"],
    },
}
SETUP_REPS = 3

END_TO_END = {
    "throughput_rps": "1/s", "latency_p50_ms": "ms", "wall_s": "s", "setup_s": "s",
}


def per_layer_names() -> list[tuple[str, str]]:
    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as fh:
        return [(m["name"], m["unit"]) for m in json.load(fh)["per_layer"]]


def run_workload(name: str, seed: int, seconds: int, trace: bool,
                 params: dict | None = None) -> dict:
    """Run one workload; return the result object (not yet printed)."""
    p = copy.deepcopy(PARAMS[name])
    p.update(params or {})
    shutil.rmtree(common.WORK, ignore_errors=True)
    common.bootstrap()
    tracer = common.Tracer(trace)
    rss = common.RssSampler()
    n_cores = common.cores()
    with tracer.span("session.get_spark"):
        t = time.perf_counter()
        spark = common.start_spark(f"perfbench_{name}", n_cores, p.get("shuffle_partitions"))
        get_spark_s = time.perf_counter() - t
    rss.start(common.jvm_pid(spark))
    try:
        if name == "batch_panel":
            import batch_panel

            res = batch_panel.run(spark, tracer, p, seed, seconds, SETUP_REPS)
        else:
            import streams

            cls = {"keyed_count": streams.KeyedCount, "sessions_timers": streams.SessionsTimers}
            res = run_stream(cls[name], spark, tracer, p, seed, seconds, n_cores, trace)
    finally:
        peak_mb = rss.stop()
        spark.stop()
    res["layers"]["session.get_spark_s"] = get_spark_s
    res["layers"]["peak_rss_mb"] = peak_mb
    if trace:
        for layer, s in tracer.self_time_by_layer().items():
            res["layers"][f"{layer}.self_s"] = s
        res["layers"]["trace.spans"] = len(tracer.spans)
        res["layers"]["trace.recorder_s"] = tracer.cost_s
        tracer.write(os.path.join(common.OUT, f"spans_{name}_{seed}.json"))
    shutil.rmtree(common.WORK, ignore_errors=True)
    return res


def run_stream(cls, spark, tracer, p, seed, seconds, n_cores, trace) -> dict:
    import streams

    setups, builds, submits, gens, libs = [], [], [], [], []
    w = None
    for rep in range(SETUP_REPS):
        if w is not None:
            w.teardown()
        w = cls(spark, tracer, p, seed, seconds, n_cores)
        t = time.perf_counter()
        with tracer.span("bench.setup"):
            w.setup(rep, common.WORK)
            w.warmup()
        setups.append(time.perf_counter() - t)
        builds.append(w.build_s)
        submits.append(w.submit_s)
        gens.append(w.gen_s)
        libs.append(w.build_s + w.submit_s + w.warmup_s)
    try:
        m = w.measure()
    finally:
        w.teardown()
    if m["late_ms_max"] > p["tick_ms"]:
        raise RuntimeError(f"generator fell {m['late_ms_max']:.0f} ms behind (tick "
                           f"{p['tick_ms']} ms): run invalid")
    r = w.results(m)
    lat = r["latency"]
    e2e = {
        "throughput_rps": m["drain_rps"],
        "latency_p50_ms": common.pct(lat, 0.5),
        "wall_s": m["drain_wall"],
        "setup_s": common.median(setups),
    }
    layers = w.layer_metrics(m, r)
    layers.update({
        "latency.p90_ms": common.pct(lat, 0.9),
        "datastream.build_ms": common.median(builds) * 1000,
        "jobs.submit_s": common.median(submits), "trace.wall_s": m["drain_wall"],
        "setup.generator_s": common.median(gens), "setup.library_s": common.median(libs),
    })
    if trace and cls is streams.KeyedCount:
        layers["baseline.local1_drain_rps"] = local1_drain(spark, p, seed)
    return {"e2e": e2e, "layers": layers, "attempted": len(m["all"]), "failed": r["failed"]}


def local1_drain(spark, p, seed) -> float:
    """Single-core baseline: the keyed_count drain on a ``local[1]`` session."""
    import streams

    spark.stop()
    spark1 = common.start_spark("perfbench_local1", 1, p["shuffle_partitions"])
    w = streams.KeyedCount(spark1, common.Tracer(False), dict(p, drain_rounds=1), seed, 1, 1)
    try:
        w.setup(0, os.path.join(common.WORK, "local1"))
        w.warmup()
        m = w.measure()
    finally:
        w.teardown()
    spark1.stop()
    return m["drain_rps"]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(PARAMS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    # A terminated run still stops what it started (the ``finally`` below).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        res = run_workload(a.workload, a.seed, a.seconds, bool(a.trace))
    finally:
        common.stop_all_processes()
    print(json.dumps(result_line(res, bool(a.trace))))
    return 0


def result_line(res: dict, trace: bool) -> dict:
    """The printed result: end-to-end metrics, or with ``trace`` every
    per-layer metric of BENCHMARK.json (0 where the workload does not
    touch that layer)."""
    if trace:
        metrics = {n: {"value": float(res["layers"].get(n, 0.0)), "unit": u}
                   for n, u in per_layer_names()}
    else:
        metrics = {n: {"value": float(res["e2e"][n]), "unit": u} for n, u in END_TO_END.items()}
    return {"correct": res["failed"] == 0, "attempted": res["attempted"],
            "failed": res["failed"], "metrics": metrics}


if __name__ == "__main__":
    sys.exit(main())
