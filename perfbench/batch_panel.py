"""The ``batch_panel`` workload: one client runs the query list in a closed
loop over seeded tables.

Every execution builds the query and collects it fresh, then calls
``tables.release_persisted``, so the JVM stays warm but no pass replays an
earlier pass's caches.  Results are compared with the query's
``queries.ORACLES`` SQL on DuckDB using the canonicalization of
``tests/conftest.py``; the expected rows are computed before the timed
passes.
"""

from __future__ import annotations

import importlib.util
import os
import time

import duckdb

import common
import tables_gen


def _conftest():
    spec = importlib.util.spec_from_file_location(
        "perfbench_conftest", os.path.join(common.ROOT, "tests", "conftest.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _task_time_s(spark, group: str) -> float:
    """Summed executor run time of every stage of the jobs tagged ``group``
    (``metrics.JobGroupMetrics`` carries bytes and stage counts only)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    stage_ids = set()
    for i in range(jobs.size()):
        j = jobs.apply(i)
        if j.jobGroup().isDefined() and j.jobGroup().get() == group:
            sids = j.stageIds()
            stage_ids |= {sids.apply(k) for k in range(sids.size())}
    defaults = [getattr(store, f"stageData$default${i}")() for i in (2, 3, 4, 5)]
    total_ms = 0
    for sid in stage_ids:
        attempts = store.stageData(sid, *defaults)
        for a in range(attempts.size()):
            total_ms += attempts.apply(a).executorRunTime()
    return total_ms / 1000


def expected_rows(sf_dir: str, queries: list[str], canon_rows) -> dict[str, list]:
    from flink_net_spark.queries import ORACLES
    from flink_net_spark.tables import TABLE_NAMES, table_path

    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{table_path(sf_dir, name)}')")
    out = {}
    for q in queries:
        res = con.execute(ORACLES[q])
        out[q] = canon_rows(res.fetchall(), [d[0] for d in res.description])
    con.close()
    return out


class Panel:
    def __init__(self, spark, tracer, queries: list[str], sf_dir: str, expected: dict,
                 canon_rows):
        self.spark, self.tracer, self.queries = spark, tracer, queries
        self.sf_dir, self.expected, self.canon_rows = sf_dir, expected, canon_rows
        self.attempted = self.failed = 0
        self.per_query: dict[str, list[dict]] = {q: [] for q in queries}
        self.mismatched: list[str] = []

    def execute(self, q: str, trace_id: str) -> float:
        """Build, collect and release one query; returns its wall seconds."""
        from flink_net_spark.queries import QUERIES
        from flink_net_spark.tables import release_persisted

        rec: dict = {}

        def build_and_collect():
            t0 = time.perf_counter()
            with self.tracer.span(f"queries.{q}.build"):
                df = QUERIES[q](self.spark, self.sf_dir)
            t1 = time.perf_counter()
            with self.tracer.span(f"queries.{q}.exec"):
                rows = [tuple(r) for r in df.collect()]
            rec.update(build_s=t1 - t0, exec_s=time.perf_counter() - t1)
            return df, rows

        self.attempted += 1
        t0 = time.perf_counter()
        with self.tracer.span("queries.run", trace=trace_id):
            try:
                if self.tracer.enabled:
                    from flink_net_spark.metrics import measure_job_metrics

                    group = f"perfbench_{trace_id}"
                    with self.tracer.span("metrics.measure_job_metrics"):
                        jm, (df, rows) = measure_job_metrics(self.spark, build_and_collect,
                                                             group=group)
                    rec.update(task_s=_task_time_s(self.spark, group), stages=jm.n_stages,
                               shuffle_write_bytes=jm.shuffle_write_bytes,
                               spill_bytes=jm.spill_bytes)
                else:
                    df, rows = build_and_collect()
                with self.tracer.span("tables.release_persisted"):
                    release_persisted(df)
            except Exception as exc:  # a failed query counts; the pass goes on
                import traceback

                traceback.print_exc()
                self.failed += 1
                self.mismatched.append(f"{q}: {type(exc).__name__}")
                return time.perf_counter() - t0
        wall = time.perf_counter() - t0
        if self.canon_rows(rows, df.columns) != self.expected[q]:
            self.failed += 1
            self.mismatched.append(q)
        rec["wall_s"] = wall
        self.per_query[q].append(rec)
        return wall

    def run_pass(self, tag: str) -> tuple[float, list[float]]:
        t0 = time.perf_counter()
        walls = [self.execute(q, f"{tag}-{q}") for q in self.queries]
        return time.perf_counter() - t0, walls


def run(spark, tracer, p: dict, seed: int, seconds: int, reps: int) -> dict:
    """``reps`` set-ups, each: generate the tables and ``tables.load_tables``;
    then one untimed warm-up pass and the timed passes on the last set-up's
    tables.  Set-up leaves the warm-up pass out: one pass in each set-up
    would not fit a run's time budget."""
    from flink_net_spark.tables import load_tables

    canon_rows = _conftest()._canon_rows
    rdds_before = _persistent_rdds(spark)
    setups, gens, loads = [], [], []
    expected = None
    for rep in range(reps):
        sf_dir = os.path.join(common.WORK, f"sf_rep{rep}")
        t = time.perf_counter()
        with tracer.span("bench.setup"), tracer.span("generator.tables"):
            tables_gen.write_tables(sf_dir, p["sf"], seed)
        gens.append(time.perf_counter() - t)
        if expected is None:  # oracle work is not part of set-up
            with tracer.span("bench.oracle"):
                expected = expected_rows(sf_dir, p["queries"], canon_rows)
        t = time.perf_counter()
        with tracer.span("bench.setup"), tracer.span("tables.load"):
            load_tables(spark, sf_dir)
        loads.append(time.perf_counter() - t)
        setups.append(gens[-1] + loads[-1])

    panel = Panel(spark, tracer, p["queries"], sf_dir, expected, canon_rows)
    with tracer.span("bench.warmup"):
        panel.run_pass("warmup")
    for q in panel.per_query:
        panel.per_query[q].clear()

    # At least two timed passes; a further one only if it would, at the
    # last pass's pace, end within ``seconds``.
    passes, lat = [], []
    t_start = time.perf_counter()
    while len(passes) < 2 or time.perf_counter() - t_start + passes[-1] <= seconds:
        with tracer.span("bench.pass"):
            wall, walls = panel.run_pass(f"pass{len(passes)}")
        passes.append(wall)
        lat.extend(w * 1000 for w in walls)
    timed = time.perf_counter() - t_start
    leaked = _persistent_rdds(spark) - rdds_before
    if panel.mismatched:
        import sys

        print(f"batch_panel: results differ from the oracle: {panel.mismatched}", file=sys.stderr)

    layers = {"tables.load_s": common.median(loads), "tables.persisted_rdds_leaked": leaked,
              "latency.samples": len(lat), "latency.p90_ms": common.pct(lat, 0.9),
              "trace.wall_s": common.median(passes),
              "setup.generator_s": common.median(gens), "setup.library_s": common.median(loads)}
    for q, recs in panel.per_query.items():
        for key in ("build_s", "exec_s", "task_s", "stages", "shuffle_write_bytes", "spill_bytes"):
            vals = [r[key] for r in recs if key in r]
            layers[f"queries.{q}.{key}"] = common.median(vals)
    e2e = {
        "throughput_rps": len(lat) / timed,
        "latency_p50_ms": common.pct(lat, 0.5),
        "wall_s": common.median(passes),
        "setup_s": common.median(setups),
    }
    return {"e2e": e2e, "layers": layers, "attempted": panel.attempted, "failed": panel.failed}
