"""The two stream workloads: ``keyed_count`` and ``sessions_timers``.

Both run the same three phases against one job submitted through
``jobs.JobManager``:

* set-up, repeated: generate the inputs, build the pipeline, submit the
  job and warm it up on a small backlog; the last set-up's job is kept;
* drain (closed loop), ``drain_rounds`` times: a fixed pre-staged backlog
  released at once; ``throughput_rps`` is the median over rounds of its
  events over the wall time from the first trigger's start to the last
  sink commit;
* open loop: the generator process releases files on a fixed schedule;
  latency is sink-commit time minus the due time of the newest event in a
  result row, over rows committed after the open-loop warm-up.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import duckdb

from common import BENCH_DIR, add_trigger_spans, median, pct, progress_start

GEN = os.path.join(BENCH_DIR, "gen.py")


class Generator:
    """The single-threaded generator process of one set-up."""

    def __init__(self, cfg: dict, work: str):
        path = os.path.join(work, "gen.json")
        with open(path, "w") as fh:
            json.dump(cfg, fh)
        self.proc = subprocess.Popen([sys.executable, GEN, path], stdin=subprocess.PIPE,
                                     stdout=subprocess.PIPE, text=True)
        self._reply()  # inputs written

    def _reply(self) -> dict:
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError(f"generator exited with {self.proc.wait()}")
        return json.loads(line)

    def send(self, cmd: str) -> dict:
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()
        return self._reply()

    def close(self) -> None:
        if self.proc.poll() is None:
            try:
                self.proc.stdin.write("quit\n")
                self.proc.stdin.flush()
            except OSError:
                pass
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()


class TimedSink:
    """Wraps a ``foreachBatch`` sink; records each call's wall interval and
    whether the batch was a replay the sink skipped."""

    def __init__(self, sink):
        self.sink = sink
        self.calls: dict[int, tuple[float, float]] = {}
        self.replayed = 0

    def __call__(self, batch_df, batch_id: int) -> None:
        t0 = time.time()
        if batch_id in self.sink.committed_batches():
            self.replayed += 1
        self.sink(batch_df, batch_id)
        self.calls[batch_id] = (t0, time.time())


def _dir_stats(path: str) -> tuple[int, int]:
    n, size = 0, 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


class StreamWorkload:
    """One workload = a pipeline, an input config and a checker."""

    name = ""
    state_layer = ""

    def __init__(self, spark, tracer, params: dict, seed: int, seconds: int, n_cores: int):
        self.spark, self.tracer, self.p = spark, tracer, params
        self.seed, self.seconds, self.n_cores = seed, seconds, n_cores
        self.gen: Generator | None = None
        self.client = None

    # -- hooks -------------------------------------------------------------
    def gen_config(self) -> dict:
        raise NotImplementedError

    def build(self, src: str):
        """Return the result DataFrame of the pipeline over ``src``."""
        raise NotImplementedError

    output_mode = "update"

    # -- set-up --------------------------------------------------------------
    def setup(self, rep: int, work: str) -> None:
        from flink_net_spark.jobs import JobManager, JobSpec
        from flink_net_spark.sinks import TransactionalParquetSink

        self.work = os.path.join(work, f"rep{rep}")
        os.makedirs(self.work)
        self.src = os.path.join(self.work, "source")
        self.out = os.path.join(self.work, "out")
        cfg = dict(self.gen_config(), seed=self.seed, staging=os.path.join(self.work, "staging"),
                   source=self.src)
        self.cfg = cfg
        t = time.perf_counter()
        with self.tracer.span("generator.prepare"):
            self.gen = Generator(cfg, self.work)
        self.gen_s = time.perf_counter() - t
        t = time.perf_counter()
        result = self.build(self.src)
        self.build_s = time.perf_counter() - t
        self.sink = TimedSink(TransactionalParquetSink(self.out))
        spec = JobSpec(
            name=f"{self.name}_{rep}",
            checkpoint=os.path.join(self.work, "ckpt"),
            build=lambda _s: result.writeStream.foreachBatch(self.sink).outputMode(self.output_mode),
        )
        t = time.perf_counter()
        with self.tracer.span("jobs.submit"):
            self.client = JobManager(self.spark).submit(spec)
        self.submit_s = time.perf_counter() - t

    def warmup(self) -> None:
        t = time.perf_counter()
        with self.tracer.span("bench.warmup"):
            self.gen.send("release warmup")
            self.client.query.processAllAvailable()
        self.warmup_s = time.perf_counter() - t

    def teardown(self) -> None:
        if self.client is not None:
            self.client.stop()
            self.client.await_termination(60)
            self.client = None
        if self.gen is not None:
            self.gen.close()
            self.gen = None

    # -- measurement -----------------------------------------------------------
    def _progress(self) -> list[dict]:
        return [json.loads(p.json) if hasattr(p, "json") else p
                for p in self.client.query.recentProgress]

    def measure(self) -> dict:
        q = self.client.query
        drains = []
        for r in range(self.p["drain_rounds"]):
            n0 = len(self._progress())
            with self.tracer.span("bench.drain") as drain_span:
                self.gen.send(f"release drain{r}")
                q.processAllAvailable()
            prog = self._progress()
            add_trigger_spans(self.tracer, prog[n0:], self.sink.calls, self.state_span,
                              self.n_cores, drain_span)
            drain = [p for p in prog[n0:] if p["numInputRows"] > 0]
            first = min(progress_start(p) for p in drain)
            last_commit = max(self.sink.calls[p["batchId"]][1] for p in drain)
            drains.append((sum(p["numInputRows"] for p in drain), last_commit - first))
        n_open = len(self._progress())
        t0 = self.t0 = time.time() + 0.3
        with self.tracer.span("bench.open_loop") as open_span:
            done = self.gen.send(f"open {t0}")
            q.processAllAvailable()
            self._wait_tail()
        t_end = self.t_end = done["end"]
        prog = self._progress()
        open_prog = prog[n_open:]
        add_trigger_spans(self.tracer, open_prog, self.sink.calls, self.state_span, self.n_cores,
                          open_span)
        warm_cut = t0 + self.p["open_warmup_s"]
        measured = [p for p in open_prog if progress_start(p) >= warm_cut]
        released = sum(p["numInputRows"] for p in prog[:n_open]) + self.open_rows()
        taken = sum(p["numInputRows"] for p in prog if progress_start(p) <= t_end)
        return {
            "drain_rps": median(n / wall for n, wall in drains),
            "drain_wall": median(wall for _n, wall in drains),
            "measured": measured, "late_ms_max": done["late_ms_max"],
            "backlog_rows_end": released - taken, "all": prog, "warm_cut": warm_cut,
        }

    def _wait_tail(self) -> None:
        """Wait until the job has processed everything released."""

    def open_rows(self) -> int:
        raise NotImplementedError

    # -- results ---------------------------------------------------------------
    def commit_table(self, con) -> None:
        rows = [(b, c1) for b, (_c0, c1) in self.sink.calls.items()]
        con.execute("CREATE TABLE commits(batch_id BIGINT, commit_s DOUBLE)")
        if rows:
            con.executemany("INSERT INTO commits VALUES (?, ?)", rows)

    def layer_metrics(self, m: dict, r: dict) -> dict:
        """Per-layer metrics shared by the stream workloads; medians over the
        measured open-loop triggers."""
        meas = m["measured"]
        dur = lambda key: [p["durationMs"].get(key, 0) for p in meas]  # noqa: E731
        calls = [(self.sink.calls[p["batchId"]][1] - self.sink.calls[p["batchId"]][0]) * 1000
                 for p in meas if p["batchId"] in self.sink.calls]
        n_files, n_bytes = _dir_stats(self.out)
        return {
            "sources.latest_offset_ms": median(dur("latestOffset")),
            "sources.get_batch_ms": median(dur("getBatch")),
            "sources.rows_per_trigger": median(p["numInputRows"] for p in meas),
            "sources.backlog_rows_end": m["backlog_rows_end"],
            "generator.late_ms_max": m["late_ms_max"],
            "jobs.trigger_ms": median(dur("triggerExecution")),
            "jobs.query_planning_ms": median(dur("queryPlanning")),
            "jobs.wal_commit_ms": median(dur("walCommit")),
            "jobs.commit_offsets_ms": median(dur("commitOffsets")),
            "jobs.add_batch_ms": median(dur("addBatch")),
            "jobs.triggers": len(meas),
            "sinks.call_ms": median(calls),
            "sinks.rows_written": r["sink_rows"],
            "sinks.files_written": n_files,
            "sinks.bytes_written": n_bytes,
            "sinks.replayed_batches": self.sink.replayed,
            f"{self.state_layer}.state_commit_ms": median(_state_sum(p, "commitTimeMs")
                                                          for p in meas),
            f"{self.state_layer}.state_rows_total": max(
                (_state_sum(p, "numRowsTotal") for p in m["all"]), default=0),
            "latency.samples": len(r["latency"]),
        }


def _state_sum(progress: dict, key: str) -> int:
    return sum(o.get(key, 0) for o in progress.get("stateOperators", []))


# ---------------------------------------------------------------------------

class KeyedCount(StreamWorkload):
    """FileSource → map → key_by().reduce(count, sum, max(created)) →
    TransactionalParquetSink: the reference's stress pipeline."""

    name = "keyed_count"
    state_layer = "datastream"
    state_span = "datastream.state_commit"
    schema = "key BIGINT, value BIGINT, created_ms BIGINT"

    def gen_config(self) -> dict:
        p = self.p
        return {
            "kind": "keyed_count", "n_keys": p["n_keys"], "rate": p["rate"], "tick_ms": p["tick_ms"],
            "warmup_events": p["warmup_events"], "warmup_files": p["closed_files"],
            "drain_events": p["drain_events"], "drain_files": p["closed_files"],
            "drain_rounds": p["drain_rounds"],
            "open_ticks": self.seconds * 1000 // p["tick_ms"],
        }

    def build(self, src: str):
        import pyspark.sql.functions as F

        from flink_net_spark.datastream import StreamExecutionEnvironment
        from flink_net_spark.sources import FileSource

        env = StreamExecutionEnvironment(self.spark)
        with self.tracer.span("sources.load"):
            ds = env.from_source(FileSource(src, format="parquet", schema=self.schema))
        with self.tracer.span("datastream.build"):
            return (
                ds.map(key=F.col("key"), amount=F.col("value") * 2, created_ms=F.col("created_ms"))
                .key_by("key")
                .reduce(n=F.count(F.lit(1)), total=F.sum("amount"), newest_ms=F.max("created_ms"))
                .df
            )

    def open_rows(self) -> int:
        return self.cfg["open_ticks"] * (self.p["rate"] * self.p["tick_ms"] // 1000)

    def layer_metrics(self, m: dict, r: dict) -> dict:
        out = super().layer_metrics(m, r)
        ops = [o for p in m["all"] for o in p.get("stateOperators", [])]
        out["datastream.state_commit_ms_p90"] = pct(
            [_state_sum(p, "commitTimeMs") for p in m["measured"]], 0.9)
        out["datastream.state_memory_bytes"] = ops[-1].get("memoryUsedBytes", 0) if ops else 0
        return out

    def results(self, m: dict) -> dict:
        """Latency samples and the reference check over every released event."""
        con = duckdb.connect()
        self.commit_table(con)
        con.execute(f"""CREATE VIEW sink AS SELECT * FROM read_parquet(
            '{self.out}/batch_id=*/*.parquet', hive_partitioning = 1)""")
        lat = con.execute(f"""
            SELECT (c.commit_s - {self.t0}) * 1000 - s.newest_ms AS ms
            FROM sink s JOIN commits c USING (batch_id)
            WHERE s.newest_ms >= 0 AND c.commit_s >= {m['warm_cut']}""").fetchnumpy()["ms"]
        bad = con.execute(f"""
            WITH final AS (
                SELECT key, arg_max(n, batch_id) AS n, arg_max(total, batch_id) AS total,
                       max(batch_id) AS batch_id
                FROM sink GROUP BY key),
            ref AS (
                SELECT key, count(*) AS n, sum(value * 2) AS total
                FROM read_parquet('{self.src}/*.parquet') GROUP BY key)
            SELECT f.batch_id, r.key IS NULL AS extra, f.key IS NULL AS missing
            FROM final f FULL OUTER JOIN ref r USING (key)
            WHERE f.n IS DISTINCT FROM r.n OR f.total IS DISTINCT FROM r.total""").fetchall()
        dup = con.execute("""SELECT count(*) FROM (
            SELECT batch_id, key FROM sink GROUP BY ALL HAVING count(*) > 1)""").fetchone()[0]
        rows = con.execute("SELECT count(*) FROM sink").fetchone()[0]
        con.close()
        if bad or dup:
            print(f"keyed_count: {len(bad)} keys differ from the reference, {dup} duplicated",
                  file=sys.stderr)
        failed_batches = {b for b, _e, missing in bad if not missing}
        failed = len(failed_batches) + (1 if any(mis for _b, _e, mis in bad) else 0) + (dup > 0)
        return {"latency": lat.tolist(), "failed": failed, "sink_rows": rows}


class SessionsTimers(StreamWorkload):
    """FileSource → with_bounded_out_of_orderness → idle_session_timeout
    (Python keyed state and event-time timers) → TransactionalParquetSink."""

    name = "sessions_timers"
    state_layer = "stateful"
    state_span = "stateful.state_commit"
    output_mode = "append"
    schema = "key BIGINT, ts TIMESTAMP, created_ms BIGINT, kind TINYINT"

    def gen_config(self) -> dict:
        p = self.p
        open_ms = self.seconds * 1000
        return {
            "kind": "sessions_timers", "n_keys": p["n_keys"], "zipf_s": p["zipf_s"],
            "gap_ms": p["gap_ms"], "live_sessions": p["live_sessions"],
            "max_events": p["max_events"], "spacing": p["spacing"],
            "cooldown_ms": p["cooldown_ms"], "tick_ms": p["tick_ms"],
            "timeline_ms": [-(p["warmup_span_ms"] + p["drain_span_ms"]), open_ms],
            "drain_span_ms": p["drain_span_ms"], "closed_files": p["closed_files"],
            "late_in_bound_share": p["late_in_bound_share"],
            "late_in_bound_ms": p["late_in_bound_ms"],
            "late_beyond_share": p["late_beyond_share"], "late_beyond_ms": p["late_beyond_ms"],
            "late_beyond_window_ms": [p["open_warmup_s"] * 1000, open_ms - p["gap_ms"]],
        }

    def build(self, src: str):
        from flink_net_spark.datastream import StreamExecutionEnvironment
        from flink_net_spark.sources import FileSource
        from flink_net_spark.streaming import with_bounded_out_of_orderness
        from flink_net_spark.streaming.stateful import idle_session_timeout

        env = StreamExecutionEnvironment(self.spark)
        with self.tracer.span("sources.load"):
            ds = env.from_source(FileSource(src, format="parquet", schema=self.schema))
        with self.tracer.span("streaming.watermark"):
            wm = with_bounded_out_of_orderness(ds.df, "ts", f"{self.p['delay_ms'] // 1000} seconds")
        with self.tracer.span("stateful.build"):
            return idle_session_timeout(wm, "key", "ts", self.p["gap_ms"])

    def layer_metrics(self, m: dict, r: dict) -> dict:
        from gen import BASE_TS_MS

        out = super().layer_metrics(m, r)
        lags = []
        for p in m["measured"]:
            wm = p.get("eventTime", {}).get("watermark")
            if wm:
                wm_offset = progress_start({"timestamp": wm}) - BASE_TS_MS / 1000
                lags.append((progress_start(p) - self.t0 - wm_offset) * 1000)
        out["streaming.watermark_lag_ms"] = median(lags)
        out["streaming.late_rows_dropped"] = r["late_rows_dropped"]
        out["stateful.state_rows_removed"] = sum(_state_sum(p, "numRowsRemoved") for p in m["all"])
        return out

    def open_rows(self) -> int:
        con = duckdb.connect()
        n = con.execute(f"""SELECT count(*) FROM read_parquet(
            '{self.src}/open-*.parquet')""").fetchone()[0]
        con.close()
        return n

    def _wait_tail(self) -> None:
        # The final far-future event moves the watermark; sessions close in
        # the no-data batch after it, which processAllAvailable may not wait
        # for.  Wait until a batch runs with that watermark.
        from gen import BASE_TS_MS

        closer_ms = BASE_TS_MS + self.cfg["timeline_ms"][1] + 10 * self.p["cooldown_ms"]
        deadline = time.time() + 60
        q = self.client.query
        while time.time() < deadline:
            lp = q.lastProgress
            if lp is not None:
                lp = json.loads(lp.json) if hasattr(lp, "json") else lp
                wm = lp.get("eventTime", {}).get("watermark")
                if lp["numInputRows"] == 0 and wm and \
                        progress_start({"timestamp": wm}) * 1000 >= closer_ms - self.p["delay_ms"]:
                    return
            time.sleep(0.1)
        raise TimeoutError("sessions did not close after the final event")

    def results(self, m: dict) -> dict:
        from gen import BASE_TS_MS, CLOSER_KEY, LATE_BEYOND

        p = self.p
        con = duckdb.connect()
        self.commit_table(con)
        con.execute(f"""CREATE VIEW sink AS SELECT * FROM read_parquet(
            '{self.out}/batch_id=*/*.parquet', hive_partitioning = 1)""")
        close_at = self.t_end
        lat = con.execute(f"""
            SELECT (c.commit_s - {self.t0}) * 1000
                   - (s.session_end_ms - {BASE_TS_MS} + {p['delay_ms']}) AS ms
            FROM sink s JOIN commits c USING (batch_id)
            WHERE s.session_end_ms - {BASE_TS_MS} - {p['gap_ms']} >= 0
              AND c.commit_s >= {m['warm_cut']} AND c.commit_s < {close_at}""").fetchnumpy()["ms"]
        con.execute(f"""CREATE VIEW ev AS SELECT key, epoch_ms(ts) AS t, kind
            FROM read_parquet('{self.src}/*.parquet')""")
        bad = con.execute(f"""
            WITH e AS (
                SELECT key, t, CASE WHEN t - lag(t) OVER (PARTITION BY key ORDER BY t)
                                         < {p['gap_ms']} THEN 0 ELSE 1 END AS new_s
                FROM ev WHERE kind < {LATE_BEYOND} AND key <> {CLOSER_KEY}),
            s AS (SELECT key, t, sum(new_s) OVER (PARTITION BY key ORDER BY t) AS sid FROM e),
            ref AS (SELECT key AS k, min(t) AS session_start_ms,
                           max(t) + {p['gap_ms']} AS session_end_ms, count(*) AS n_events
                    FROM s GROUP BY key, sid),
            got AS (SELECT k, session_start_ms, session_end_ms, n_events, batch_id FROM sink)
            SELECT g.batch_id, r.k IS NULL AS extra, g.k IS NULL AS missing,
                   coalesce(g.k, r.k), g.session_start_ms, r.session_start_ms,
                   g.session_end_ms, r.session_end_ms, g.n_events, r.n_events
            FROM got g FULL OUTER JOIN ref r
              USING (k, session_start_ms, session_end_ms, n_events)
            WHERE g.k IS NULL OR r.k IS NULL""").fetchall()
        if bad:
            extra = [b for b in bad if b[1]]
            print(f"sessions_timers: {len(bad)} sessions differ ({len(extra)} unexpected), "
                  f"first: {bad[:3]} {extra[:3]}", file=sys.stderr)
        beyond = con.execute(f"SELECT count(*) FROM ev WHERE kind = {LATE_BEYOND}").fetchone()[0]
        rows = con.execute("SELECT count(*) FROM sink").fetchone()[0]
        con.close()
        dropped = sum(_state_sum(p, "numRowsDroppedByWatermark") for p in m["all"])
        failed_batches = {b[0] for b in bad if not b[2]}
        failed = len(failed_batches) + (1 if any(b[2] for b in bad) else 0)
        failed += int(dropped != beyond)
        if dropped != beyond:
            print(f"sessions_timers: {dropped} rows dropped by the watermark, {beyond} generated "
                  "beyond the bound", file=sys.stderr)
        return {"latency": lat.tolist(), "failed": failed, "late_rows_dropped": dropped,
                "sink_rows": rows}
