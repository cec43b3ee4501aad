"""Stateful-processing tests — SURVEY.md §2.9 keyed state, timers, triggers.

Deterministic by construction: invariants that hold for ANY micro-batch
slicing (running totals, fire sizes), or explicitly ordered file feeds
(timer tests append files to a live stream one processAllAvailable at a
time, so batch boundaries are exact).
"""

from __future__ import annotations

import os
import time

import pyspark.sql.functions as F
import pytest

from flink_net_spark.sources import replay_table_as_stream
from flink_net_spark.streaming.stateful import (
    count_trigger_window,
    dedupe_stream,
    idle_session_timeout,
    process_window,
    punctuated_window_aggregate,
    running_aggregate,
)
from flink_net_spark.tables import load_table
from tests.conftest import SF_DIR


def _drain(df, table, mode, ckpt):
    q = (
        df.writeStream.format("memory")
        .queryName(table)
        .outputMode(mode)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)


def test_running_aggregate_matches_batch(spark, tmp_path):
    """ValueState running count+sum: the last emission per key (max n_seen)
    must equal the batch groupBy truth regardless of batch slicing."""
    ev = replay_table_as_stream(
        spark, SF_DIR, "events", str(tmp_path / "stage"), n_chunks=6, max_files_per_trigger=1
    ).withColumn("k", F.col("user_id") % 8)
    out = running_aggregate(ev, "k", "value")
    _drain(out, "run_agg", "update", str(tmp_path / "ck"))

    from pyspark.sql.window import Window

    emitted = spark.table("run_agg")
    assert emitted.count() > emitted.select("k").distinct().count(), "should emit per batch, not once"
    w = Window.partitionBy("k").orderBy(F.col("n_seen").desc())
    final = (
        emitted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("k", "n_seen", F.round("sum_value", 2).alias("sum_value"))
    )
    truth = (
        load_table(spark, SF_DIR, "events")
        .groupBy((F.col("user_id") % 8).alias("k"))
        .agg(F.count(F.lit(1)).alias("n_seen"), F.round(F.sum("value"), 2).alias("sum_value"))
    )
    assert sorted(map(tuple, final.collect())) == sorted(map(tuple, truth.collect()))


def test_count_trigger_fire_and_purge(spark, tmp_path):
    """CountTrigger(25) over GlobalWindows: every fired pane has exactly 25
    elements, and the total fired per key is floor(count/25)*25 — the
    remainder stays buffered (never-fired GlobalWindow tail)."""
    ev = replay_table_as_stream(
        spark, SF_DIR, "events", str(tmp_path / "stage"), n_chunks=6, max_files_per_trigger=2
    ).withColumn("k", F.col("user_id") % 4)
    out = count_trigger_window(ev, "k", "value", trigger_count=25)
    _drain(out, "ct_win", "append", str(tmp_path / "ck"))

    fired = spark.table("ct_win")
    rows = fired.collect()
    assert rows, "no panes fired"
    assert all(r.n == 25 for r in rows)
    per_key = {r.k: r.total for r in fired.groupBy("k").agg(F.sum("n").alias("total")).collect()}
    truth = {
        r.k: r.n
        for r in load_table(spark, SF_DIR, "events")
        .groupBy((F.col("user_id") % 4).alias("k"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for k, total in per_key.items():
        assert total == (truth[k] // 25) * 25
    # fire_seq is a dense per-key sequence (ValueState survived batches)
    seqs = [r.fire_seq for r in rows if r.k == rows[0].k]
    assert sorted(seqs) == list(range(1, len(seqs) + 1))


def test_event_time_timer_fires_session(spark, tmp_path):
    """Event-time timer ≙ EventTimeTrigger: a key's session is emitted only
    after the watermark passes last-event + gap.  Files are fed to the live
    query one at a time, so batch order is exact."""
    src_dir = str(tmp_path / "feed")
    os.makedirs(src_dir)
    base = 1_700_000_000_000  # ms

    def write_chunk(name: str, rows):
        pdf = [(int(k), F.lit(None)) for k, _ in []]  # noqa: F841 - clarity only
        df = spark.createDataFrame(rows, "k BIGINT, ts_ms BIGINT").withColumn(
            "ts", F.timestamp_millis(F.col("ts_ms"))
        )
        df.coalesce(1).write.mode("overwrite").parquet(os.path.join(src_dir, name))

    write_chunk("c1", [(1, base), (1, base + 5_000), (2, base + 1_000)])

    stream = (
        spark.readStream.schema("k BIGINT, ts_ms BIGINT, ts TIMESTAMP")
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(src_dir, "c*"))
        .withWatermark("ts", "1 second")
    )
    out = idle_session_timeout(stream, "k", "ts", gap_ms=60_000)
    q = (
        out.writeStream.format("memory")
        .queryName("timer_sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    assert spark.table("timer_sessions").count() == 0, "nothing may fire before watermark advances"

    # second chunk 10 hours later pushes the watermark far past both gaps
    write_chunk("c2", [(3, base + 36_000_000_000)])
    deadline = time.time() + 60
    while time.time() < deadline and spark.table("timer_sessions").count() < 2:
        q.processAllAvailable()
        time.sleep(0.5)
    q.stop()
    q.awaitTermination(30)

    got = {r.k: (r.session_start_ms, r.session_end_ms, r.n_events)
           for r in spark.table("timer_sessions").collect()}
    assert got == {
        1: (base, base + 5_000 + 60_000, 2),
        2: (base + 1_000, base + 1_000 + 60_000, 1),
    }, f"unexpected sessions: {got}"


def test_session_start_is_earliest_event_time(spark, tmp_path):
    """A session starts at its EARLIEST event time, not at the first row
    the operator happens to see: key 1's events arrive out of order, both
    inside one batch and in a later batch (earlier than everything before
    it, but within the watermark delay, so not late)."""
    src_dir = str(tmp_path / "feed")
    os.makedirs(src_dir)
    base = 1_700_000_000_000  # ms
    gap = 60_000

    def write_chunk(name: str, rows):
        df = spark.createDataFrame(rows, "k BIGINT, ts_ms BIGINT").withColumn(
            "ts", F.timestamp_millis(F.col("ts_ms"))
        )
        df.coalesce(1).write.mode("overwrite").parquet(os.path.join(src_dir, name))

    write_chunk("c1", [(1, base + 5_000), (1, base + 2_000), (2, base + 1_000)])
    stream = (
        spark.readStream.schema("k BIGINT, ts_ms BIGINT, ts TIMESTAMP")
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(src_dir, "c*"))
        .withWatermark("ts", "10 minutes")
    )
    q = (
        idle_session_timeout(stream, "k", "ts", gap_ms=gap)
        .writeStream.format("memory")
        .queryName("ooo_sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    write_chunk("c2", [(1, base)])
    q.processAllAvailable()
    assert spark.table("ooo_sessions").count() == 0, "nothing may fire before watermark advances"

    write_chunk("c3", [(3, base + 36_000_000_000)])
    deadline = time.time() + 60
    while time.time() < deadline and spark.table("ooo_sessions").count() < 2:
        q.processAllAvailable()
        time.sleep(0.5)
    q.stop()
    q.awaitTermination(30)

    got = {r.k: (r.session_start_ms, r.session_end_ms, r.n_events)
           for r in spark.table("ooo_sessions").collect()}
    assert got == {
        1: (base, base + 5_000 + gap, 3),
        2: (base + 1_000, base + 1_000 + gap, 1),
    }, f"unexpected sessions: {got}"


def test_punctuated_watermark_fires_on_markers_and_drops_late(spark, tmp_path):
    """≙ PunctuatedWatermarkGenerator (WatermarkManager.cs:108-141): panes
    fire ONLY when a marker advances the watermark past their end, and an
    element arriving after its pane fired is late and dropped — no periodic
    rescue.  Files are fed to the live query one at a time, so batch
    boundaries (and therefore the late arrival) are exact."""
    H = 3_600_000
    base = 472_222 * H  # epoch-aligned hour start
    src_dir = str(tmp_path / "feed")
    os.makedirs(src_dir)

    def write_chunk(name: str, rows):
        df = spark.createDataFrame(
            rows, "k BIGINT, ts_ms BIGINT, value DOUBLE, is_marker BOOLEAN"
        ).withColumn("ts", F.timestamp_millis(F.col("ts_ms")))
        df.coalesce(1).write.mode("overwrite").parquet(os.path.join(src_dir, name))

    # chunk 1: two elements in pane [base, base+H), then a marker at base+H
    write_chunk(
        "c1",
        [
            (1, base, 1.0, False),
            (1, base + 30 * 60_000, 2.0, False),
            (1, base + H, 0.0, True),
        ],
    )
    stream = (
        spark.readStream.schema(
            "k BIGINT, ts_ms BIGINT, value DOUBLE, is_marker BOOLEAN, ts TIMESTAMP"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(src_dir, "c*"))
    )
    out = punctuated_window_aggregate(stream, "k", "ts", "value", "is_marker", H)
    q = (
        out.writeStream.format("memory")
        .queryName("punct_panes")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    first = {(r.k, r.window_start_ms, r.n_events, r.sum_value)
             for r in spark.table("punct_panes").collect()}
    assert first == {(1, base, 2, 3.0)}, f"marker must fire the covered pane: {first}"

    # chunk 2: a LATE element for the already-fired pane (dropped), a live
    # element in the next pane, and a marker covering that pane
    write_chunk(
        "c2",
        [
            (1, base + 15 * 60_000, 99.0, False),  # late: its pane fired in batch 1
            (1, base + 90 * 60_000, 7.0, False),
            (1, base + 150 * 60_000, 0.0, True),
        ],
    )
    deadline = time.time() + 60
    while time.time() < deadline and spark.table("punct_panes").count() < 2:
        q.processAllAvailable()
        time.sleep(0.5)
    q.stop()
    q.awaitTermination(30)

    got = {(r.k, r.window_start_ms, r.n_events, r.sum_value)
           for r in spark.table("punct_panes").collect()}
    assert got == {
        (1, base, 2, 3.0),
        (1, base + H, 1, 7.0),  # 99.0 late element excluded
    }, f"unexpected panes: {got}"


def test_process_window_function_with_evictor(spark):
    """Full-pane ProcessWindowFunction (median needs the whole pane — not
    expressible as an accumulator agg) + EvictBefore dropping values < 10."""
    import pandas as pd

    ev = load_table(spark, SF_DIR, "events")

    def median_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n": [len(pdf)],
                "median_value": [round(float(pdf["value"].median()), 4)],
            }
        )

    out = process_window(
        ev.select("event_type", "value", "ts"),
        ["event_type"],
        F.window("ts", "1 day"),
        median_fn,
        "event_type STRING, n BIGINT, median_value DOUBLE",
        evictor=lambda pdf: pdf[pdf["value"] >= 10.0],
    )
    rows = out.collect()
    assert rows
    truth = (
        ev.filter(F.col("value") >= 10.0)
        .groupBy(F.window("ts", "1 day"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.expr("median(value)"), 4).alias("m"))
    )
    got = sorted((r.event_type, r.n, r.median_value) for r in rows)
    want = sorted((r.event_type, r.n, r.m) for r in truth.collect())
    assert got == want


def test_dedupe_stream_drops_replayed_ids(spark, tmp_path):
    """Keyed-state streaming dedup: replaying the same ids twice yields each
    id exactly once downstream."""
    src = str(tmp_path / "feed")
    os.makedirs(src)
    df = spark.range(100).select(F.col("id").alias("event_id"))
    df.coalesce(1).write.parquet(os.path.join(src, "a"))
    df.coalesce(1).write.parquet(os.path.join(src, "b"))  # full duplicate

    stream = (
        spark.readStream.schema("event_id BIGINT")
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(src, "*"))
    )
    out = dedupe_stream(stream, ["event_id"])
    _drain(out, "dedup_stream_t", "append", str(tmp_path / "ck"))
    assert spark.table("dedup_stream_t").count() == 100
