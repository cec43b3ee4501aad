"""Staged replays and stream clean-up.

1. ``sources.stage_chunks`` stages once: a staged dir costs no Spark job,
   and a stage that fails part-way leaves nothing at its path, so the
   next call restages from scratch.
2. The punctuated, late-data and ordered replays stage one file per chunk
   with strictly increasing mtimes: FileStreamSource delivers files in
   mtime order, so that order is the replay order.
3. Bounded stream runs release what they acquire: ``_run_stream`` deletes
   its checkpoint dir and stops its query on success and on failure, and
   the CDC snapshot dir lives exactly as long as the result bound to it.
"""

from __future__ import annotations

import glob
import os
import tempfile

import pyspark.sql.functions as F
import pytest
from pyspark.sql import DataFrameWriter

from flink_net_spark.queries import streaming_queries as sq
from flink_net_spark.sources import STAGE_MARKER, replay_stage, stage_chunks
from flink_net_spark.tables import release_persisted
from tests.conftest import SF_DIR


def _frame(spark, n_rows: int = 30, n_chunks: int = 3):
    return spark.range(n_rows).withColumn("chunk", F.col("id") % n_chunks)


def _chunk_files(stage: str) -> list[str]:
    return sorted(f for f in os.listdir(stage) if f.startswith("chunk_"))


def test_staged_dir_runs_no_spark_write(spark, tmp_path, monkeypatch):
    stage = str(tmp_path / "stage")
    builds: list[int] = []

    def chunks():
        builds.append(1)
        return _frame(spark)

    assert stage_chunks(stage, chunks) == 30
    assert len(_chunk_files(stage)) == 3
    assert os.path.exists(os.path.join(stage, STAGE_MARKER))

    writes: list[str] = []
    real_parquet = DataFrameWriter.parquet

    def spy(self, path, *args, **kwargs):
        writes.append(path)
        return real_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    sc = spark.sparkContext
    sc.setJobGroup("fns-staged-twice", "second stage_chunks call")
    try:
        assert stage_chunks(stage, chunks) == 30  # the row count from the marker
    finally:
        sc.setJobGroup("", "")
    assert sc.statusTracker().getJobIdsForGroup("fns-staged-twice") == []
    assert replay_stage(spark, stage, chunks, 1).isStreaming
    assert builds == [1], "a staged dir rebuilt its frame"
    assert writes == [], f"a staged dir wrote again: {writes}"


def _failing_udf_frame(spark):
    boom = F.udf(lambda i: i // 0 if i == 17 else i, "long")
    return _frame(spark).withColumn("id", boom("id"))


def test_failed_stage_leaves_nothing_and_restages(spark, tmp_path, monkeypatch):
    stage = str(tmp_path / "stage")
    # the Spark write job fails part-way
    with pytest.raises(Exception):  # noqa: PT011 - surfaces as a Py4J/Python error
        stage_chunks(stage, lambda: _failing_udf_frame(spark))
    assert os.listdir(tmp_path) == [], "a failed write left files behind"

    # the Spark write succeeds, then placing its chunk files fails
    def no_utime(*args, **kwargs):
        raise OSError("read-only file system")

    monkeypatch.setattr(os, "utime", no_utime)
    with pytest.raises(OSError, match="read-only"):
        stage_chunks(stage, lambda: _frame(spark))
    monkeypatch.undo()
    assert os.listdir(tmp_path) == [], "a half-written stage became visible"

    assert stage_chunks(stage, lambda: _frame(spark)) == 30
    assert len(_chunk_files(stage)) == 3
    assert sorted(os.listdir(tmp_path)) == ["stage"]


def test_older_layout_stage_is_restaged(spark, tmp_path):
    """A stage whose marker holds no row count (the older "ok" layout, with
    files in any order) is replaced by a full restage, not reused."""
    stage = tmp_path / "stage"
    stage.mkdir()
    (stage / "part-00000-old.parquet").write_bytes(b"stale")
    (stage / STAGE_MARKER).write_text("ok")
    assert stage_chunks(str(stage), lambda: _frame(spark)) == 30
    assert sorted(os.listdir(stage)) == sorted(_chunk_files(str(stage)) + [STAGE_MARKER])
    assert len(_chunk_files(str(stage))) == 3


@pytest.mark.parametrize(
    "builder,n_chunks",
    [(sq._punctuated_chunks, 6), (sq._late_chunks, 3), (sq._ordered_chunks, 4)],
    ids=["punctuated", "late_data", "ordered"],
)
def test_replay_chunks_have_increasing_mtimes(spark, tmp_path, builder, n_chunks):
    stage = str(tmp_path / "stage")
    stage_chunks(stage, lambda: builder(spark, SF_DIR))
    files = _chunk_files(stage)
    assert len(files) == n_chunks
    mtimes = [os.stat(os.path.join(stage, f)).st_mtime_ns for f in files]
    assert all(a < b for a, b in zip(mtimes, mtimes[1:])), mtimes
    if builder is not sq._late_chunks:  # time-ordered chunks
        spans = [
            spark.read.parquet(os.path.join(stage, f)).agg(F.min("ts"), F.max("ts")).first()
            for f in files
        ]
        assert all(a[1] <= b[0] for a, b in zip(spans, spans[1:])), spans


@pytest.fixture()
def private_tmp(tmp_path, monkeypatch):
    """Point ``tempfile`` at an empty dir, so leaked scratch dirs show."""
    d = tmp_path / "tmp"
    d.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(d))
    return d


def test_run_stream_releases_checkpoint_and_query(spark, tmp_path, private_tmp):
    src = str(tmp_path / "src")
    spark.range(30).repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema("id BIGINT").option("maxFilesPerTrigger", 1).parquet(src)
    )
    out = sq._run_stream(stream.groupBy((F.col("id") % 3).alias("k")).count())
    assert sorted(r["count"] for r in out.collect()) == [10, 10, 10]
    assert glob.glob(str(private_tmp / "fns_ckpt_*")) == []
    assert spark.streams.active == []

    boom = F.udf(lambda i: i // 0 if i == 17 else i, "long")
    with pytest.raises(Exception):  # noqa: PT011 - surfaces as a StreamingQueryException
        sq._run_stream(stream.select(boom("id").alias("v")), mode="append")
    assert glob.glob(str(private_tmp / "fns_ckpt_*")) == []
    assert spark.streams.active == []


def test_cdc_snapshot_dir_lives_with_result(spark, private_tmp):
    res = sq.stream_cdc_upsert_snapshot(spark, SF_DIR)
    assert res.count() > 0
    assert len(glob.glob(str(private_tmp / "fns_cdc_snap_*"))) == 1
    assert glob.glob(str(private_tmp / "fns_*ckpt_*")) == []
    release_persisted(res)
    assert glob.glob(str(private_tmp / "fns_cdc_snap_*")) == []
