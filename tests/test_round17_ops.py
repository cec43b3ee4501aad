"""Round-17 optimization-round contracts.

1. ``_PLAN_REFS`` refcounting is thread-safe (VERDICT r16 #5): the
   sim_ann_planted_recall legs build on a 4-thread pool, so concurrent
   ``BuildScope`` persist/release of the SAME semantic plan must never
   lose an increment, nor unpersist a cache a concurrent holder has just
   taken (a lost cache is a silent recompute).
2. ``_stage_dir`` stale-sibling pruning respects an mtime grace window
   (VERDICT r16 #8 / r16 ADVICE): a *recent* sibling staging may belong to
   a concurrent process still draining its stream — only aged siblings are
   reclaimed.  Legacy pre-r16 ``fns_stage_<key>`` dirs (no fingerprint
   suffix) are swept by the same aging rule.
3. ``stream_incremental_minhash``'s state-shard count is derived from the
   staged band-row count (VERDICT r16 #6) and env-overridable — a constant
   128 was calibrated to sf0.1 and its per-shard blobs would grow with the
   corpus.
"""

from __future__ import annotations

import os
import sys
import threading
import time

import pytest


def _run_threads(target, n: int, timeout: float = 120.0) -> None:
    threads = [threading.Thread(target=target) for _ in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout)
    assert not any(t.is_alive() for t in threads), "worker thread hung"


def test_plan_refs_concurrent_acquire_release(spark):
    """Balanced scope persist/release from 8 threads on one shared plan key
    must end with the refcount table empty for that key (no stale entry
    from a lost decrement, no premature eviction from a lost increment)."""
    from flink_net_spark.tables import _PLAN_REFS, BuildScope, _plan_key

    df = spark.range(1000).selectExpr("id", "id * 2 AS v").persist()
    df.count()
    key = _plan_key(df)
    errs: list[Exception] = []

    def worker():
        try:
            for _ in range(300):
                with BuildScope() as scope:
                    scope.persist(df)
        except Exception as ex:  # pragma: no cover - failure path
            errs.append(ex)

    _run_threads(worker, 8)
    assert not errs, f"worker raised: {errs[:1]}"
    assert key not in _PLAN_REFS
    df.unpersist()


def test_plan_refs_concurrent_holders_keep_cache(spark):
    """While one scope still holds a persist, concurrent persist/release
    churn from other threads must NOT evict the entry or its cache."""
    from pyspark import StorageLevel

    from flink_net_spark.tables import _PLAN_REFS, BuildScope, _plan_key

    df = spark.range(500).selectExpr("id")
    key = _plan_key(df)
    hold = BuildScope()  # long-lived user
    hold.persist(df)

    def churn():
        for _ in range(200):
            with BuildScope() as scope:
                scope.persist(df)

    _run_threads(churn, 4)
    assert key in _PLAN_REFS, "churning pairs evicted a held cache"
    assert _PLAN_REFS[key][0] == 1
    assert df.storageLevel != StorageLevel.NONE
    hold.release(df)
    assert key not in _PLAN_REFS
    assert df.storageLevel == StorageLevel.NONE


def test_plan_refs_churn_never_evicts_a_live_holder(spark):
    """ADVICE (medium): the last release used to pop the refcount under the
    lock but unpersist after dropping it, so a concurrent acquire of the
    same semantic key could register in between and lose its cache to the
    late unpersist.  Every holder must see the cache live for as long as
    it holds it — also when the churn keeps dropping the count to zero."""
    from pyspark import StorageLevel

    from flink_net_spark.tables import _PLAN_REFS, BuildScope, _plan_key

    evicted: list[int] = []

    def churn():
        for i in range(100):
            df = spark.range(700).selectExpr("id", "id % 3 AS k")  # one plan key
            with BuildScope() as scope:
                scope.persist(df)
                if df.storageLevel == StorageLevel.NONE:
                    evicted.append(i)

    # more threads than cores, and frequent thread switches, so the
    # release/acquire interleavings actually happen
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        _run_threads(churn, 2 * (os.cpu_count() or 2))
    finally:
        sys.setswitchinterval(interval)
    assert not evicted, f"{len(evicted)} holders lost their cache"
    assert _plan_key(spark.range(700).selectExpr("id", "id % 3 AS k")) not in _PLAN_REFS


def test_stage_dir_prune_respects_mtime_grace(tmp_path):
    """A sibling staging dir younger than the grace window survives a
    _stage_dir call for the same (sf_dir, name); an aged one is pruned."""
    import hashlib
    import tempfile

    from flink_net_spark.queries.streaming_queries import (
        _STAGE_PRUNE_GRACE_SEC,
        _stage_dir,
    )

    sf_dir = str(tmp_path)
    # a real source so the fingerprint path is exercised
    with open(os.path.join(sf_dir, "events.parquet"), "wb") as f:
        f.write(b"x" * 64)
    base = hashlib.md5(
        f"{os.path.abspath(sf_dir)}:events".encode()
    ).hexdigest()[:12]
    young = os.path.join(tempfile.gettempdir(), f"fns_stage_{base}_youngfp00000")
    aged = os.path.join(tempfile.gettempdir(), f"fns_stage_{base}_agedfp000000")
    os.makedirs(young, exist_ok=True)
    os.makedirs(aged, exist_ok=True)
    old = time.time() - _STAGE_PRUNE_GRACE_SEC - 60
    os.utime(aged, (old, old))

    path = _stage_dir(sf_dir, "events")
    assert os.path.isdir(young), "recent sibling pruned inside grace window"
    assert not os.path.exists(aged), "aged sibling not reclaimed"
    assert path not in (young, aged)
    os.rmdir(young)


def test_stage_dir_sweeps_aged_legacy_dirs(tmp_path):
    """Pre-r16 single-key staging dirs (no fingerprint suffix) are swept
    once aged — they never match the sibling glob and used to strand /tmp."""
    import hashlib
    import tempfile

    from flink_net_spark.queries.streaming_queries import (
        _STAGE_PRUNE_GRACE_SEC,
        _stage_dir,
    )

    sf_dir = str(tmp_path)
    with open(os.path.join(sf_dir, "events.parquet"), "wb") as f:
        f.write(b"x" * 64)
    legacy_key = hashlib.md5(b"legacy-demo").hexdigest()[:12]
    legacy = os.path.join(tempfile.gettempdir(), f"fns_stage_{legacy_key}")
    os.makedirs(legacy, exist_ok=True)
    old = time.time() - _STAGE_PRUNE_GRACE_SEC - 60
    os.utime(legacy, (old, old))

    _stage_dir(sf_dir, "events")
    assert not os.path.exists(legacy), "aged legacy staging dir not swept"


def test_derived_shuffle_partitions(tmp_path, monkeypatch):
    """Input-byte derivation: floor at 4 for tiny corpora, grows with bytes
    (128 MB/partition), sums directory-backed tables, env override wins."""
    from flink_net_spark.tables import derived_shuffle_partitions

    # single-file table
    with open(tmp_path / "lineitem.parquet", "wb") as f:
        f.write(b"x" * 1024)
    assert derived_shuffle_partitions(str(tmp_path), ["lineitem"]) == 4
    # directory-backed table: bytes are the SUM of the files, not the dirent
    # (sparse files: st_size without the disk)
    d = tmp_path / "orders.parquet"
    d.mkdir()
    for i in range(7):
        with open(d / f"part-{i}.parquet", "wb") as f:
            f.truncate(100 * 1024 * 1024)
    # 700 MB / 128 MB -> ceil = 6 (> the floor of 4, so the sum is visible)
    assert derived_shuffle_partitions(str(tmp_path), ["orders"]) == 6
    monkeypatch.setenv("SPARK_GRAFT_ITER_SHUFFLE_PARTITIONS", "11")
    assert derived_shuffle_partitions(str(tmp_path), ["orders"]) == 11


def test_inc_state_shards_derivation_and_override(monkeypatch):
    """Derived shard count scales with the band-row estimate (bounded both
    ends) and the env override wins."""
    from flink_net_spark.queries.streaming_queries import _inc_state_shards

    # derivation: rows / target-per-shard, clamped
    assert _inc_state_shards(0) == 32  # floor
    assert _inc_state_shards(40_000) == 128  # ~sf0.1 shape, matches r16
    assert _inc_state_shards(10_000_000) == 4096  # ceiling
    lo = _inc_state_shards(40_000)
    hi = _inc_state_shards(400_000)
    assert hi > lo, "shard count must grow with the corpus"
    monkeypatch.setenv("SPARK_GRAFT_INC_STATE_SHARDS", "77")
    assert _inc_state_shards(40_000) == 77
    # the override is clamped to the same bounds as the derivation
    monkeypatch.setenv("SPARK_GRAFT_INC_STATE_SHARDS", "7")
    assert _inc_state_shards(40_000) == 32
    monkeypatch.setenv("SPARK_GRAFT_INC_STATE_SHARDS", "100000")
    assert _inc_state_shards(40_000) == 4096


@pytest.mark.parametrize("raw", ["abc", "0", "-3", "2.5"])
def test_env_sizing_knobs_reject_bad_values(spark, monkeypatch, raw):
    """A non-numeric or non-positive sizing knob fails up front with a
    ValueError that names the variable — 0 shuffle partitions used to fail
    at plan time, and 0 state shards made pmod(hash, 0) NULL shard keys."""
    from flink_net_spark.queries.streaming_queries import _inc_state_shards, _run_stream
    from flink_net_spark.tables import derived_shuffle_partitions

    calls = {
        "SPARK_GRAFT_ITER_SHUFFLE_PARTITIONS": lambda: derived_shuffle_partitions(
            "/nonexistent", ["lineitem"]
        ),
        "SPARK_GRAFT_INC_STATE_SHARDS": lambda: _inc_state_shards(40_000),
        "SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS": lambda: _run_stream(spark.range(1)),
    }
    for var, call in calls.items():
        monkeypatch.setenv(var, raw)
        with pytest.raises(ValueError, match=var):
            call()
        monkeypatch.delenv(var)


def test_table_disk_bytes_counts_only_parquet_parts(tmp_path):
    """A directory-backed table's size is its ``*.parquet`` parts: Spark's
    ``_SUCCESS`` marker and ``.crc`` sidecars are not data."""
    from flink_net_spark.tables import derived_shuffle_partitions, table_disk_bytes

    d = tmp_path / "orders.parquet"
    (d / "sub").mkdir(parents=True)
    for name, size in (("part-0.parquet", 1000), ("sub/part-1.parquet", 24),
                       ("_SUCCESS", 7), (".part-0.parquet.crc", 300 * 1024 * 1024)):
        with open(d / name, "wb") as f:
            f.truncate(size)
    assert table_disk_bytes(str(tmp_path), "orders") == 1024
    assert derived_shuffle_partitions(str(tmp_path), ["orders"]) == 4
    assert table_disk_bytes(str(tmp_path), "missing") == 0
