"""Loaders for the driver-generated testdata tables (see TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file each under a scale-factor dir.
"""

from __future__ import annotations

import contextlib
import os
import threading
import weakref

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def table_disk_bytes(sf_dir: str, name: str) -> int:
    """On-disk parquet bytes of a table (file or directory-of-parts) — a
    pure filesystem stat, no Spark job.  Used to SIZE plan knobs (e.g. the
    packed-transport bucket count) from data volume: unlike
    ``df.rdd.getNumPartitions()``, which on an AQE plan finalizes the
    adaptive plan and EXECUTES its pending exchanges as a side-effect job
    (measured: one full extra spread exchange per call on the single-file
    layout), a stat costs nothing and scales with the corpus, not the
    layout.  A directory counts only its ``*.parquet`` parts, not
    ``_SUCCESS`` markers or ``.crc`` sidecars; a missing table is 0."""
    p = table_path(sf_dir, name)
    try:
        if os.path.isdir(p):
            return sum(
                os.path.getsize(os.path.join(root, f))
                for root, _d, files in os.walk(p)
                for f in files
                if f.endswith(".parquet")
            )
        return os.path.getsize(p)
    except OSError:
        return 0


def env_positive_int(name: str) -> int | None:
    """The positive integer in env var ``name``, or None when it is unset
    or empty.  Any other value raises a ValueError that names the variable
    — a sizing knob of 0 would fail at plan time or corrupt a modulus."""
    raw = os.environ.get(name)
    if not raw:
        return None
    try:
        n = int(raw)
    except ValueError:
        n = 0
    if n <= 0:
        raise ValueError(f"{name}={raw!r}: expected a positive integer")
    return n


# Runtime-settable SQLConfs required to read the testdata parquet correctly.
# Set per-read (not only in get_spark) because the driver harness calls
# queries with its OWN SparkSession whose builder we never see:
#   - nanosAsLong: events.parquet carries TIMESTAMP(NANOS), which Spark
#     otherwise rejects with PARQUET_TYPE_ILLEGAL.
#   - inferTimestampNTZ=false: orders/lineitem timestamps are
#     isAdjustedToUTC=false; read them as plain TIMESTAMP so unix_millis &
#     streaming event-time work (session tz UTC keeps instants identical).
#   - UTC session tz: window/date math must match the DuckDB oracle.
_READ_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
    # InferFiltersFromGenerate turns every explode(<array expr>) into a
    # pushed-down `size(<expr>) > 0 AND isnotnull(<expr>)` filter with the
    # FULL array expression inlined (twice).  For this engine's corpus
    # queries the exploded arrays are always computed by large HOF chains
    # (token hashes → shingles → winnow/minhash): the inlined filter lands
    # below the spread repartition in the single-split parquet scan stage,
    # exceeds the codegen method limit, and is then interpreted WITHOUT
    # common-subexpression elimination — measured 0.6s → 107s on
    # curation_decontaminate at sf0.1 (round-7 diagnosis).  The rule's only
    # upside (not shuffling rows with empty arrays) is irrelevant here: our
    # explodes sit directly on the projection that computes the array.
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
}


def ensure_read_confs(spark: SparkSession) -> None:
    for k, v in _READ_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - conf may be static on some builds
            pass


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_read_confs(spark)
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # TIMESTAMP(NANOS) read as long ns (spark.sql.legacy.parquet.nanosAsLong);
        # truncate to µs exactly like DuckDB does internally.  Integer `div`,
        # NOT `/1000`: epoch-nanos ≈ 1.7e18 exceeds double's 2^53 mantissa, so
        # a float division drifts timestamps by ±1 µs.
        import pyspark.sql.functions as F

        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def spread_small_scan(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin rebalance a scan that yielded fewer partitions than the
    session's parallelism — the small-file fix for CPU-heavy per-row stages.

    A parquet file with a single row group cannot be split by the reader,
    so array higher-order functions / Arrow stages downstream serialize on
    one core no matter how many are free.  When the scan has fewer splits
    than ``defaultParallelism`` the rows are rebalanced round-robin (one
    narrow exchange over already-pruned columns, no keying); when the input
    already has ≥ cores splits — every real 100 TB layout — the check is
    false and the plan stays exchange-free.  This is deliberately NOT a
    hash shuffle: per-row work needs spread, not co-location.
    """
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Register every table as a temp view (≙ TableEnvironment.RegisterTable,
    reference: FlinkDotNet/FlinkDotNet.Table.Api/TableEnvironment.cs:69-108)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs


# Cache lifetime — one owner per builder.  Everything a query builder
# creates for its result (persisted frames, localCheckpoints, temp dirs, an
# upstream result it builds on) is created through a ``BuildScope``, which
# owns it until ``bind(result)`` moves it onto the result's release list.
# That list runs once: on ``release_persisted(result)`` (deterministic —
# what bench.py calls after collect) or, as a backstop, from a
# ``weakref.finalize`` when the result handle is collected.  A builder that
# raises inside ``with BuildScope()`` releases what it owned.
#
# Persisted frames are refcounted by SEMANTIC plan hash: Spark's
# CacheManager keys caches by logical plan, so two builds of one
# intermediate (dedup_minhash_lsh and dedup_resolve_groups share the
# shingle cache) are backed by ONE cache entry, which is unpersisted only
# when its last holder releases it.  Acquire and release run entirely
# under _PLAN_REFS_LOCK, py4j calls included, so a release can never
# unpersist a cache a concurrent acquire has just taken (the
# sim_ann_planted_recall legs build on a thread pool).  The lock is
# re-entrant because a finalizer runs on whichever thread triggers the GC,
# possibly one that already holds it; for the same reason the refcount is
# moved before any py4j call.
_PLAN_REFS: dict[int, list] = {}  # key -> [refcount, DataFrame handle]
_PLAN_REFS_LOCK = threading.RLock()


def _plan_key(df: DataFrame) -> int:
    try:
        return int(df._jdf.queryExecution().logical().semanticHash())
    except Exception:  # pragma: no cover - py4j surface drift
        return id(df)


def _unref(key: int) -> None:
    with _PLAN_REFS_LOCK:
        ent = _PLAN_REFS.get(key)
        if ent is None:
            return
        ent[0] -= 1
        if ent[0] <= 0:
            del _PLAN_REFS[key]
            ent[1].unpersist()


class _ReleaseList(list):
    """``(owner, fn, args)`` release steps, each run at most once, newest
    first.  Exception-safe: on a stopped session nothing is left to free."""

    def __call__(self) -> None:
        while True:
            try:
                _owner, fn, args = self.pop()
            except IndexError:  # empty, or drained by a concurrent caller
                return
            try:
                fn(*args)
            except Exception:
                pass


class BuildScope:
    """Owner of the caches and clean-ups one query builder creates.

    ``persist`` and ``checkpoint`` return the frame they were given or
    created; ``release`` frees owned frames early (superseded loop rounds);
    ``on_release`` adds a clean-up step; ``bind(result)`` hands everything
    still owned to ``result``.  Leaving the ``with`` block releases whatever
    was not bound — on success that is nothing, on an exception it is
    everything."""

    def __init__(self) -> None:
        self._owned = _ReleaseList()

    def __enter__(self) -> BuildScope:
        return self

    def __exit__(self, *exc) -> bool:
        self._owned()
        return False

    def persist(self, df: DataFrame) -> DataFrame:
        """Persist ``df`` (a no-op when its plan is already cached) and
        hold one refcount on the cache."""
        key = _plan_key(df)  # py4j round trip — outside the lock
        with _PLAN_REFS_LOCK:
            ent = _PLAN_REFS.get(key)
            if ent is not None:
                ent[0] += 1  # a registered cache is live until its last release
            else:
                _PLAN_REFS[key] = [1, df]
            self._owned.append((df, _unref, (key,)))
            if ent is None and df.storageLevel == StorageLevel.NONE:
                df.persist()
        return df

    def checkpoint(self, df: DataFrame, eager: bool = False) -> DataFrame:
        """``df.localCheckpoint(eager)``.  Its cache lives at the RDD layer,
        invisible to DataFrame.unpersist; the checkpoint's own LogicalRDD
        names the one RDD to unpersist on release."""
        lc = df.localCheckpoint(eager=eager)
        rdd = lc._jdf.queryExecution().logical().rdd()
        self._owned.append((lc, rdd.unpersist, (False,)))
        return lc

    def on_release(self, fn, *args) -> None:
        self._owned.append((None, fn, args))

    def release(self, *frames: DataFrame) -> None:
        ids = {id(f) for f in frames}
        done = _ReleaseList(s for s in self._owned if id(s[0]) in ids)
        self._owned[:] = [s for s in self._owned if id(s[0]) not in ids]
        done()

    def bind(self, result: DataFrame) -> DataFrame:
        """Move every owned item onto ``result``'s release list (created on
        first bind, with its ``weakref.finalize`` backstop) and return it.
        Owners are dropped so the list never pins ``result`` itself."""
        steps = getattr(result, "_fns_release", None)
        if steps is None:
            steps = result._fns_release = _ReleaseList()
            weakref.finalize(result, steps)
        steps.extend((None, fn, args) for _o, fn, args in self._owned)
        self._owned.clear()
        return result


def scoped_persist(result: DataFrame, *cached: DataFrame) -> DataFrame:
    """Tie persisted intermediates' cache lifetime to the RESULT handle:
    the one-line ``BuildScope`` for single-pass builders, which persist a
    shared intermediate and return a lazy DataFrame with no post-action
    hook to unpersist it."""
    with BuildScope() as scope:
        for df in cached:
            scope.persist(df)
        return scope.bind(result)


def release_persisted(result: DataFrame) -> None:
    """Deterministically run ``result``'s release list (idempotent; a
    no-op for DataFrames nothing was bound to)."""
    steps = getattr(result, "_fns_release", None)
    if steps is not None:
        steps()


# r17 (VERDICT r16 #3, guide §2.2): iterative builders (``loop_scope``:
# CC/SSSP/k-core/LPA/MSF/resolve-groups) scope their per-round shuffles to
# a partition count DERIVED from the input size instead of the session
# default.  MIN/COUNT label algebra and total-order ranks make their
# results partition-count-independent by construction.  At bench SF
# every round's frontier/label frame is a few thousand rows, yet each of
# the 12-18 per-round AQE stage materializations scheduled 32+ tasks —
# measured medians at sf0.1 (tools/exp_iter_parts.py, fingerprints
# identical): CC 6.60→3.36 s, SSSP 5.79→3.20 s, LPA 3.77→2.70 s,
# resolve_groups 2.80→1.99 s.  The derivation keeps the setting
# scale-adaptive rather than local-tuned: ceil(source_bytes / 128 MB)
# targets the guide's 100 MB-1 GB post-shuffle partition size (the
# filtered/aggregated edge frames are strictly smaller than their source),
# floors at 4 so tiny corpora still exercise multi-partition shuffles, and
# is env-overridable for cluster sizing like SPARK_GRAFT_SHUFFLE_PARTITIONS.
_ITER_PART_TARGET_BYTES = 128 * 1024 * 1024
_ITER_PART_FLOOR = 4


def derived_shuffle_partitions(sf_dir: str, tables: list[str]) -> int:
    env = env_positive_int("SPARK_GRAFT_ITER_SHUFFLE_PARTITIONS")
    if env:
        return env
    total = sum(table_disk_bytes(sf_dir, t) for t in tables)
    return max(_ITER_PART_FLOOR, -(-total // _ITER_PART_TARGET_BYTES))


@contextlib.contextmanager
def scoped_shuffle_partitions(spark: SparkSession, n: int):
    """Set ``spark.sql.shuffle.partitions`` for a scope and restore it on
    exit, also when the scope raises.  Plans compiled inside the scope —
    including every lazy localCheckpoint's eager AQE materialization and a
    streaming query's first batch, which pins its state partitioning — use
    the scoped count; a result plan compiled at action time stays on the
    session default.  Session-global, like every conf: builders run
    sequentially on the driver."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


@contextlib.contextmanager
def loop_scope(spark: SparkSession, sf_dir: str, tables: list[str]):
    """The ``BuildScope`` of a builder that materializes rounds while it
    builds (checkpoints, parquet round-trips, per-round counts), entered
    under ``scoped_shuffle_partitions(derived_shuffle_partitions(sf_dir,
    tables))`` so every round plan compiles at the input-derived count.
    The session count is restored before the scope releases anything."""
    with BuildScope() as scope, scoped_shuffle_partitions(
        spark, derived_shuffle_partitions(sf_dir, tables)
    ):
        yield scope
