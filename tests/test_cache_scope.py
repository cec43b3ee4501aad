"""Cache-lifetime contract: persisted intermediates ride the result handle.

r8 ADVICE minor: query builders that persist() a shared intermediate (or
localCheckpoint() inside an iterative loop) used to leak the cache for the
whole session.  A ``tables.BuildScope`` owns every such cache and binds it
to the returned DataFrame's release list (superseded loop rounds are
released inside the loop): collect + drop the handle, or call
``release_persisted`` → nothing new remains in the RDD cache registry.

Runs in its own module: a module-scoped fixture elsewhere that holds live
handles over the same query plans would alias cache entries (Spark's
CacheManager dedupes by canonicalized plan) and confound the delta check.
"""

from __future__ import annotations

import gc
import os

import pytest
from pyspark import StorageLevel

from tests.conftest import SF_DIR, persistent_rdd_ids


def test_scoped_persist_releases_cache_on_handle_drop(spark):
    """Result-scoped caches vanish with the handle; the session-scoped
    shared LM tables (round-10: text.shared_lm_tables) are the ONE
    deliberate exception — they may appear once, must never GROW across
    queries, and must vanish on release_shared_lm()."""
    from flink_net_spark.queries import QUERIES
    from flink_net_spark.queries.text import release_shared_lm

    sf = "/root/testdata/sf0.001"
    release_shared_lm(spark)
    gc.collect()  # flush finalizers pending from earlier modules
    baseline = persistent_rdd_ids(spark)
    shared: set[int] = set()
    for name in ("text_backoff_nll", "text_bigram_nll", "dedup_minhash_lsh",
                 "dedup_simhash_pairs", "dedup_substring_pairs",
                 "dedup_substring_stats", "dedup_resolve_groups", "sim_semdedup",
                 # r10 ADVICE: sim_rrf_hybrid persisted its (doc_id, term)
                 # inverted index scoped to ITSELF (finalizer could never
                 # fire); pinned here now that it scopes to the result —
                 # and its r11 ANN-leg variant + the phash index too
                 "sim_rrf_hybrid", "sim_rrf_hybrid_ann", "mm_phash_dedup",
                 "dedup_incremental_minhash", "dedup_span_novelty",
                 # r13 ADVICE: connected components' per-round LAZY
                 # localCheckpoints (7 label frames) were untracked — now
                 # owned by its BuildScope and bound to the result
                 "graph_connected_components",
                 # r14: the pruned MaxSim leg persists its (doc, qtok)
                 # max-dot frame, scoped to the result
                 "sim_maxsim_pruned"):
        df = QUERIES[name](spark, sf)
        df.collect()
        del df
        gc.collect()
        leaked = persistent_rdd_ids(spark) - baseline - shared
        if name == "text_backoff_nll":
            # first LM-family query materializes the shared build (bounded:
            # toks + count tables + score tables); remember, don't flag
            shared = leaked
            continue
        assert not leaked, (name, leaked)
    # the shared set is released explicitly, not by handle lifetime
    release_shared_lm(spark)
    assert persistent_rdd_ids(spark) - baseline == set()


def test_purge_dead_lm_entries_unpersists_through_handles(spark):
    """Round-11 ADVICE: when a shared-LM entry's creating session is gone
    but the SparkContext still lives (the newSession case), purging must
    release the JVM caches THROUGH the stored DataFrame handles before
    dropping the dict entry — not leak them.  And the token fallback must
    never be id()-based (aliasing after GC reuse)."""
    import weakref

    from flink_net_spark.queries import text as T

    df = spark.range(10).persist()
    df.count()
    assert df.storageLevel.useMemory

    class Ephemeral:
        pass

    ghost = Ephemeral()
    key = ("test-app", -1, "test-dir")
    T._LM_SHARED[key] = {"toks": df, "_session_ref": weakref.ref(ghost)}
    del ghost  # CPython refcount: the weakref is dead immediately
    T._purge_dead_lm_entries()
    assert key not in T._LM_SHARED
    assert not df.storageLevel.useMemory  # unpersisted, not leaked


def test_keep_best_forwards_deterministic_release(spark):
    """r13 ADVICE: dedup_keep_best pinned its upstream resolve-groups
    result only through a GC-only attribute (release_persisted(out) was a
    no-op).  Its release list must free the upstream deterministically:
    after collect + release_persisted(out), the upstream's checkpointed
    label RDDs are gone WITHOUT waiting for the collector."""
    from flink_net_spark.queries import QUERIES
    from flink_net_spark.tables import release_persisted

    sf = "/root/testdata/sf0.001"
    gc.collect()
    baseline = persistent_rdd_ids(spark)
    out = QUERIES["dedup_keep_best"](spark, sf)
    out.collect()
    assert persistent_rdd_ids(spark) - baseline, "expected live upstream caches"
    release_persisted(out)  # deterministic: NO gc.collect() here
    assert persistent_rdd_ids(spark) - baseline == set()
    del out
    gc.collect()  # the GC backstop must stay idempotent after the fact


def test_bind_frees_persist_and_checkpoint_with_one_release(spark):
    """A scope's persisted frame and its lazy checkpoint both move onto
    the result's release list: one release_persisted() frees both."""
    from flink_net_spark.tables import BuildScope, release_persisted

    gc.collect()
    baseline = persistent_rdd_ids(spark)
    with BuildScope() as scope:
        cached = scope.persist(spark.range(100))
        lc = scope.checkpoint(spark.range(50))
        out = scope.bind(lc.crossJoin(cached.limit(1)))
    out.collect()
    assert len(persistent_rdd_ids(spark) - baseline) == 2
    release_persisted(out)
    assert persistent_rdd_ids(spark) - baseline == set()


def test_release_attach_composes_in_either_nesting_order(spark):
    """Round-14 review: a second release helper used to OVERWRITE the
    first one's handle.  A scope bound before or after scoped_persist
    must land on the SAME release list, so one release frees both."""
    from flink_net_spark.tables import BuildScope, release_persisted, scoped_persist

    gc.collect()
    baseline = persistent_rdd_ids(spark)
    for scope_first in (True, False):
        cached = spark.range(64).persist()
        with BuildScope() as scope:
            lc = scope.checkpoint(spark.range(32))
            out = lc.crossJoin(cached.limit(1))
            if scope_first:
                out = scoped_persist(scope.bind(out), cached)
            else:
                out = scope.bind(scoped_persist(out, cached))
        out.collect()
        assert len(persistent_rdd_ids(spark) - baseline) == 2
        release_persisted(out)
        assert persistent_rdd_ids(spark) - baseline == set()


def test_msf_ckpt_dir_cleaned_on_handle_drop(spark):
    """r15 VERDICT #1a: graph_msf_boruvka's parquet-checkpoint temp dir
    must not strand /tmp when the caller DROPS the handle without calling
    release_persisted — its removal rides the result's release list, whose
    weakref.finalize backstop fires on GC (and the explicit path stays
    idempotent)."""
    import glob
    import tempfile

    from flink_net_spark.queries import QUERIES

    patt = os.path.join(tempfile.gettempdir(), "fns_msf_*")
    before = set(glob.glob(patt))
    df = QUERIES["graph_msf_boruvka"](spark, "/root/testdata/sf0.001")
    df.collect()
    created = set(glob.glob(patt)) - before
    assert created, "expected a fresh fns_msf_ checkpoint dir"
    del df
    gc.collect()
    after = set(glob.glob(patt)) - before
    assert not after, f"ckpt dir(s) leaked after handle drop: {after}"


def test_shared_shingle_cache_outlives_resolve_groups(spark):
    """dedup_minhash_lsh and dedup_resolve_groups share the shingle cache
    (one semantic plan).  With an uncollected LSH result still holding it,
    building resolve_groups materializes the cache inside its first
    checkpoint; releasing resolve_groups must leave it persistent until
    the LSH result is released too.  (Attributing RDDs by a before/after
    diff of the persistent registry misread the cache's buffer as part of
    that checkpoint and unpersisted it.)"""
    from flink_net_spark.queries import QUERIES
    from flink_net_spark.queries.dedup import _spark_shingle_hash_df
    from flink_net_spark.tables import release_persisted

    sf = SF_DIR
    gc.collect()
    baseline = persistent_rdd_ids(spark)
    lsh = QUERIES["dedup_minhash_lsh"](spark, sf)  # holds the cache, uncollected
    rg = QUERIES["dedup_resolve_groups"](spark, sf)
    rg.collect()
    release_persisted(rg)
    shingles = _spark_shingle_hash_df(spark, sf)  # same plan as the shared cache
    assert shingles.storageLevel != StorageLevel.NONE
    assert persistent_rdd_ids(spark) - baseline, "shared cache buffer was unpersisted"
    assert lsh.collect()
    release_persisted(lsh)
    assert shingles.storageLevel == StorageLevel.NONE
    assert persistent_rdd_ids(spark) - baseline == set()


def test_checkpoint_release_spares_its_inputs_cache(spark):
    """A checkpoint's release frees its own RDD only — not the buffer of a
    persisted input that was first materialized by the same call."""
    from flink_net_spark.tables import BuildScope

    gc.collect()
    baseline = persistent_rdd_ids(spark)
    src = spark.range(300).selectExpr("id", "id % 7 AS k").persist()
    with BuildScope() as scope:
        scope.checkpoint(src.groupBy("k").count(), eager=True)
        assert len(persistent_rdd_ids(spark) - baseline) == 2
    assert len(persistent_rdd_ids(spark) - baseline) == 1, "input cache evicted"
    src.unpersist()
    assert persistent_rdd_ids(spark) - baseline == set()


def test_raising_build_scope_releases_everything(spark):
    """A builder step that raises inside ``with BuildScope()`` leaves no
    new persistent RDD, no _PLAN_REFS entry and no pending clean-up."""
    from flink_net_spark.tables import _PLAN_REFS, BuildScope, _plan_key

    gc.collect()
    baseline = persistent_rdd_ids(spark)
    df = spark.range(300).selectExpr("id", "id % 5 AS k")
    cleaned = []
    with pytest.raises(RuntimeError, match="step failed"):
        with BuildScope() as scope:
            scope.on_release(cleaned.append, "tmpdir")
            p = scope.persist(df)
            p.count()
            scope.checkpoint(p.groupBy("k").count(), eager=True)
            scope.checkpoint(spark.range(40))
            raise RuntimeError("step failed")
    assert persistent_rdd_ids(spark) - baseline == set()
    assert _plan_key(df) not in _PLAN_REFS
    assert df.storageLevel == StorageLevel.NONE
    assert cleaned == ["tmpdir"]


def test_msf_failure_path_releases_edges_and_ckpt_dir(spark, monkeypatch):
    """r16 ADVICE: when graph_msf_boruvka's forest-invariant check raises,
    the persisted edge frame and the parquet-checkpoint dir must not leak
    — the builder's scope releases both on the way out.  Two rounds with
    zero pointer jumps leave a merge chain uncollapsed at sf0.001, which
    trips the check."""
    import glob
    import tempfile

    from flink_net_spark.queries import graph

    monkeypatch.setattr(graph, "MSF_ROUNDS", 2)
    monkeypatch.setattr(graph, "MSF_JUMPS", 0)
    patt = os.path.join(tempfile.gettempdir(), "fns_msf_*")
    before = set(glob.glob(patt))
    gc.collect()
    baseline = persistent_rdd_ids(spark)
    with pytest.raises(AssertionError, match="forest invariant violated"):
        graph.graph_msf_boruvka(spark, SF_DIR)
    assert persistent_rdd_ids(spark) - baseline == set()
    assert set(glob.glob(patt)) - before == set()
