"""Every builder that materializes rounds while it builds runs them under
``tables.loop_scope``: the input-derived shuffle-partition count while the
rounds compile and run, the session value restored afterwards."""

from __future__ import annotations

import pytest
from pyspark.sql.readwriter import DataFrameWriter

from flink_net_spark import tables
from flink_net_spark.queries import QUERIES
from tests.conftest import SF_DIR

KEY = "spark.sql.shuffle.partitions"


@pytest.mark.parametrize(
    "name, inputs",
    [
        ("graph_connected_components", ["lineitem"]),
        ("graph_sssp_weighted", ["lineitem"]),
        ("graph_kcore", ["lineitem"]),
        ("graph_lpa_communities", ["lineitem"]),
        ("graph_msf_boruvka", ["lineitem"]),
        ("dedup_resolve_groups", ["documents"]),
    ],
)
def test_rounds_run_at_derived_partitions(spark, monkeypatch, name, inputs):
    """Spy on the session's partition count at every round boundary: each
    ``BuildScope.checkpoint`` (lazy or eager) and each parquet round-trip
    (MSF) must see the derived count, and the build must leave the session
    value as it found it."""
    seen = []

    def spy(orig):
        def wrapped(*args, **kwargs):
            seen.append(spark.conf.get(KEY))
            return orig(*args, **kwargs)

        return wrapped

    monkeypatch.setattr(tables.BuildScope, "checkpoint", spy(tables.BuildScope.checkpoint))
    monkeypatch.setattr(DataFrameWriter, "parquet", spy(DataFrameWriter.parquet))
    want = str(tables.derived_shuffle_partitions(SF_DIR, inputs))
    session = "7" if want != "7" else "9"
    with tables.scoped_shuffle_partitions(spark, int(session)):
        df = QUERIES[name](spark, SF_DIR)
        assert spark.conf.get(KEY) == session
        assert df.collect()
        tables.release_persisted(df)
    assert seen, "no round boundary observed"
    assert set(seen) == {want}, seen
