"""Self-tests of the benchmark on tiny inputs.

    python3 -m pytest perfbench -q

Each test starts its own local Spark session through ``run.run_workload``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run  # noqa: E402
import streams  # noqa: E402

TINY = {
    "keyed_count": {"n_keys": 1000, "rate": 2000, "warmup_events": 800, "drain_events": 4000,
                    "open_warmup_s": 1},
    "batch_panel": {"sf": 0.001},
}


def _names(section: str) -> list[str]:
    with open(os.path.join(run.common.ROOT, "BENCHMARK.json")) as fh:
        return [m["name"] for m in json.load(fh)[section]]


@pytest.mark.parametrize("workload", sorted(TINY))
@pytest.mark.parametrize("trace", [False, True])
def test_tiny_run_emits_every_metric(workload, trace):
    res = run.run_workload(workload, seed=7, seconds=2, trace=trace, params=TINY[workload])
    line = run.result_line(res, trace)
    assert line["correct"], line
    assert line["attempted"] >= 1 and line["failed"] == 0
    want = _names("per_layer" if trace else "end_to_end")
    assert sorted(line["metrics"]) == sorted(want)
    if trace:
        # every metric the workload measures is in the layer map itself
        touched = {"keyed_count": "datastream.state_commit_ms",
                   "batch_panel": "queries.q9_profit_by_nation.exec_s"}[workload]
        assert touched in res["layers"]
    else:
        assert all(m["value"] > 0 for m in line["metrics"].values()), line


def test_check_trips_on_sink_that_drops_a_batch(monkeypatch):
    orig = streams.TimedSink.__call__
    dropped = []

    def lossy(self, batch_df, batch_id):
        if batch_id == 1 and not dropped:  # the drain batch never reaches the sink
            dropped.append(batch_id)
            # consumed in full, as Spark requires of stateful batches, but not written
            batch_df.write.format("noop").mode("overwrite").save()
            self.calls[batch_id] = (0.0, 1.0)
            return
        orig(self, batch_df, batch_id)

    monkeypatch.setattr(streams.TimedSink, "__call__", lossy)
    monkeypatch.setattr(run, "SETUP_REPS", 1)
    # many keys, so most keys of the dropped batch are not updated again
    res = run.run_workload("keyed_count", seed=7, seconds=2, trace=False,
                           params=dict(TINY["keyed_count"], n_keys=100_000))
    assert dropped
    assert res["failed"] > 0


def test_check_trips_on_wrong_query_result(monkeypatch):
    from flink_net_spark.queries import QUERIES

    run.common.bootstrap()
    orig = QUERIES["q9_profit_by_nation"]
    monkeypatch.setitem(QUERIES, "q9_profit_by_nation",
                        lambda spark, sf_dir: orig(spark, sf_dir).limit(3))
    monkeypatch.setattr(run, "SETUP_REPS", 1)
    res = run.run_workload("batch_panel", seed=7, seconds=1, trace=False,
                           params=TINY["batch_panel"])
    assert res["failed"] > 0


def test_stalled_open_loop_makes_the_run_invalid(monkeypatch):
    orig = streams.Generator.send

    def stalled(self, cmd):
        reply = orig(self, cmd)
        if cmd.startswith("open "):
            reply["late_ms_max"] = 10_000.0  # as if the box froze for 10 s
        return reply

    monkeypatch.setattr(streams.Generator, "send", stalled)
    monkeypatch.setattr(run, "SETUP_REPS", 1)
    with pytest.raises(RuntimeError, match="run invalid"):
        run.run_workload("keyed_count", seed=7, seconds=2, trace=False,
                         params=TINY["keyed_count"])


def test_no_process_outlives_the_run():
    """The JVM, its workers and the generator have all ended when the
    clean-up returns, also when the run fails with a generator running."""
    code = (
        "import sys; sys.path.insert(0, 'perfbench')\n"
        "import common, streams\n"
        "common.bootstrap()\n"
        "spark = common.start_spark('perfbench_cleanup', 1)\n"
        "spark.range(10).collect()\n"
        "import os; os.makedirs(common.WORK, exist_ok=True)\n"
        "gen = streams.Generator({'kind': 'keyed_count', 'seed': 1, 'n_keys': 10, 'rate': 10,\n"
        "    'tick_ms': 100, 'warmup_events': 8, 'warmup_files': 1, 'drain_events': 8,\n"
        "    'drain_files': 1, 'drain_rounds': 1, 'open_ticks': 1,\n"
        "    'staging': common.WORK + '/staging', 'source': common.WORK + '/source'}, common.WORK)\n"
        "common.stop_all_processes()\n"
        "print(common._descendants(os.getpid()))\n"
    )
    out = subprocess.run([sys.executable, "-c", code], cwd=run.common.ROOT, capture_output=True,
                         text=True, timeout=170)
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip().splitlines()[-1] == "[]", out.stdout
