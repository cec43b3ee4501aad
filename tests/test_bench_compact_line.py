"""Compact-line per-query map contract (r17, VERDICT r16 #1).

The driver's PERF builder reads per-query medians from the PRINTED line
only, and records a ~2000-char stdout tail — so the emitted map must (a)
always contain every pinned name that was measured, (b) fit the byte
budget after main()'s shedding pass, and (c) shed unpinned entries first
(cheapest first) so the pinned set is stable across rounds and across the
driver's 32-core/8-core runs.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import bench  # noqa: E402


def test_pin_file_exists_and_names_are_panel_queries():
    pins = bench._compact_pin_names()
    assert len(pins) >= 30
    assert "graph_connected_components" in pins  # adjudication subject
    assert "q9_profit_by_nation" in pins  # adjudication subject
    assert "stream_window_tumbling_hourly" in pins  # adjudication subject
    assert len(pins) == len(set(pins)), "duplicate pin names"


def test_compact_map_contains_all_measured_pins():
    pins = bench._compact_pin_names()
    timings = {n: 0.5 for n in pins}
    timings.update({f"zz_extra_{i}": 2.0 for i in range(40)})
    qmap, elided = bench._compact_query_map(timings)
    for n in pins:
        assert n in qmap
    assert elided == len(timings) - len(qmap)


def _oversized_line_parts(filler: int) -> tuple[list[str], dict]:
    pins = bench._compact_pin_names()
    timings = {n: 1.0 + i * 0.01 for i, n in enumerate(pins)}
    timings.update({f"unpinned_query_with_a_long_name_{i:03d}": 0.2 + i * 0.001
                    for i in range(60)})
    compact_queries, n_elided = bench._compact_query_map(timings)
    compact = {"metric": "headline_queries_total_wall_time", "value": 1.0,
               "unit": "sec", "queries": compact_queries, "qx": n_elided,
               "families": {"graph": 1.0}, "filler": "x" * filler}
    return pins, compact


def test_shed_keeps_pins_and_fits_budget(capsys):
    """main()'s shedding pass: with an oversized map, unpinned entries go
    first (cheapest first) and the line lands under budget with every
    pinned name intact — and without a shed-pins warning."""
    pins, compact = _oversized_line_parts(700)
    line = bench._shed_compact_line(compact, 100, None)
    assert len(line) <= bench._COMPACT_LINE_BUDGET
    for n in pins:
        assert n in compact["queries"], "shedding removed a pinned name"
    parsed = json.loads(line)
    assert parsed["queries"] == compact["queries"]
    assert parsed["qx"] == 100 - len(compact["queries"])
    assert "WARN shed pinned" not in capsys.readouterr().err


def test_backstop_shed_warns_on_pinned_names(capsys):
    """When even the pinned names do not fit, the backstop loop drops them
    (cheapest first) to keep the line printable — and says which on
    stderr, since it breaks the additions-only pin contract."""
    pins, compact = _oversized_line_parts(1500)
    line = bench._shed_compact_line(compact, 100, None)
    assert len(line) <= bench._COMPACT_LINE_BUDGET
    assert "families" not in compact
    dropped = [n for n in pins if n not in compact["queries"]]
    assert dropped
    err = capsys.readouterr().err
    assert "[bench] WARN shed pinned query names:" in err
    assert all(n in err for n in dropped)
