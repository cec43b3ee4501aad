"""Keyed stateful processing — SURVEY.md §2.9/§2.7 on applyInPandasWithState.

Reference contracts reproduced here:
  - Keyed Value/List/Map state (IValueState.cs:8, IListState.cs:10,
    IMapState.cs:11) + named state descriptors
    (Models/State/ValueStateDescriptor.cs:1 etc.) → ``StateContext``
    accessors over the group's state blob.  Arbitrary Python values are
    JSON-encoded into a single state column — the Python-layer analog of
    the reference's serializer-registry-backed state cells
    (SerializerRegistry.cs:20-28).
  - ``IRuntimeContext.GetCurrentKey`` (Context/IRuntimeContext.cs:13-85)
    → ``StateContext.key``.
  - Per-key timers (Timers/ITimerService.cs:11, TimerType.cs:3):
    processing-time ≙ ``GroupStateTimeout.ProcessingTimeTimeout`` +
    ``register_processing_time_timer``; event-time ≙
    ``EventTimeTimeout`` + ``register_event_time_timer`` (fires when the
    watermark passes the timestamp — identical semantics, micro-batch
    quantized firing).
  - Custom triggers (Core.Api/Windowing/Trigger.cs:8-80,
    DefaultTriggers.cs:7-52): ``count_trigger_window`` = CountTrigger over
    GlobalWindows (fire-and-purge every N); EventTimeTrigger is Spark's
    native watermark firing; NeverTrigger = GlobalWindows with no emission
    until timeout/flush.
  - ``ProcessWindowFunction`` full-pane access
    (IProcessWindowFunction.cs:17-42) + ``IEvictor`` EvictBefore
    (Streaming/Transformations.cs:12-23) → ``process_window`` (batch or
    foreachBatch): groups the pane, applies evictor, then the user's
    full-pane function via applyInPandas.

Scale: state lives in the state store (RocksDB provider per session conf),
partitioned by key — the same layout as the reference's per-key RocksDB
column families (RocksDBStateBackend.cs:71).  The Arrow boundary batches
rows per key-group; no per-row Python round trips.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


class StateContext:
    """Flink-flavored view over a Spark ``GroupState``.

    One JSON blob per key holds every named state cell; accessors mirror
    IValueState/IListState/IMapState (Get/Update ≙ value, Add/Get ≙ list,
    Put/Get/Remove ≙ map)."""

    def __init__(self, key: tuple, state: GroupState):
        self.key = key if len(key) != 1 else key[0]  # ≙ GetCurrentKey
        self._state = state
        if state.exists:
            (blob,) = state.get
            self._cells: dict[str, Any] = json.loads(blob)
        else:
            self._cells = {}

    # -- IValueState -------------------------------------------------------
    def value(self, name: str, default: Any = None) -> Any:
        return self._cells.get(f"v:{name}", default)

    def update(self, name: str, val: Any) -> None:
        self._cells[f"v:{name}"] = val

    # -- IListState --------------------------------------------------------
    def list(self, name: str) -> list:  # noqa: A003
        return self._cells.setdefault(f"l:{name}", [])

    def add(self, name: str, val: Any) -> None:
        self._cells.setdefault(f"l:{name}", []).append(val)

    # -- IMapState ---------------------------------------------------------
    def map(self, name: str) -> dict:  # noqa: A003
        return self._cells.setdefault(f"m:{name}", {})

    def put(self, name: str, k: str, v: Any) -> None:
        self._cells.setdefault(f"m:{name}", {})[k] = v

    # -- timers ≙ ITimerService ---------------------------------------------
    def register_processing_time_timer(self, delay_ms: int) -> None:
        self._state.setTimeoutDuration(delay_ms)

    def register_event_time_timer(self, timestamp_ms: int) -> None:
        self._state.setTimeoutTimestamp(timestamp_ms)

    @property
    def timed_out(self) -> bool:
        return self._state.hasTimedOut

    @property
    def current_watermark_ms(self) -> int:
        return self._state.getCurrentWatermarkMs()

    # -- lifecycle -----------------------------------------------------------
    def clear(self) -> None:  # ≙ State.Clear / window purge
        self._cells = {}
        self._cleared = True

    def flush(self) -> None:
        if getattr(self, "_cleared", False) and not self._cells:
            self._state.remove()
        else:
            self._state.update((json.dumps(self._cells),))


_STATE_SCHEMA = "blob STRING"

_TIMEOUTS = {
    "none": GroupStateTimeout.NoTimeout,
    "processing": GroupStateTimeout.ProcessingTimeTimeout,
    "event": GroupStateTimeout.EventTimeTimeout,
}


def map_groups_with_state(
    df: DataFrame,
    key_cols: list[str],
    fn: Callable[[StateContext, Iterator[pd.DataFrame]], Iterator[pd.DataFrame]],
    output_schema: str,
    timeout: str = "none",
    output_mode: str = "update",
) -> DataFrame:
    """The KeyedProcessFunction harness: ``fn(ctx, pdf_iter)`` runs per key
    per micro-batch with Value/List/Map state and timers on ``ctx``.
    On timeout firing, ``pdf_iter`` yields no rows and ``ctx.timed_out``
    is True (≙ Trigger.OnEventTime/OnProcessingTime)."""

    from flink_net_spark.session import ship_package_to_executors

    ship_package_to_executors(df.sparkSession)

    def wrapped(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState):
        ctx = StateContext(key, state)
        yield from fn(ctx, pdfs)
        ctx.flush()

    return df.groupBy(*key_cols).applyInPandasWithState(
        wrapped, output_schema, _STATE_SCHEMA, output_mode, _TIMEOUTS[timeout]
    )


# ---------------------------------------------------------------------------
# Concrete stateful operators built on the harness
# ---------------------------------------------------------------------------

def running_aggregate(
    df: DataFrame, key_col: str, value_col: str
) -> DataFrame:
    """Running per-key count+sum via ValueState (≙ IRichMapOperator with
    IValueState).  Emits one row per key per micro-batch carrying the
    cumulative totals; ``n_seen`` is monotone, so the row with the max
    ``n_seen`` per key is the final answer independent of batch slicing."""

    def fn(ctx: StateContext, pdfs: Iterator[pd.DataFrame]):
        n = ctx.value("n", 0)
        s = ctx.value("sum", 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf[value_col].sum())
        ctx.update("n", n)
        ctx.update("sum", s)
        yield pd.DataFrame({"k": [ctx.key], "n_seen": [n], "sum_value": [s]})

    return map_groups_with_state(
        df, [key_col], fn, "k BIGINT, n_seen BIGINT, sum_value DOUBLE", output_mode="update"
    )


def count_trigger_window(
    df: DataFrame, key_col: str, value_col: str, trigger_count: int
) -> DataFrame:
    """GlobalWindows + CountTrigger (fire & purge every N elements,
    ≙ Trigger.cs TriggerResults.FireAndPurge + GlobalWindows.cs:10-65):
    buffers rows in ListState, emits an aggregate row for every full pane
    of ``trigger_count`` elements, carries the remainder."""

    def fn(ctx: StateContext, pdfs: Iterator[pd.DataFrame]):
        buf = ctx.list("pane")
        fired = ctx.value("fires", 0)
        for pdf in pdfs:
            buf.extend(float(v) for v in pdf[value_col])
        out = []
        while len(buf) >= trigger_count:
            pane, buf[:] = buf[:trigger_count], buf[trigger_count:]
            fired += 1
            out.append((ctx.key, fired, len(pane), round(sum(pane), 2)))
        ctx.update("fires", fired)
        if out:
            yield pd.DataFrame(out, columns=["k", "fire_seq", "n", "sum_value"])

    return map_groups_with_state(
        df, [key_col], fn, "k BIGINT, fire_seq INT, n INT, sum_value DOUBLE", output_mode="append"
    )


def idle_session_timeout(
    df: DataFrame, key_col: str, ts_col: str, gap_ms: int
) -> DataFrame:
    """Custom session assembly with event-time timers: buffer per-key events;
    when the watermark passes last-event + gap, the timer fires and the
    session is emitted + purged (≙ EventTimeTrigger registering a timer at
    window.MaxTimestamp, DefaultTriggers.cs:7-29).  Demonstrates
    NeverTrigger-style behavior too: no emission happens on data, only on
    timer.  A session spans its earliest to its latest event time, in
    whatever order the events arrive."""

    def fn(ctx: StateContext, pdfs: Iterator[pd.DataFrame]):
        if ctx.timed_out:
            n = ctx.value("n", 0)
            if n:
                yield pd.DataFrame(
                    {
                        "k": [ctx.key],
                        "session_start_ms": [ctx.value("start")],
                        "session_end_ms": [ctx.value("last") + gap_ms],
                        "n_events": [n],
                    }
                )
            ctx.clear()
            return
        first = ctx.value("start")
        last = ctx.value("last")
        n = ctx.value("n", 0)
        for pdf in pdfs:
            if len(pdf):
                ms = pdf[ts_col].astype("int64") // 1_000_000
                lo, hi = int(ms.min()), int(ms.max())
                first = lo if first is None else min(first, lo)
                last = hi if last is None else max(last, hi)
                n += len(pdf)
        ctx.update("start", first)
        ctx.update("last", last)
        ctx.update("n", n)
        if last is not None:
            ctx.register_event_time_timer(last + gap_ms)

    return map_groups_with_state(
        df,
        [key_col],
        fn,
        "k BIGINT, session_start_ms BIGINT, session_end_ms BIGINT, n_events BIGINT",
        timeout="event",
        output_mode="append",
    )


def process_window(
    df: DataFrame,
    key_cols: list[str],
    window_col,
    fn: Callable[[pd.DataFrame], pd.DataFrame],
    output_schema: str,
    evictor: Callable[[pd.DataFrame], pd.DataFrame] | None = None,
) -> DataFrame:
    """ProcessWindowFunction: full-pane access per (key, window)
    (IProcessWindowFunction.cs:17-42) with optional EvictBefore
    (Transformations.cs:12-23).  Batch DataFrame in, one applyInPandas per
    pane — each pane is one Arrow batch, no global collect."""

    from flink_net_spark.session import ship_package_to_executors

    ship_package_to_executors(df.sparkSession)

    def pane_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        if evictor is not None:
            pdf = evictor(pdf)
        return fn(pdf)

    return df.withColumn("__w", window_col).groupBy("__w", *key_cols).applyInPandas(
        pane_fn, output_schema
    )


def punctuated_window_aggregate(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    marker_col: str,
    size_ms: int,
) -> DataFrame:
    """Punctuated watermark generator ≙ PunctuatedWatermarkGenerator
    (Core/Windowing/WatermarkManager.cs:108-141): event time advances ONLY
    when a marker element arrives — the watermark is the max marker
    timestamp seen, never a periodic bound.  Spark has no punctuated mode
    (its watermark moves once per micro-batch), so the contract is
    reproduced on the stateful harness:

      - non-marker rows buffer into tumbling panes held in MapState
        (pane = epoch-aligned ``(ts // size) * size``, the same start
        formula as TimeWindow.GetWindowStartWithOffset);
      - marker rows advance per-key ValueState ``wm`` to their timestamp
        (markers are replicated to every key upstream ≙ Flink broadcasting
        watermarks to all parallel subtasks);
      - when ``wm`` advances, every pane with ``end <= wm`` fires and
        purges (≙ EventTimeTrigger registering at window.MaxTimestamp,
        DefaultTriggers.cs:7-29);
      - an element whose pane already fired in an EARLIER batch is late
        relative to the punctuated watermark and is dropped — no periodic
        rescue, exactly the punctuated semantics.

    Within one micro-batch all elements buffer before markers fire (batch-
    granular ordering), so results are deterministic under any batch
    slicing of an in-timestamp-order replay.

    Scale: one keyed shuffle into the state store; pane state per key is
    bounded by the marker cadence × window size, identical at 1000
    executors.
    """

    def fn(ctx: StateContext, pdfs: Iterator[pd.DataFrame]):
        wm = ctx.value("wm", -1)
        panes = ctx.map("panes")  # {str(window_start_ms): [n, sum]}
        new_wm = wm
        for pdf in pdfs:
            ms = pdf[ts_col].astype("int64") // 1_000_000
            is_marker = pdf[marker_col].astype(bool)
            if bool(is_marker.any()):
                new_wm = max(new_wm, int(ms[is_marker].max()))
            ems = ms[~is_marker]
            starts = (ems // size_ms) * size_ms
            # late = pane fired (and purged) in a previous batch
            live = (starts + size_ms) > wm
            vals = pdf[value_col][~is_marker][live]
            for st, v in zip(starts[live], vals):
                cell = panes.setdefault(str(int(st)), [0, 0.0])
                cell[0] += 1
                cell[1] += float(v)
        out = []
        for st_s in sorted(panes, key=int):
            st = int(st_s)
            if st + size_ms <= new_wm:
                n, s = panes.pop(st_s)
                out.append((ctx.key, st, n, round(s, 2)))
        ctx.update("wm", new_wm)
        if out:
            yield pd.DataFrame(
                out, columns=["k", "window_start_ms", "n_events", "sum_value"]
            )

    return map_groups_with_state(
        df,
        [key_col],
        fn,
        "k BIGINT, window_start_ms BIGINT, n_events BIGINT, sum_value DOUBLE",
        output_mode="append",
    )


def dedupe_stream(df: DataFrame, id_cols: list[str]) -> DataFrame:
    """Streaming exact-once-per-id dedup via dropDuplicates on a keyed
    state store — the streaming counterpart of dedup_exact (and the
    mechanism behind at-least-once→exactly-once repair on sinks)."""
    return df.dropDuplicates(id_cols)
