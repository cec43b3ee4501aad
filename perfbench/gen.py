"""Seeded input generator and open-loop releaser for the stream workloads.

Runs as one single-threaded child process per set-up:

    python3 perfbench/gen.py <config.json>

It writes every input file of the run into ``<work>/staging`` from the seed,
prints ``ready``, and then obeys one command per stdin line:

    release <phase>   rename all files of ``<phase>`` (warmup, drain<i>) into
                      the source dir now
    open <t0>         release the open-loop files on their fixed schedule,
                      tick ``k`` due at wall time ``t0 + k * tick``, however
                      slow the consumer is
    quit

Every command is answered by one JSON line on stdout.  An event's
``created_ms`` is its creation time as an offset from ``t0``; an open-loop
file holds the events due at its tick, so latency is timed from when an
event was due, which counts the wait a stall imposes on later events.
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Events of the warm-up and drain phases carry creation offsets below this,
# so open-loop latency samples can tell them apart.
PRE_OPEN_MS = -10**9

KEYED_SCHEMA = pa.schema([("key", pa.int64()), ("value", pa.int64()), ("created_ms", pa.int64())])
SESSION_SCHEMA = pa.schema([("key", pa.int64()), ("ts", pa.timestamp("ms", tz="UTC")),
                            ("created_ms", pa.int64()), ("kind", pa.int8())])

# Event time of a sessions event is BASE_TS_MS + its creation offset.
BASE_TS_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z

# ``kind`` of a sessions event: on time, late within the watermark bound,
# late beyond it (dropped by the engine), and the final far-future event
# that closes every session.
ON_TIME, LATE_IN_BOUND, LATE_BEYOND, CLOSER = 0, 1, 2, 3
CLOSER_KEY = -1


def _write(path: str, table: pa.Table) -> None:
    pq.write_table(table, path, compression="snappy")


def keyed_count_files(cfg: dict, staging: str) -> dict[str, list[tuple[int, str]]]:
    """Uniform keys over ``n_keys`` ids; returns ``phase -> [(tick, file)]``."""
    rng = np.random.default_rng(cfg["seed"])
    n_keys = cfg["n_keys"]
    phases: dict[str, list[tuple[int, str]]] = {}

    def emit(phase: str, tick: int, n: int, created_ms: int) -> None:
        name = f"{phase}-{tick:06d}.parquet"
        _write(os.path.join(staging, name), pa.table({
            "key": rng.integers(0, n_keys, n, dtype=np.int64),
            "value": rng.integers(0, 1000, n, dtype=np.int64),
            "created_ms": np.full(n, created_ms, dtype=np.int64),
        }, schema=KEYED_SCHEMA))
        phases.setdefault(phase, []).append((tick, name))

    for i in range(cfg["warmup_files"]):
        emit("warmup", i, cfg["warmup_events"] // cfg["warmup_files"], PRE_OPEN_MS)
    for r in range(cfg["drain_rounds"]):
        for i in range(cfg["drain_files"]):
            emit(f"drain{r}", i, cfg["drain_events"] // cfg["drain_files"], PRE_OPEN_MS)
    per_tick = cfg["rate"] * cfg["tick_ms"] // 1000
    for k in range(cfg["open_ticks"]):
        emit("open", k, per_tick, k * cfg["tick_ms"])
    return phases


def session_events(cfg: dict) -> dict[str, np.ndarray]:
    """Event-time simulation of ``live`` concurrent session slots.

    Each slot runs sessions back to back.  A session takes a Zipf-drawn key
    that is not live and whose previous session ended at least ``cooldown_ms``
    earlier, and emits 2..``max_events`` events spaced ``spacing`` × gap apart
    (always below the gap).  The cooldown exceeds gap + watermark delay + two
    trigger durations, so a key's next session starts only after the engine
    has closed the previous one.  Returns columns for the whole timeline
    ``[start_ms, end_ms)``, sorted by creation time.
    """
    rng = np.random.default_rng(cfg["seed"])
    gap, live = cfg["gap_ms"], cfg["live_sessions"]
    start_ms, end_ms = cfg["timeline_ms"]
    ranks = np.arange(1, cfg["n_keys"] + 1, dtype=np.float64)
    weights = ranks ** -cfg["zipf_s"]
    weights /= weights.sum()
    pool = rng.choice(cfg["n_keys"], size=4 * live + 16 * (end_ms - start_ms) * live // gap // 2,
                      p=weights)
    pool_i = 0
    free_at: dict[int, int] = {}
    keys, ts = [], []
    slot_t = start_ms + rng.integers(0, gap, live)
    for s in range(live):
        t = int(slot_t[s])
        while t < end_ms:
            while True:
                k = int(pool[pool_i % len(pool)])
                pool_i += 1
                if free_at.get(k, -10**15) <= t:
                    break
            n = int(rng.integers(2, cfg["max_events"] + 1))
            steps = rng.uniform(cfg["spacing"][0], cfg["spacing"][1], n - 1) * gap
            times = t + np.concatenate([[0], np.cumsum(steps)]).astype(np.int64)
            times = times[times < end_ms]
            keys.extend([k] * len(times))
            ts.extend(times.tolist())
            last = int(times[-1])
            free_at[k] = last + cfg["cooldown_ms"]
            t = last + int(rng.integers(gap // 4, gap))
    keys_a = np.asarray(keys, dtype=np.int64)
    ts_a = np.asarray(ts, dtype=np.int64)
    order = np.lexsort((keys_a, ts_a))
    keys_a, ts_a = keys_a[order], ts_a[order]
    # A late event is never the first of its session, so the session start
    # is on time; it is released ``late`` ms after its creation.
    first = np.ones(len(keys_a), dtype=bool)
    by_key = np.lexsort((ts_a, keys_a))
    sk, st = keys_a[by_key], ts_a[by_key]
    cont = np.zeros(len(sk), dtype=bool)
    cont[1:] = (sk[1:] == sk[:-1]) & (st[1:] - st[:-1] < gap)
    first[by_key] = ~cont
    kind = np.full(len(keys_a), ON_TIME, dtype=np.int8)
    u = rng.random(len(keys_a))
    kind[(u < cfg["late_in_bound_share"]) & ~first] = LATE_IN_BOUND
    return {"key": keys_a, "ts": ts_a, "kind": kind}


def sessions_files(cfg: dict, staging: str) -> dict[str, list[tuple[int, str]]]:
    """Warm-up and drain events are released as closed-loop backlogs; the
    open-loop events in the file of the first tick at or after their
    release time."""
    rng = np.random.default_rng(cfg["seed"] + 1)
    ev = session_events(cfg)
    keys, ts, kind = ev["key"], ev["ts"], ev["kind"]
    release = ts.copy()
    late_in = kind == LATE_IN_BOUND
    lo_l, hi_l = cfg["late_in_bound_ms"]
    release[late_in] += rng.integers(lo_l, hi_l + 1, int(late_in.sum()))
    # Beyond-bound events: extra events on fresh keys, released during the
    # measured open loop but created ``late_beyond_ms`` before release, far
    # behind any watermark the engine can have by then.
    lo, hi = cfg["late_beyond_window_ms"]
    n_beyond = int(round(cfg["late_beyond_share"] * int(((ts >= lo) & (ts < hi)).sum())))
    b_rel = np.sort(rng.integers(lo, hi, n_beyond))
    end = cfg["timeline_ms"][1]
    keys = np.concatenate([keys, cfg["n_keys"] + np.arange(n_beyond, dtype=np.int64), [CLOSER_KEY]])
    ts = np.concatenate([ts, b_rel - cfg["late_beyond_ms"], [end + 10 * cfg["cooldown_ms"]]])
    kind = np.concatenate([kind, np.full(n_beyond, LATE_BEYOND, dtype=np.int8), [CLOSER]])
    # the closer is the final release: nothing may arrive after the
    # watermark has jumped past every session
    release = np.concatenate([release, b_rel])
    release = np.append(release, max(int(release.max()), end) + cfg["tick_ms"])

    phases: dict[str, list[tuple[int, str]]] = {}

    def emit(phase: str, k: int, idx: np.ndarray) -> None:
        name = f"{phase}-{k:06d}.parquet"
        _write(os.path.join(staging, name), pa.table({
            "key": keys[idx].astype(np.int64),
            "ts": (BASE_TS_MS + ts[idx]).astype("datetime64[ms]"),
            "created_ms": ts[idx].astype(np.int64),
            "kind": kind[idx].astype(np.int8),
        }, schema=SESSION_SCHEMA))
        phases.setdefault(phase, []).append((k, name))

    warm = release < -cfg["drain_span_ms"]
    drain = ~warm & (release < 0)
    for phase, mask in (("warmup", warm), ("drain0", drain)):
        for i, part in enumerate(np.array_split(np.flatnonzero(mask), cfg["closed_files"])):
            emit(phase, i, part)
    tick = cfg["tick_ms"]
    open_idx = np.flatnonzero(release >= 0)
    due = -(-release[open_idx] // tick)
    order = np.argsort(due, kind="stable")
    open_idx, due = open_idx[order], due[order]
    uniq, starts = np.unique(due, return_index=True)
    for k, part in zip(uniq.tolist(), np.split(open_idx, starts[1:])):
        emit("open", k, part)
    return phases


def main(cfg_path: str) -> int:
    with open(cfg_path) as fh:
        cfg = json.load(fh)
    staging, source = cfg["staging"], cfg["source"]
    os.makedirs(staging, exist_ok=True)
    os.makedirs(source, exist_ok=True)
    make = {"keyed_count": keyed_count_files, "sessions_timers": sessions_files}[cfg["kind"]]
    phases = make(cfg, staging)
    tick_s = cfg["tick_ms"] / 1000.0
    print(json.dumps({"ready": True, "files": {p: len(f) for p, f in phases.items()}}), flush=True)
    for line in sys.stdin:
        cmd = line.split()
        if not cmd or cmd[0] == "quit":
            break
        if cmd[0] == "release":
            for _tick, name in phases.get(cmd[1], []):
                os.replace(os.path.join(staging, name), os.path.join(source, name))
            print(json.dumps({"released": cmd[1], "at": time.time()}), flush=True)
        elif cmd[0] == "open":
            t0 = float(cmd[1])
            late_max = 0.0
            for tick, name in phases["open"]:
                due = t0 + tick * tick_s
                wait = due - time.time()
                if wait > 0:
                    time.sleep(wait)
                os.replace(os.path.join(staging, name), os.path.join(source, name))
                late_max = max(late_max, (time.time() - due) * 1000.0)
            print(json.dumps({"opened": True, "late_ms_max": late_max, "end": time.time()}),
                  flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
