"""Shared pieces of the benchmark: checkout-local environment, Spark start,
span recorder, RSS sampler and streaming-progress readers."""

from __future__ import annotations

import contextlib
import datetime as _dt
import json
import os
import statistics
import sys
import threading
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
# Everything a run writes stays inside the checkout.
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")

LAYERS = ["session", "sources", "datastream", "streaming", "stateful", "jobs", "sinks",
          "tables", "queries", "metrics", "generator", "bench"]


def bootstrap() -> None:
    """Point imports, temp files and Python workers at this checkout.

    Exits with code 2 when the library is not beside the benchmark, so a
    directory holding only the benchmark fails fast without a result.
    """
    if not os.path.isdir(os.path.join(ROOT, "flink_net_spark")):
        print(f"perfbench: no flink_net_spark package under {ROOT}", file=sys.stderr)
        sys.exit(2)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p)
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(app: str, n_cores: int, shuffle_partitions: int | None = None):
    """A session from ``session.get_spark``, at ``local[n_cores]``."""
    from flink_net_spark.session import DEFAULT_SHUFFLE_PARTITIONS, get_spark

    tmp = os.environ["TMPDIR"]
    spark = get_spark(app, master=f"local[{n_cores}]",
                      shuffle_partitions=shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS,
                      extra_conf={
        # Memory settings stay the library's own; these only keep the run's
        # files inside the checkout and its progress history complete.
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# ---------------------------------------------------------------------------
# span recorder
# ---------------------------------------------------------------------------

class Tracer:
    """In-memory spans: name, start, end, parent and one trace id per
    trigger or query.  A span's layer is the part of its name before the
    first dot.  Disabled, ``span`` still yields but records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.cost_s = 0.0  # time spent inside the recorder itself

    @contextlib.contextmanager
    def span(self, name: str, trace: str | None = None):
        if not self.enabled:
            yield None
            return
        c0 = time.perf_counter()
        sid = self.add(name, time.time(), None, trace=trace)
        self._stack.append(sid)
        self.cost_s += time.perf_counter() - c0
        try:
            yield sid
        finally:
            c1 = time.perf_counter()
            self._stack.pop()
            self.spans[sid]["end"] = time.time()
            self.cost_s += time.perf_counter() - c1

    def add(self, name: str, start: float, end: float | None, parent: int | None = None,
            trace: str | None = None) -> int:
        if parent is None and self._stack:
            parent = self._stack[-1]
        if trace is None and parent is not None:
            trace = self.spans[parent]["trace"]
        self.spans.append({"id": len(self.spans), "name": name, "start": start, "end": end,
                           "parent": parent, "trace": trace})
        return len(self.spans) - 1

    def self_time_by_layer(self) -> dict[str, float]:
        """Span duration minus the part of it its children cover, summed
        per layer over every recorded span."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {layer: 0.0 for layer in LAYERS}
        for s in self.spans:
            lo, hi = s["start"], s["end"]
            covered, cur = 0.0, lo
            for a, b in sorted(kids.get(s["id"], [])):
                a, b = max(a, cur), min(b, hi)
                if b > a:
                    covered += b - a
                    cur = b
            layer = s["name"].split(".")[0]
            out[layer] = out.get(layer, 0.0) + max(0.0, hi - lo - covered)
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


# ---------------------------------------------------------------------------
# memory
# ---------------------------------------------------------------------------

class RssSampler:
    """Samples the summed RSS of a process tree (the Spark JVM and the
    Python workers it forks) every ``period`` seconds; keeps the peak."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.root_pid: int | None = None
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def start(self, root_pid: int) -> None:
        self.root_pid = root_pid
        self._thread.start()

    @staticmethod
    def _read(path: str) -> str:
        with open(path, "rb") as fh:
            return fh.read().decode(errors="replace")

    def _tree_rss(self) -> int:
        parent: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                stat = self._read(f"/proc/{d}/stat")
            except OSError:
                continue
            ppid = int(stat[stat.rindex(")") + 2:].split()[1])
            parent.setdefault(ppid, []).append(int(d))
        try:
            root_cmd = self._read(f"/proc/{self.root_pid}/cmdline")
        except OSError:
            return 0
        total, todo = 0, [self.root_pid]
        while todo:
            pid = todo.pop()
            try:
                # A child the JVM forked but has not yet exec'd shares the
                # JVM's pages; counting it would double the JVM.
                if pid != self.root_pid and self._read(f"/proc/{pid}/cmdline") == root_cmd:
                    continue
                total += int(self._read(f"/proc/{pid}/statm").split()[1]) * self._page
            except OSError:
                continue
            todo.extend(parent.get(pid, []))
        return total

    def sample(self) -> None:
        if self.root_pid is not None:
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def stop(self) -> float:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=5)
        self.sample()
        return self.peak_bytes / 2**20


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


# ---------------------------------------------------------------------------
# process clean-up
# ---------------------------------------------------------------------------

def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as fh:
                stat = fh.read().decode(errors="replace")
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _alive(pid: int) -> bool:
    try:
        os.waitpid(pid, os.WNOHANG)  # reap it if it is our own exited child
    except ChildProcessError:
        pass
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            stat = fh.read().decode(errors="replace")
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def _wait_gone(pids: list[int], timeout: float) -> list[int]:
    deadline = time.monotonic() + timeout
    while True:
        pids = [p for p in pids if _alive(p)]
        if not pids or time.monotonic() >= deadline:
            return pids
        time.sleep(0.05)


def stop_all_processes() -> None:
    """Stop every process this run started and wait until each has ended.

    ``SparkSession.stop`` leaves the JVM running until the Python process
    exits, and the JVM then shuts down after it; so the JVM is told to exit
    here (its stdin is closed) and waited for, together with the Python
    workers it forked and any generator process still running.  What is
    still alive after the grace period is terminated, then killed.
    """
    import signal
    import subprocess

    pids = _descendants(os.getpid())
    try:
        from pyspark import SparkContext

        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None and proc.stdin is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    pass
    except Exception as exc:  # clean-up goes on; the signals below still apply
        print(f"perfbench: stopping Spark: {type(exc).__name__}: {exc}", file=sys.stderr)
    pids = _wait_gone(pids, 5)
    for sig, grace in ((signal.SIGTERM, 10), (signal.SIGKILL, 10)):
        for pid in pids:
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        pids = _wait_gone(pids, grace)


# ---------------------------------------------------------------------------
# statistics and streaming progress
# ---------------------------------------------------------------------------

def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def pct(xs, q: float) -> float:
    """Inclusive-linear percentile ``q`` in [0, 1] of ``xs``."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return float(xs[lo] + (xs[hi] - xs[lo]) * (pos - lo))


def progress_start(p: dict) -> float:
    """Trigger start time (epoch seconds) of a progress report."""
    ts = _dt.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    return ts.replace(tzinfo=_dt.timezone.utc).timestamp()


# Order in which a micro-batch runs the phases it reports in durationMs.
TRIGGER_PHASES = [
    ("latestOffset", "sources.latest_offset"),
    ("walCommit", "jobs.wal_commit"),
    ("getBatch", "sources.get_batch"),
    ("queryPlanning", "jobs.query_planning"),
    ("addBatch", "jobs.add_batch"),
    ("commitOffsets", "jobs.commit_offsets"),
]


def add_trigger_spans(tracer: Tracer, progress: list[dict], sink_calls: dict[int, tuple],
                      state_span: str | None, n_cores: int, parent: int | None) -> None:
    """Synthesize one span tree per trigger from its progress report.

    Phases are laid end to end from the trigger start in execution order;
    the sink call is the measured wall interval, inside ``addBatch``.  The
    state commit is reported summed over tasks, so its span is that sum
    spread over the task slots, placed at the end of the sink call.
    """
    if not tracer.enabled:
        return
    for p in progress:
        d = p.get("durationMs", {})
        t = progress_start(p)
        trace = f"batch-{p['batchId']}"
        root = tracer.add("jobs.trigger", t, t + d.get("triggerExecution", 0) / 1000, parent, trace)
        cur = t
        for key, name in TRIGGER_PHASES:
            if key not in d:
                continue
            end = cur + d[key] / 1000
            sid = tracer.add(name, cur, end, root, trace)
            if key == "addBatch" and p["batchId"] in sink_calls:
                s0, s1 = sink_calls[p["batchId"]]
                s0, s1 = max(s0, cur), min(s1, end)
                call = tracer.add("sinks.call", s0, max(s0, s1), sid, trace)
                commit_ms = sum(o.get("commitTimeMs", 0) for o in p.get("stateOperators", []))
                if state_span and commit_ms:
                    parts = max(o.get("numShufflePartitions", 1) for o in p["stateOperators"])
                    wall = commit_ms / 1000 / max(1, min(parts, n_cores))
                    tracer.add(state_span, max(s0, s1 - wall), max(s0, s1), call, trace)
            cur = end
