"""Tracing from outside the engine: spans around the public calls of the crawl
modules, Spark event-log job intervals and task metrics, and resident-memory
sampling of the Spark processes.

Spans are (name, start, end, parent, run_id) with wall-clock epoch seconds,
so they line up with the event log's millisecond timestamps. They are kept in
memory and turned into metrics when the run ends.
"""

from __future__ import annotations

import functools
import glob
import importlib.util
import json
import os
import threading
import time
from contextlib import contextmanager
from typing import NamedTuple

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _profile_stages():
    """BENCH/profile_stages.py is a script, not a package: load it by path."""
    path = os.path.join(ROOT, "BENCH", "profile_stages.py")
    spec = importlib.util.spec_from_file_location("profile_stages", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Span(NamedTuple):
    name: str
    start: float
    end: float
    parent: str | None
    run_id: int


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.run_id = 0
        self.enabled = False
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        self._lock = threading.Lock()
        self._main_top: str | None = None  # innermost open span, main thread

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        # spans opened on pool threads (the commit's concurrent writes) hang
        # off the innermost span open on the thread that started the run
        parent = stack[-1] if stack else self._main_top
        stack.append(name)
        if threading.current_thread() is threading.main_thread():
            self._main_top = name
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            stack.pop()
            if threading.current_thread() is threading.main_thread():
                self._main_top = stack[-1] if stack else None
            with self._lock:
                self.spans.append(Span(name, t0, t1, parent, self.run_id))

    def wrap(self, owner, attr: str, name) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper. ``name`` is a
        span name or a function of the call's arguments returning one (None
        skips the span)."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            if label is None:
                return orig(*args, **kwargs)
            with self.span(label):
                return orig(*args, **kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def named(self, name: str, run_id: int | None = None) -> list[Span]:
        return [
            s for s in self.spans
            if s.name == name and (run_id is None or s.run_id == run_id)
        ]


COMMIT_TABLES = ("frontier", "seen", "vertices", "edges", "crawl_log")


def wrap_crawl_modules(tracer: Tracer) -> None:
    """Spans around the crawl loop's module-level calls. ``plans.crawl`` binds
    them by name, so patching the module attributes reaches the loop."""
    from pyspark.sql.readwriter import DataFrameWriter

    from fs_crawler_spark.plans import crawl
    from fs_crawler_spark.sources.checkpoint import CheckpointStore

    tracer.wrap(crawl, "run_crawl", "crawl.run")
    tracer.wrap(crawl, "crawl_round", "crawl.plan")
    tracer.wrap(crawl, "_committed_counts", "crawl.counts")
    tracer.wrap(crawl, "_load_frontier", "crawl.reload")
    tracer.wrap(CheckpointStore, "read_union", "crawl.reload")
    tracer.wrap(CheckpointStore, "commit", "checkpoint.commit")

    def write_name(_self, path, *a, **k):
        table = os.path.basename(str(path).rstrip("/"))
        return f"checkpoint.write.{table}" if table in COMMIT_TABLES else None

    tracer.wrap(DataFrameWriter, "parquet", write_name)


# -- Spark event log -----------------------------------------------------------


def _events(path: str):
    # Spark 4 writes eventlog_v2_<app>/events_<n>_<app> files
    parts = sorted(glob.glob(os.path.join(path, "events_*"))) if os.path.isdir(path) else [path]
    for part in parts:
        with open(part) as f:
            for raw in f:
                try:
                    yield json.loads(raw)
                except json.JSONDecodeError:
                    continue


def event_log_file(evdir: str) -> str:
    return max(glob.glob(os.path.join(evdir, "*")), key=os.path.getmtime)


def job_intervals(path: str) -> list[tuple[int, float, float, list[int]]]:
    """(job id, start s, end s, stage ids) of every job in the log."""
    starts, ends = {}, {}
    for d in _events(path):
        ev = d.get("Event")
        if ev == "SparkListenerJobStart":
            starts[d["Job ID"]] = (d["Submission Time"] / 1000.0, d.get("Stage IDs", []))
        elif ev == "SparkListenerJobEnd":
            ends[d["Job ID"]] = d["Completion Time"] / 1000.0
    return [
        (j, t0, ends[j], stages)
        for j, (t0, stages) in sorted(starts.items())
        if j in ends
    ]


def window_metrics(path: str, scratch: str, t0: float, t1: float) -> dict:
    """Task metrics of the jobs submitted inside [t0, t1]. The stage totals
    come from ``BENCH/profile_stages.parse_event_log`` run on a copy of the
    log cut down to those jobs' stages; spill bytes are summed here, since
    that parser does not read them."""
    jobs = [j for j in job_intervals(path) if t0 <= j[1] <= t1]
    stages = {s for j in jobs for s in j[3]}
    cut = os.path.join(scratch, "events_window.json")
    spill = 0
    with open(cut, "w") as out:
        for d in _events(path):
            ev = d.get("Event")
            if ev in ("SparkListenerApplicationStart", "SparkListenerApplicationEnd"):
                out.write(json.dumps(d) + "\n")
            elif ev == "SparkListenerStageCompleted":
                if d["Stage Info"]["Stage ID"] in stages:
                    out.write(json.dumps(d) + "\n")
            elif ev == "SparkListenerTaskEnd" and d.get("Stage ID") in stages:
                out.write(json.dumps(d) + "\n")
                m = d.get("Task Metrics") or {}
                spill += m.get("Disk Bytes Spilled", 0)
    tot = _profile_stages().parse_event_log(cut)
    os.remove(cut)
    return {
        "jobs": jobs,
        "tasks": tot["tasks"],
        "run_s": tot["run_ms"] / 1000.0,
        "cpu_s": tot["cpu_ms"] / 1000.0,
        "gc_s": tot["gc_ms"] / 1000.0,
        "shuffle_write_bytes": tot["shuf_w"],
        "shuffle_read_bytes": tot["shuf_r"],
        "spill_bytes": spill,
    }


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# -- resident memory -----------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(p))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional resident set: pages shared with other processes (the
    forked Python workers share most of theirs) count once across them."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


class RssSampler:
    """Peak summed resident memory (PSS) of the Spark JVM and its
    Python workers, sampled every ``period`` seconds while active."""

    def __init__(self, root_pid: int, period: float = 0.1) -> None:
        self.root = root_pid
        self.period = period
        self.peak = 0
        self.seen_pids: set[int] = set()
        self._on = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.is_set():
            if self._on.is_set():
                pids = process_tree(self.root)
                self.seen_pids.update(pids)
                self.peak = max(self.peak, sum(_pss_bytes(p) for p in pids))
            self._stop.wait(self.period)

    @contextmanager
    def active(self):
        self._on.set()
        try:
            yield
        finally:
            self._on.clear()

    def close(self) -> None:
        self._stop.set()
        self._thread.join()
