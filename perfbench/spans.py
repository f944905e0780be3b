"""Spans, streaming progress and Spark event-log accounting.

Everything here is benchmark-side: spans are recorded around calls the
benchmark makes into ``mora_spark`` (or around program functions it
wraps for the traced run), kept in memory and written once at exit.
Parents are assigned afterwards by interval containment — with one
client, the smallest enclosing span is the caller, also across the
streaming sink's callback thread and ``parallel``'s pool threads.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import functools
import glob
import json
import os
import threading
import time
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener

# Span kinds, outermost first: ties on identical intervals resolve so
# an op contains its calls and a call contains its jobs.
_LEVEL = {"op": 0, "call": 1, "job": 2}
PROGRESS_TIMEOUT_S = 30.0


def now_ms() -> float:
    return time.time() * 1000.0


class Tracer:
    """Collects spans ``(name, kind, start_ms, end_ms, attrs)``.

    Disabled tracers still time ops (the end-to-end numbers need them)
    but record no call spans.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()

    def add(self, name, kind, start_ms, end_ms, **attrs) -> dict:
        s = {"name": name, "kind": kind, "start_ms": start_ms,
             "end_ms": end_ms, **attrs}
        with self._lock:
            self.spans.append(s)
        return s

    @contextlib.contextmanager
    def call(self, name):
        """A call span around one call into a program layer."""
        if not self.enabled:
            yield
            return
        t0 = now_ms()
        try:
            yield
        finally:
            self.add(name, "call", t0, now_ms())

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a spanned version (traced runs
        only; the program's files are untouched)."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def spanned(*a, **kw):
            with self.call(name):
                return fn(*a, **kw)

        setattr(owner, attr, spanned)

    def link(self) -> list[dict]:
        """Assign ids, parents (smallest containing span) and the op
        (trace) id each span belongs to; returns the spans in order."""
        spans = sorted(
            self.spans,
            key=lambda s: (s["start_ms"], -s["end_ms"], _LEVEL[s["kind"]]),
        )
        for i, s in enumerate(spans):
            s["id"] = i
        open_: list[dict] = []
        for s in spans:
            while open_ and not (
                open_[-1]["end_ms"] >= s["end_ms"]
                and _LEVEL[open_[-1]["kind"]] <= _LEVEL[s["kind"]]
            ):
                open_.pop()
            # a job is never a parent; an op never has one
            parent = open_[-1] if open_ and s["kind"] != "op" else None
            s["parent"] = parent["id"] if parent else None
            s["op"] = (
                s["id"] if s["kind"] == "op"
                else parent["op"] if parent else None
            )
            if s["kind"] != "job":
                open_.append(s)
        by_id = {s["id"]: s for s in spans}
        kids = defaultdict(list)
        for s in spans:
            if s["parent"] is not None:
                kids[s["parent"]].append(s)
        for s in spans:
            s["self_ms"] = (s["end_ms"] - s["start_ms"]) - union_ms(
                [(max(c["start_ms"], s["start_ms"]),
                  min(c["end_ms"], s["end_ms"])) for c in kids[s["id"]]]
            )
            p = by_id.get(s["parent"])
            s["layer"] = s["name"] if s["kind"] != "job" else (
                p["name"] if p else "unattributed"
            )
        return spans


def union_ms(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _iso_ms(ts: str) -> float:
    d = dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ")
    return d.replace(tzinfo=dt.timezone.utc).timestamp() * 1000.0


class ProgressLog(StreamingQueryListener):
    """Structured Streaming's own progress channel: one record per
    micro-batch, grouped by run id."""

    def __init__(self):
        self.started: list[str] = []
        self.terminated: set[str] = set()
        self.batches: dict[str, list[dict]] = defaultdict(list)
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        with self._lock:
            self.started.append(str(event.runId))

    def onQueryProgress(self, event):
        p = event.progress
        d = dict(p.durationMs)
        rec = {
            "batch_id": p.batchId,
            "start_ms": _iso_ms(p.timestamp),
            "input_rows": p.numInputRows,
            "duration": d,
        }
        with self._lock:
            self.batches[str(p.runId)].append(rec)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._lock:
            self.terminated.add(str(event.runId))

    def wait(self, index: int, n_batches: int):
        """Block until the ``index``-th query's termination and
        ``n_batches`` progress records have been delivered (the
        listener bus is asynchronous); returns its batch records."""
        deadline = time.monotonic() + PROGRESS_TIMEOUT_S
        while time.monotonic() < deadline:
            with self._lock:
                if len(self.started) > index:
                    rid = self.started[index]
                    got = self.batches[rid]
                    if rid in self.terminated and len(got) >= n_batches:
                        return sorted(got, key=lambda r: r["batch_id"])
            time.sleep(0.05)
        raise TimeoutError("streaming progress events did not arrive")


# --------------------------------------------------------------------
# Spark event log


def _int(d, *path) -> int:
    for k in path:
        d = (d or {}).get(k)
    return int(d or 0)


def _lines(files):
    for p in files:
        with open(p) as f:
            yield from f


def event_log_jobs(log_dir: str, t0_ms: float, t1_ms: float):
    """Jobs submitted in [t0, t1] with their task totals, from the
    event log the traced session wrote. Returns (jobs, totals)."""
    # Spark 4 writes a rolling log: eventlog_v2_<app>/events_<n>_<app>
    files = sorted(
        glob.glob(os.path.join(log_dir, "*", "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    ) or sorted(
        p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)
    )
    if not files:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    jobs, stage_job, tasks, stages_done = {}, {}, [], set()
    for line in _lines(files):
        e = json.loads(line)
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            jid = e["Job ID"]
            jobs[jid] = {
                "start_ms": float(e["Submission Time"]),
                "call_site": (e.get("Properties") or {}).get(
                    "callSite.short", ""
                ),
            }
            for sid in e.get("Stage IDs", []):
                stage_job[sid] = jid
        elif ev == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end_ms"] = float(e["Completion Time"])
        elif ev == "SparkListenerStageCompleted":
            stages_done.add(e["Stage Info"]["Stage ID"])
        elif ev == "SparkListenerTaskEnd":
            tasks.append(e)
    timed = {
        j: v for j, v in jobs.items()
        if "end_ms" in v and t0_ms <= v["start_ms"] <= t1_ms
    }
    tot = defaultdict(float)
    tot["jobs"] = len(timed)
    tot["stages"] = sum(
        1 for s in stages_done if stage_job.get(s) in timed
    )
    for t in tasks:
        if stage_job.get(t.get("Stage ID")) not in timed:
            continue
        m = t.get("Task Metrics") or {}
        tot["tasks"] += 1
        tot["executor_run_ms"] += _int(m, "Executor Run Time")
        tot["executor_cpu_ms"] += _int(m, "Executor CPU Time") / 1e6
        tot["gc_ms"] += _int(m, "JVM GC Time")
        tot["shuffle_read_bytes"] += _int(
            m, "Shuffle Read Metrics", "Remote Bytes Read"
        ) + _int(m, "Shuffle Read Metrics", "Local Bytes Read")
        tot["shuffle_write_bytes"] += _int(
            m, "Shuffle Write Metrics", "Shuffle Bytes Written"
        )
        tot["input_bytes"] += _int(m, "Input Metrics", "Bytes Read")
        tot["output_bytes"] += _int(m, "Output Metrics", "Bytes Written")
    return timed, tot
