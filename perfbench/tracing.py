"""Measurement plumbing: spans, Spark event-log attribution, process tree.

Spans are recorded in the benchmark's own code around each call into a
package layer; nothing inside the package is instrumented. A span
records the driver wall time of the public calls (``build_s``) and of
the action the benchmark triggers (``exec_s``), and sets a Spark job
description so every job started inside it carries the span's name.

In a traced run Spark's event log is on (uncompressed JSON lines). After
the session stops, :func:`attribute` reads the log back, assigns each job
to its span (by job description, else by the span interval that contains
the job's submission time — with one client thread spans never overlap)
and sums the executor metrics of the stages each job ran.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

# Stage names that mark Arrow / Python-worker execution.
_PY_NODE = re.compile(r"Python|InPandas|InArrow")
# Package modules that a curation job's call site is split by.
CALLSITE_MODULES = {
    "operators/dedup.py": "operators.dedup",
    "operators/text.py": "operators.text",
    "operators/similarity.py": "operators.similarity",
    "util.py": "util",
}

EVENT_METRICS = (
    "task_s", "cpu_s", "gc_s", "shuffle_bytes", "jobs", "failed_tasks",
    "python_s", "output_bytes", "spill_bytes", "rows_out",
)


def _caller() -> str:
    """file:line of the innermost frame outside PySpark and this module."""
    frame = sys._getframe(2)
    while frame is not None and (
        "/pyspark/" in frame.f_code.co_filename or frame.f_code.co_filename == __file__
    ):
        frame = frame.f_back
    return f"{frame.f_code.co_filename}:{frame.f_lineno}" if frame else "?"


def install_callsites() -> None:
    """Give the eager DataFrame calls that PySpark runs without a call
    site (count, localCheckpoint, checkpoint, parquet schema reads) the
    Python call site that asked for them, as collect() already has, so
    the curation funnel's jobs can be split by package module."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameReader

    def wrap(fn, session_of):
        def with_callsite(self, *args, **kwargs):
            jsc = session_of(self).sparkContext._jsc
            jsc.setCallSite(f"{fn.__name__} at {_caller()}")
            try:
                return fn(self, *args, **kwargs)
            finally:
                jsc.setCallSite(None)

        return with_callsite

    for name in ("count", "localCheckpoint", "checkpoint"):
        setattr(DataFrame, name, wrap(getattr(DataFrame, name), lambda df: df.sparkSession))
    DataFrameReader.parquet = wrap(DataFrameReader.parquet, lambda r: r._spark)


def process_age_s() -> float:
    """Seconds since this process started (kernel start time), so set-up
    time includes interpreter start and imports."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


class Spans:
    """Sequential spans of one client thread."""

    def __init__(self) -> None:
        self.sc = None  # set once the session exists
        self.rows: list[dict] = []

    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "start_ms": time.time() * 1000.0, "build_s": 0.0, "exec_s": 0.0}
        self.rows.append(rec)
        if self.sc is not None:
            self.sc.setJobDescription(name)
        try:
            yield rec
        finally:
            rec["end_ms"] = time.time() * 1000.0
            if self.sc is not None:
                self.sc.setJobDescription(None)

    @staticmethod
    @contextmanager
    def timed(rec: dict, key: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            rec[key] += time.perf_counter() - t0


class ProcessTree:
    """This process and all its descendants (the JVM and the Python
    workers it forks), read from /proc: peak summed RSS, sampled every
    ``interval_s`` by a thread, and CPU seconds, read on demand."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._tick = os.sysconf("SC_CLK_TCK")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def _members(self) -> list[list[str]]:
        """/proc/<pid>/stat fields (after the command name) of the tree."""
        stats: dict[int, list[str]] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        stats[int(d)] = f.read().rsplit(")", 1)[1].split()
                except OSError:
                    continue
        root = os.getpid()
        members = []
        for pid, fields in stats.items():
            p = pid
            while p not in (0, 1, root):
                p = int(stats[p][1]) if p in stats else 0
            if p == root:
                members.append(fields)
        return members

    def cpu_s(self) -> float:
        """CPU seconds used so far by the tree, reaped descendants
        included (utime + stime + cutime + cstime of each live member)."""
        return sum(sum(int(f[i]) for i in (11, 12, 13, 14)) for f in self._members()) / self._tick

    def _loop(self) -> None:
        while True:
            rss = sum(int(f[21]) for f in self._members()) * self._page
            self.peak_bytes = max(self.peak_bytes, rss)
            if self._stop.wait(self.interval_s):
                return

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / (1024.0 * 1024.0)


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------


def _read_events(event_dir: str) -> list[dict]:
    files = [p for p in glob.glob(os.path.join(event_dir, "*")) if os.path.isfile(p)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}, found {files}")
    with open(files[0]) as f:
        return [json.loads(line) for line in f if line.strip()]


def _callsite_module(callsite: str) -> str | None:
    for suffix, module in CALLSITE_MODULES.items():
        if re.search(r"/landsat_tair_data_pipeline_spark/" + re.escape(suffix) + ":", callsite):
            return module
    return None


def _zero() -> dict:
    return dict.fromkeys(EVENT_METRICS, 0.0)


def attribute(event_dir: str, spans: list[dict]) -> tuple[dict, dict]:
    """Sum event-log executor metrics per span name, and per call-site
    module for jobs whose call site lies in the package. Returns
    (by_span, by_callsite)."""
    events = _read_events(event_dir)
    job_span: dict[int, str] = {}
    job_site: dict[int, str | None] = {}
    job_exec: dict[int, str | None] = {}
    stage_job: dict[int, int] = {}
    stage_python: dict[int, bool] = {}
    names = {s["name"] for s in spans}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            desc = props.get("spark.job.description")
            if desc not in names:
                sub = ev.get("Submission Time", 0)
                desc = next(
                    (s["name"] for s in spans if s["start_ms"] <= sub <= s.get("end_ms", 1e18)),
                    "unattributed",
                )
            job_span[jid] = desc
            job_site[jid] = _callsite_module(props.get("callSite.short") or "")
            job_exec[jid] = props.get("spark.sql.execution.root.id") or props.get(
                "spark.sql.execution.id"
            )
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            scopes = " ".join(
                (r.get("Scope") or "") + " " + (r.get("Name") or "")
                for r in info.get("RDD Info", [])
            )
            sid = info["Stage ID"]
            stage_python[sid] = stage_python.get(sid, False) or bool(_PY_NODE.search(scopes))
    # Jobs a query stage or broadcast submits from Spark's own threads
    # carry no call site; they inherit the one of their SQL execution.
    exec_site = {job_exec[j]: m for j, m in job_site.items() if m and job_exec[j]}
    for jid, module in job_site.items():
        if module is None and job_exec[jid] in exec_site:
            job_site[jid] = exec_site[job_exec[jid]]

    by_span: dict[str, dict] = defaultdict(_zero)
    by_site: dict[str, dict] = defaultdict(_zero)
    for jid, name in job_span.items():
        by_span[name]["jobs"] += 1
        if job_site[jid]:
            by_site[job_site[jid]]["jobs"] += 1
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        jid = stage_job.get(ev["Stage ID"])
        if jid is None:
            continue
        m = ev.get("Task Metrics") or {}
        info = ev.get("Task Info") or {}
        run_s = m.get("Executor Run Time", 0) / 1000.0
        cpu_s = m.get("Executor CPU Time", 0) / 1e9
        out = m.get("Output Metrics") or {}
        vals = {
            "task_s": run_s,
            "cpu_s": cpu_s,
            "gc_s": m.get("JVM GC Time", 0) / 1000.0,
            "shuffle_bytes": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
            "failed_tasks": 1 if info.get("Failed") else 0,
            "python_s": max(run_s - cpu_s, 0.0) if stage_python.get(ev["Stage ID"]) else 0.0,
            "output_bytes": out.get("Bytes Written", 0),
            "rows_out": out.get("Records Written", 0),
            "spill_bytes": m.get("Disk Bytes Spilled", 0),
        }
        targets = [by_span[job_span[jid]]]
        if job_site[jid]:
            targets.append(by_site[job_site[jid]])
        for t in targets:
            for k, v in vals.items():
                t[k] += v
    return dict(by_span), dict(by_site)
