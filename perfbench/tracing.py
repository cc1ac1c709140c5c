"""Per-layer measurement from outside the program.

Three sources, none of which changes the program's code:

- ``ProcSampler``: one thread reading ``/proc`` for the memory of the
  Spark JVM and of its Python workers (the JVM's Python descendants);
  ``cpu_snapshot`` reads their accumulated CPU time at phase boundaries.
- ``EventLog``: Spark's own event log, switched on through the JVM's
  ``spark.*`` system properties before a SparkContext starts.  Jobs are
  attributed to benchmark phases by their submission time.
- ``kernel_sample``: in-process timing of ``FastHtmlSaxDriver`` (with a
  no-op sink) and ``parse_rdfa`` on a seeded page sample, one thread.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces: fields start after the closing paren
    return raw[raw.rindex(")") + 2:].split()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st:
                kids.setdefault(int(st[1]), []).append(int(d))
    return kids


def _argv0(pid: int) -> bytes:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().split(b"\0")[0]
    except OSError:
        return b""


def spark_processes() -> tuple[int | None, list[int]]:
    """(JVM pid, pids of the JVM's Python descendants: the workers).
    Other short-lived children of the JVM (shell helpers, forks that have
    not yet exec'd) are left out."""
    kids = _children()
    jvm = next((p for p in kids.get(os.getpid(), [])
                if b"java" in _argv0(p)), None)
    if jvm is None:
        return None, []
    out, todo = [], list(kids.get(jvm, []))
    while todo:
        p = todo.pop()
        if b"python" in _argv0(p):
            out.append(p)
            todo.extend(kids.get(p, []))
    return jvm, out


def _pss_mb(pid: int) -> float:
    """Proportional set size: pages shared between the forked workers
    (and with their daemon) count once in a sum."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) / 1e3
    except OSError:
        pass
    return 0.0


def cpu_snapshot() -> dict[str, float]:
    """Accumulated CPU seconds of the JVM and of its Python workers
    (reaped workers count through their parent's cutime/cstime)."""
    jvm, workers = spark_processes()
    out = {"jvm": 0.0, "workers": 0.0}
    if jvm is not None:
        st = _stat(jvm)
        if st:
            out["jvm"] = (int(st[11]) + int(st[12])) / _TICK
    for p in workers:
        st = _stat(p)
        if st:
            out["workers"] += (int(st[11]) + int(st[12]) + int(st[13])
                               + int(st[14])) / _TICK
    return out


class ProcSampler:
    """Peak memory (PSS) of the JVM and of its Python workers, sampled
    every ``period`` s.

    The JVM's own subtree is found once per sample, so sessions that are
    stopped and restarted between samples are followed."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.peak = {"total": 0.0, "jvm": 0.0, "workers": 0.0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def reset(self) -> None:
        self.peak = {k: 0.0 for k in self.peak}

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            jvm, workers = spark_processes()
            if jvm is None:
                continue
            j = _pss_mb(jvm)
            w = sum(_pss_mb(p) for p in workers)
            pk = self.peak
            pk["jvm"] = max(pk["jvm"], j)
            pk["workers"] = max(pk["workers"], w)
            pk["total"] = max(pk["total"], j + w)

    def __enter__(self) -> "ProcSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# -- Spark event log ------------------------------------------------------

def enable_event_log(jvm, log_dir: str) -> None:
    """Make the next SparkContext write an event log to ``log_dir``
    (SparkConf reads ``spark.*`` JVM system properties as defaults)."""
    os.makedirs(log_dir, exist_ok=True)
    sysprops = jvm.java.lang.System
    sysprops.setProperty("spark.eventLog.enabled", "true")
    sysprops.setProperty("spark.eventLog.dir",
                         "file://" + os.path.abspath(log_dir))
    sysprops.setProperty("spark.eventLog.compress", "false")


def disable_event_log(jvm) -> None:
    jvm.java.lang.System.clearProperty("spark.eventLog.enabled")


class EventLog:
    """Task metrics from a finished event log, grouped by phase window."""

    def __init__(self, log_dir: str):
        self.jobs: list[tuple[float, list[int]]] = []
        self.tasks: dict[int, list[dict]] = {}
        # Spark 4 writes a directory of rolled files per application
        for path in glob.glob(os.path.join(log_dir, "**", "events_*"),
                              recursive=True):
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        self.jobs.append((ev["Submission Time"] / 1e3,
                                          ev["Stage IDs"]))
                    elif kind == "SparkListenerTaskEnd":
                        m = ev.get("Task Metrics") or {}
                        info = ev["Task Info"]
                        self.tasks.setdefault(ev["Stage ID"], []).append({
                            "ms": info["Finish Time"] - info["Launch Time"],
                            "run_ms": m.get("Executor Run Time", 0),
                            "gc_ms": m.get("JVM GC Time", 0),
                            "spill": m.get("Disk Bytes Spilled", 0),
                            "shuffle_w": (m.get("Shuffle Write Metrics")
                                          or {}).get("Shuffle Bytes Written",
                                                     0),
                            "in_bytes": (m.get("Input Metrics") or {})
                            .get("Bytes Read", 0),
                            "in_records": (m.get("Input Metrics") or {})
                            .get("Records Read", 0),
                            "out_bytes": (m.get("Output Metrics") or {})
                            .get("Bytes Written", 0),
                        })

    def stages(self, windows: list[tuple[float, float]]) -> list[list[dict]]:
        """Task lists of the stages of jobs submitted inside any window."""
        seen, out = set(), []
        for ts, stage_ids in self.jobs:
            if any(a <= ts <= b for a, b in windows):
                for s in stage_ids:
                    if s not in seen and s in self.tasks:
                        seen.add(s)
                        out.append(self.tasks[s])
        return out

    def totals(self, windows: list[tuple[float, float]]) -> dict:
        stages = self.stages(windows)
        tot = {k: 0 for k in ("run_ms", "gc_ms", "spill", "shuffle_w",
                              "in_bytes", "in_records", "out_bytes")}
        for tasks in stages:
            for t in tasks:
                for k in tot:
                    tot[k] += t[k]
        tot["input_scan_stages"] = sum(
            1 for tasks in stages if any(t["in_bytes"] for t in tasks))
        return tot

    def task_skew(self, window: tuple[float, float]) -> float:
        """max ÷ median task duration of the window's largest stage."""
        stages = self.stages([window])
        if not stages:
            return 0.0
        tasks = max(stages, key=len)
        ms = [t["ms"] for t in tasks]
        med = statistics.median(ms)
        return max(ms) / med if med else 0.0


# -- kernel, in process ------------------------------------------------------

class _NullSink:
    def on_tag_open(self, name, attributes):
        pass

    def on_text(self, data):
        pass

    def on_tag_close(self):
        pass

    def on_end(self):
        pass


def time_tokenizer(pages) -> list[float]:
    """Seconds per page for ``FastHtmlSaxDriver`` feeding a no-op sink."""
    from rdfa_streaming_parser_js_spark.kernel.fast_driver import (
        FastHtmlSaxDriver)
    out = []
    for p in pages:
        t0 = time.perf_counter()
        d = FastHtmlSaxDriver(_NullSink())
        d.feed(p.html)
        d.finish()
        out.append(time.perf_counter() - t0)
    return out


def time_kernel(pages) -> tuple[list[float], list[int]]:
    """Seconds per page for ``parse_rdfa``, and the triples it emitted."""
    from rdfa_streaming_parser_js_spark.kernel import parse_rdfa
    secs, triples = [], []
    for p in pages:
        t0 = time.perf_counter()
        try:
            n = len(parse_rdfa(p.html, base_iri=p.url,
                               language=p.lang).triples)
        except Exception:  # a page extract_triples would quarantine
            n = 0
        secs.append(time.perf_counter() - t0)
        triples.append(n)
    return secs, triples
