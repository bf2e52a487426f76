"""Measurement from outside the program: /proc sampling of the process
tree, the Spark UI REST API, and the in-memory span recorder used by the
traced run. Nothing here imports exon_spark."""

from __future__ import annotations

import calendar
import json
import os
import threading
import time
import urllib.request

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGESIZE")


# ------------------------------------------------------------------- /proc


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may contain spaces; fields resume after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` and all its descendants (driver Python, the JVM it
    launched, and the JVM's Python workers)."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def tree_cpu_s(pids: list[int]) -> dict[int, float]:
    """User+system CPU per pid, including reaped children (a Python worker
    that exits is reaped by the pyspark daemon and lands in its cutime)."""
    out = {}
    for p in pids:
        f = _stat_fields(p)
        if f is not None:
            out[p] = sum(int(x) for x in f[11:15]) / _TICK
    return out


def tree_rss_bytes(pids: list[int]) -> int:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


class TreeSampler:
    """Samples the process tree's RSS in a background thread and its CPU
    time and the host's steal at start/stop."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.peak_rss = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self.peak_rss = max(self.peak_rss, tree_rss_bytes(tree_pids()))

    def start(self) -> None:
        self._cpu0 = tree_cpu_s(tree_pids())
        self._steal0 = cpu_ticks()
        self.peak_rss = tree_rss_bytes(tree_pids())
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> dict:
        self._stop.set()
        self._thread.join(timeout=5)
        pids = tree_pids()
        self.peak_rss = max(self.peak_rss, tree_rss_bytes(pids))
        cpu1 = tree_cpu_s(pids)
        # a pid gone by the end took its unreaped CPU with it; pids new
        # since the start count from zero
        cpu = sum(v - self._cpu0.get(p, 0.0) for p, v in cpu1.items())
        s1 = cpu_ticks()
        d_total = s1[1] - self._steal0[1]
        return {
            "cpu_s": cpu,
            "peak_rss_mb": self.peak_rss / 2**20,
            "steal_pct": 100.0 * (s1[0] - self._steal0[0]) / d_total if d_total else 0.0,
        }


# -------------------------------------------------------------- Spark REST


def _get(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.load(r)


def _epoch(ts: str | None) -> float | None:
    """'2026-10-16T23:29:00.182GMT' -> epoch seconds."""
    if not ts:
        return None
    base, ms = ts[:19], ts[20:23]
    return calendar.timegm(time.strptime(base, "%Y-%m-%dT%H:%M:%S")) + int(ms) / 1000


def spark_jobs(ui_url: str, app_id: str, groups: set[str], wait_s: float = 10.0) -> list[dict]:
    """Jobs in ``groups`` with their stages' task metrics, read from the
    UI REST API once every job in those groups has finished (the UI store
    is fed asynchronously by the listener bus)."""
    base = f"{ui_url}/api/v1/applications/{app_id}"
    deadline = time.monotonic() + wait_s
    while True:
        jobs = [j for j in _get(f"{base}/jobs") if j.get("jobGroup") in groups]
        if all(j["status"] in ("SUCCEEDED", "FAILED") for j in jobs) or time.monotonic() > deadline:
            break
        time.sleep(0.2)
    stages = {(s["stageId"], s["attemptId"]): s for s in _get(f"{base}/stages")}
    by_stage: dict[int, list[dict]] = {}
    for (sid, _), s in stages.items():
        by_stage.setdefault(sid, []).append(s)
    out = []
    for j in jobs:
        m = dict(stages=0, tasks=0, executor_cpu_s=0.0, executor_run_s=0.0,
                 input_bytes=0, shuffle_bytes=0, spill_bytes=0, output_bytes=0)
        for sid in j.get("stageIds", []):
            for s in by_stage.get(sid, []):
                if s["status"] == "SKIPPED":
                    continue
                m["stages"] += 1
                m["tasks"] += s.get("numTasks", 0)
                m["executor_cpu_s"] += s.get("executorCpuTime", 0) / 1e9
                m["executor_run_s"] += s.get("executorRunTime", 0) / 1e3
                m["input_bytes"] += s.get("inputBytes", 0)
                m["output_bytes"] += s.get("outputBytes", 0)
                m["shuffle_bytes"] += s.get("shuffleReadBytes", 0) + s.get("shuffleWriteBytes", 0)
                m["spill_bytes"] += s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
        out.append({
            "job_id": j["jobId"],
            "group": j["jobGroup"],
            "name": j.get("name", ""),
            "start": _epoch(j.get("submissionTime")),
            "end": _epoch(j.get("completionTime")),
            **m,
        })
    return out


# ------------------------------------------------------------------- spans


class Tracer:
    """Spans kept in memory: name, start, end, parent span and the op
    they belong to. ``span`` is a context manager; ``wrap`` patches a
    module attribute so every call through it records a span."""

    def __init__(self):
        self.spans: list[dict] = []
        self._next_id = 0
        self._stack: list[int] = []
        self.op_id: str | None = None

    def span(self, name: str):
        tracer = self

        class _Span:
            def __enter__(self):
                self.rec = {
                    "id": tracer._next_id,
                    "parent": tracer._stack[-1] if tracer._stack else None,
                    "op": tracer.op_id,
                    "name": name,
                    "start": time.time(),
                    "end": None,
                }
                tracer._next_id += 1
                tracer.spans.append(self.rec)
                tracer._stack.append(self.rec["id"])
                return self.rec

            def __exit__(self, *exc):
                self.rec["end"] = time.time()
                tracer._stack.pop()
                return False

        return _Span()

    def wrap(self, owner, attr: str, name: str, keep=None):
        """Replace ``owner.attr`` with a span-recording wrapper while an op
        is traced; returns a function restoring the original. A span whose
        call result fails ``keep`` is dropped (a COPY hook that declined
        a non-COPY statement did no sink work)."""
        orig = getattr(owner, attr)

        def wrapped(*a, **kw):
            if self.op_id is None:
                return orig(*a, **kw)
            with self.span(name) as rec:
                out = orig(*a, **kw)
            if keep is not None and not keep(out):
                self.spans.remove(rec)
            return out

        setattr(owner, attr, wrapped)
        return lambda: setattr(owner, attr, orig)


def stop_tree(timeout_s: float = 30.0) -> None:
    """Terminate every descendant of this process that is still alive and
    wait until each has ended."""
    deadline = time.monotonic() + timeout_s
    sig = 15
    while True:
        rest = [p for p in tree_pids() if p != os.getpid()]
        if not rest:
            return
        for p in rest:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        for p in rest:
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
        if time.monotonic() > deadline:
            sig = 9
        time.sleep(0.2)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    segs = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in segs:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
