"""Measurement helpers: percentiles and the tail rule, the in-memory
span tracer with self-time arithmetic, Spark job/task counters read
from ``statusTracker()``, and process memory read from ``/proc``."""

from __future__ import annotations

import json
import math
import os
import threading
import time
from contextlib import contextmanager

#: span layers: the engine modules the benchmark calls into, ``spark``
#: for DataFrame actions, and ``bench`` for the benchmark's own glue
LAYERS = ("bench", "table", "client", "spark", "filters", "resolve",
          "plans.multirange", "sources.tools", "streaming.replication",
          "sources.warc", "operators.pipeline", "sources.shards")

#: candidate tail percentiles, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 80.0, 75.0, 60.0, 55.0, 50.0)


def percentile(values, p: float) -> float:
    """Linearly interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    pos = (len(s) - 1) * p / 100.0
    k = math.floor(pos)
    if k + 1 >= len(s):
        return s[-1]
    return s[k] + (s[k + 1] - s[k]) * (pos - k)


def median(values) -> float:
    s = sorted(values)
    if not s:
        raise ValueError("median of no samples")
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def samples_beyond(n: int, p: float) -> int:
    """How many of ``n`` samples rank above the ``p``-th percentile's
    interpolation point."""
    return n - 1 - math.floor((n - 1) * p / 100.0)


def tail_percentile(n: int, ladder=TAIL_LADDER, beyond: int = 10) -> float:
    """The highest percentile of ``ladder`` with at least ``beyond`` of
    ``n`` samples ranked above it."""
    for p in ladder:
        if samples_beyond(n, p) >= beyond:
            return p
    raise ValueError(f"{n} samples leave fewer than {beyond} beyond any percentile")


def covered_length(intervals) -> float:
    """Length of the union of (start, end) intervals."""
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


class Tracer:
    """Spans kept in memory: name, layer, start, end, parent, op id.

    Disabled tracers hand out no spans and cost one attribute check.
    Spans nest per thread; each client thread carries its own op id."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, layer: str, op_id: "str | None" = None, **attrs):
        if not self.enabled:
            yield None
            return
        if layer not in LAYERS:
            raise ValueError(f"unknown layer {layer!r}")
        stack = self._stack()
        parent = stack[-1] if stack else None
        rec = {
            "id": None, "name": name, "layer": layer,
            "op": op_id if op_id is not None else (parent or {}).get("op"),
            "parent": parent["id"] if parent else None,
            "start": time.perf_counter(), "end": None, **attrs,
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def self_times(self) -> dict[int, float]:
        """span id -> duration minus the part covered by its children."""
        return self_times(self.spans)

    def layer_self_s(self) -> dict[str, float]:
        st = self.self_times()
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["layer"]] = out.get(s["layer"], 0.0) + st[s["id"]]
        return out

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def dump(self, path: str, extra: dict) -> None:
        st = self.self_times()
        spans = [{**s, "self": st[s["id"]]} for s in self.spans]
        with open(path, "w") as f:
            json.dump({**extra, "layer_self_s": self.layer_self_s(),
                       "spans": spans}, f)


def self_times(spans: list[dict]) -> dict[int, float]:
    children: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in children.get(s["id"], [])]
        kids = [(a, b) for a, b in kids if b > a]
        out[s["id"]] = (s["end"] - s["start"]) - covered_length(kids)
    return out


class SparkCounters:
    """Job and task counts per op, read from ``statusTracker()`` by the
    op's job group — set on the client thread before each op."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.groups: dict[str, str] = {}      # job group -> op kind

    def begin(self, group: str, kind: str) -> None:
        if self.enabled:
            self.sc.setJobGroup(group, kind)
            self.groups[group] = kind

    def per_kind(self) -> dict[str, tuple[list[int], list[int]]]:
        """op kind -> ([jobs per op], [tasks per op])."""
        st = self.sc.statusTracker()
        out: dict[str, tuple[list[int], list[int]]] = {}
        for group, kind in self.groups.items():
            jobs = st.getJobIdsForGroup(group)
            tasks = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for sid in (info.stageIds if info else []):
                    si = st.getStageInfo(sid)
                    tasks += si.numTasks if si else 0
            js, ts = out.setdefault(kind, ([], []))
            js.append(len(jobs))
            ts.append(tasks)
        return out


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: "int | None") -> float:
    """Peak resident set (VmHWM) of this Python process plus the JVM."""
    kb = _status_kb(os.getpid(), "VmHWM")
    if jvm_pid:
        kb += _status_kb(jvm_pid, "VmHWM")
    return kb / 1024.0
