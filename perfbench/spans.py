"""Benchmark-side instrumentation: spans, peak RSS, and the Spark REST scrape.

* ``Tracer`` keeps spans (layer, name, start, end, parent, op id) in memory
  while the run goes and writes them out when it ends.  Spans are recorded
  only around the benchmark's own calls into the program's public functions;
  nothing inside ``co_new_spark`` is instrumented.
* ``RssSampler`` polls ``/proc`` for the resident memory of this process and
  every descendant (the JVM and its Python workers) and keeps the peak sum.
  It sums proportional set sizes, so the pages the forked Python workers
  share with their daemon count once rather than once per worker.
* ``SparkScrape`` reads Spark's status REST API once, after the measured
  window; ``within`` selects the SQL executions, jobs and stages submitted
  while a given span was open.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import threading
import time
import urllib.request
from dataclasses import dataclass
from datetime import datetime, timezone


@dataclass
class Span:
    sid: int
    parent: int | None
    op: str
    layer: str
    name: str
    t0: float
    t1: float = 0.0


class Tracer:
    """In-memory span recorder.  ``enabled`` is flipped per operation so one
    traced run can also time untraced operations (the overhead baseline)."""

    def __init__(self):
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op = ""

    @contextlib.contextmanager
    def op(self, op_id: str, kind: str):
        """Root span of one operation of ``kind`` (geocode, knn, ...)."""
        self._op = op_id
        with self.span("bench", kind) as s:
            yield s

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].sid if self._stack else None
        s = Span(len(self.spans), parent, self._op, layer, name, time.time())
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.t1 = time.time()
            self._stack.pop()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([s.__dict__ for s in self.spans], fh)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> self time in seconds: duration minus the part of its
    interval covered by its direct children."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, end = 0.0, s.t0
        for c in sorted(kids.get(s.sid, []), key=lambda c: c.t0):
            lo, hi = max(c.t0, end), min(c.t1, s.t1)
            if hi > lo:
                covered += hi - lo
                end = hi
        out[s.sid] = max(s.t1 - s.t0 - covered, 0.0)
    return out


class RssSampler:
    """Peak of (this process + all descendants) resident memory, in MiB."""

    def __init__(self, period_s: float = 1.0):
        self.period_s = period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def _run(self):
        while not self._stop.wait(self.period_s):
            self.sample()

    def sample(self) -> None:
        kids: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            kids.setdefault(ppid, []).append(int(name))
        total_kb, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(kids.get(pid, []))
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            total_kb += int(line.split()[1])
                            break
            except OSError:
                continue
        self.peak_mb = max(self.peak_mb, total_kb / 1024.0)


# --- Spark status REST API ---------------------------------------------------

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
          "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000, "ns": 1e-6}


_NUMBER = re.compile(r"(-?[0-9][0-9,]*(?:\.[0-9]+)?)(?: ([A-Za-z]+))?")


def metric_value(text: str) -> float:
    """Spark SQL metric text -> number (bytes, ms or a count).  Aggregated
    metrics read 'total (min, med, max ...)\\n<total> (<min>, ...)'."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _NUMBER.match(text.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


def _epoch(ts: str | None) -> float:
    if not ts:
        return 0.0
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%f%Z") \
        .replace(tzinfo=timezone.utc).timestamp()


def plan_details(plan: str, name: str) -> list[str]:
    """For each ``name`` operator of the executed plan, leaf first (the order
    of the REST node list sorted by descending id): its tree label (e.g.
    ``Inner BuildRight`` for a join) and its ``Arguments`` line.  Under
    adaptive execution only the ``Final Plan`` part is read."""
    tree, _, details = plan.partition("\n\n(")
    tree = tree.split("== Initial Plan ==")[0]
    sections = {}
    for chunk in ("(" + details).split("\n\n("):
        head, _, body = chunk.lstrip("(").partition(")")
        if head.isdigit():
            sections[int(head)] = body
    out = []
    for label, i in sorted(re.findall(rf"{name}((?: \w+)*) \((\d+)\)", tree),
                           key=lambda t: int(t[1])):
        args = re.search(r"\nArguments: ([^\n]*)", sections.get(int(i), ""))
        out.append((label.strip() + " " + (args.group(1) if args else "")).strip())
    return out


@dataclass
class Node:
    name: str
    metrics: dict
    detail: str = ""  # plan_details() text, for ArrowEvalPython nodes

    def m(self, key: str) -> float:
        return self.metrics.get(key, 0.0)


@dataclass
class Execution:
    t0: float
    nodes: list


@dataclass
class Stage:
    t0: float
    t1: float
    tasks: int
    run_ms: float
    cpu_ms: float
    gc_ms: float
    shuffle_write: float
    spill: float


class SparkScrape:
    """One read of the status API for the current application."""

    def __init__(self, ui_url: str, app_id: str):
        base = f"{ui_url}/api/v1/applications/{app_id}"
        sql = self._get(f"{base}/sql?details=true&planDescription=true"
                        "&offset=0&length=1000000")
        self.executions = [self._execution(e) for e in sql]
        self.jobs = {j["jobId"]: j for j in self._get(f"{base}/jobs")}
        self.stages = [self._stage(s) for s in self._get(f"{base}/stages")
                       if s.get("status") == "COMPLETE"]

    @staticmethod
    def _get(url: str):
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.load(r)

    @staticmethod
    def _execution(e: dict) -> Execution:
        nodes = sorted(e.get("nodes", []), key=lambda n: -n["nodeId"])
        # ArrowEvalPython nodes that Spark lists outside the final plan tree
        # (e.g. inside a broadcast sub-plan) get no detail, so no layer
        udfs = plan_details(e.get("planDescription", ""), "ArrowEvalPython")
        out = []
        for n in nodes:
            detail = udfs.pop(0) if n["nodeName"] == "ArrowEvalPython" and udfs else ""
            out.append(Node(n["nodeName"],
                            {m["name"]: metric_value(m["value"])
                             for m in n.get("metrics", [])}, detail))
        return Execution(_epoch(e.get("submissionTime")), out)

    @staticmethod
    def _stage(s: dict) -> Stage:
        return Stage(_epoch(s.get("submissionTime")),
                     _epoch(s.get("completionTime")), s["numTasks"],
                     s["executorRunTime"], s["executorCpuTime"] / 1e6,
                     s["jvmGcTime"], s["shuffleWriteBytes"],
                     s["memoryBytesSpilled"] + s["diskBytesSpilled"])

    def within(self, t0: float, t1: float, slack: float = 0.005):
        """(executions, stages, job ids) submitted inside [t0, t1]."""
        ex = [e for e in self.executions if t0 - slack <= e.t0 <= t1 + slack]
        st = [s for s in self.stages if t0 - slack <= s.t0 <= t1 + slack]
        jobs = [j for j, v in self.jobs.items()
                if t0 - slack <= _epoch(v.get("submissionTime")) <= t1 + slack]
        return ex, st, jobs


def union_s(intervals) -> float:
    """Total length of the union of (t0, t1) intervals."""
    total, end = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        if hi <= end:
            continue
        total += hi - max(lo, end)
        end = hi
    return total
