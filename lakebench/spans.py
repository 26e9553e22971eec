"""Spans around calls into the engine's layers, and Spark's own metrics
attributed to them.

A span records name, layer, start, end, parent and op id, in memory.
Each span runs under its own Spark job group, so after an op the
tracer reads the op's jobs, their stages and their SQL executions from
Spark's status REST API (``/api/v1/applications/<app>/...``) and
charges each to the span whose group started it.

Per op, time splits into the union of Spark job intervals (``spark``)
and driver time outside any job (``driver.non_job_s``); every layer's
self time (span minus its child spans) splits the same way, so the
layers' self times add up to the op's wall. That split holds only if
every job the op ran is charged to one of its spans and lies inside
that span; :func:`op_record` counts the jobs for which either fails
(``trace.misplaced_jobs``, ``trace.stray_jobs``), and a traced run with
any is not correct.

:class:`NullTracer` has the same interface and does nothing: the
untraced run pays no REST calls, job groups or py4j counting.
"""

from __future__ import annotations

import itertools
import json
import re
import time
import urllib.request
from collections import defaultdict
from collections.abc import Sequence
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime

from pyspark import SparkContext

LAYERS = (
    "session", "registry", "plans", "catalyst", "spark", "driver",
    "ingest", "medallion", "writers", "snapshots", "maintenance", "pipeline",
)

# Spark stamps job submission and completion in milliseconds
STAMP_RES_S = 1e-3

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    op: int
    start: float  # epoch seconds, comparable with Spark's job timestamps
    end: float = 0.0
    py4j_calls: int = 0
    jobs: list[dict] = field(default_factory=list)
    stages: list[dict] = field(default_factory=list)
    sql_metrics: dict[str, float] = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"lakebench-{self.id}"


def _epoch(stamp: str) -> float:
    return datetime.strptime(
        stamp.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z"
    ).timestamp()


def _union(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[tuple[float, float]] = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], b))
        else:
            out.append((a, b))
    return out


def _overlap(a: list[tuple[float, float]], b: list[tuple[float, float]]) -> float:
    """Length of the intersection of two disjoint, sorted interval lists."""
    total, i, j = 0.0, 0, 0
    while i < len(a) and j < len(b):
        lo, hi = max(a[i][0], b[j][0]), min(a[i][1], b[j][1])
        total += max(0.0, hi - lo)
        if a[i][1] < b[j][1]:
            i += 1
        else:
            j += 1
    return total


def _subtract(span: tuple[float, float], holes: list[tuple[float, float]]):
    out, cur = [], span[0]
    for a, b in _union(holes):
        if a > cur:
            out.append((cur, min(a, span[1])))
        cur = max(cur, b)
    if cur < span[1]:
        out.append((cur, span[1]))
    return out


def parse_metric(value: str) -> float:
    """A Spark SQL metric value as a number: ``'1,024'``, ``'2.5 MiB'``
    or the ``total (min, med, max ...)\\n<total> (...)`` form."""
    text = value.split("\n", 1)[-1].strip()
    m = re.match(r"([-\d.,]+)\s*([A-Za-z]*)", text)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    return num * _SIZE_UNITS.get(m.group(2), 1)


# SQL metric name -> per-span key
SQL_METRICS = {
    "data sent to Python workers": "python_bytes",
    "data returned from Python workers": "python_bytes",
    "number of written files": "files_written",
}

# stage metric -> per-span key (times in seconds)
STAGE_METRICS = {
    "executorRunTime": ("exec_run_s", 1e-3),
    "executorCpuTime": ("exec_cpu_s", 1e-9),
    "jvmGcTime": ("gc_s", 1e-3),
    "shuffleWriteBytes": ("shuffle_write_bytes", 1),
    "shuffleReadBytes": ("shuffle_read_bytes", 1),
    "diskBytesSpilled": ("spill_bytes", 1),
    "inputBytes": ("input_bytes", 1),
    "outputBytes": ("output_bytes", 1),
    "numCompleteTasks": ("tasks", 1),
}


class NullTracer:
    enabled = False

    @contextmanager
    def span(self, name: str, layer: str, count_py4j: bool = False):
        yield None

    def finish_op(self) -> dict:
        return {}

    def close(self) -> None:
        pass


class Tracer:
    """Records spans and attributes Spark's job/stage/SQL metrics."""

    enabled = True

    def __init__(self, spark, wait_s: float = 30.0):
        self.sc = spark.sparkContext
        self.base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"
        self.wait_s = wait_s
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        # py4j round trips, counted by wrapping the gateway client
        self._py4j = 0
        self._client = SparkContext._gateway._gateway_client
        send = self._client.send_command

        def counted(*args, **kwargs):
            self._py4j += 1
            return send(*args, **kwargs)

        self._client.send_command = counted
        self._sql_seen = max((e["id"] for e in self._sql_list()), default=-1)
        self._job_seen = max((j["jobId"] for j in self._get("/jobs")), default=-1)

    def close(self) -> None:
        self._client.__dict__.pop("send_command", None)
        self._clear_group()

    def _clear_group(self) -> None:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            self.sc.setLocalProperty(key, None)

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.load(resp)

    def _sql_list(self) -> list[dict]:
        return self._get("/sql?details=false&planDescription=false&offset=0&length=100000")

    @contextmanager
    def span(self, name: str, layer: str, count_py4j: bool = False):
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            id=next(self._ids), name=name, layer=layer,
            parent=parent.id if parent else None,
            op=parent.op if parent else 0, start=0.0,
        )
        if parent is None:
            sp.op = sp.id
        self.sc.setJobGroup(sp.group, name)
        self._stack.append(sp)
        calls0 = self._py4j
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            if count_py4j:
                sp.py4j_calls = self._py4j - calls0
            self._stack.pop()
            self.spans.append(sp)
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self._clear_group()

    # -- attribution -----------------------------------------------------

    def _jobs_for(self, spans: list[Span]) -> None:
        tracker = self.sc.statusTracker()
        deadline = time.time() + self.wait_s
        owned = sorted(
            ((jid, sp) for sp in spans for jid in tracker.getJobIdsForGroup(sp.group)),
            key=lambda t: t[0],
        )
        seen: set[tuple[int, int]] = set()
        for jid, sp in owned:
            while True:
                job = self._get(f"/jobs/{jid}")
                if job.get("completionTime") or time.time() > deadline:
                    break
                time.sleep(0.02)
            sp.jobs.append(job)
            for sid in job["stageIds"]:
                # a stage reused by a later job reads COMPLETE there too:
                # in job-id order, each attempt is charged to the job
                # that ran it
                for att in self._get(f"/stages/{sid}?details=false"):
                    key = (att["stageId"], att["attemptId"])
                    if att["status"] != "SKIPPED" and key not in seen:
                        seen.add(key)
                        sp.stages.append(att)

    def _sql_for(self, spans: list[Span]) -> None:
        by_job = {j["jobId"]: sp for sp in spans for j in sp.jobs}
        new = [e for e in self._sql_list() if e["id"] > self._sql_seen]
        deadline = time.time() + self.wait_s
        for e in new:
            while e["status"] == "RUNNING" and time.time() < deadline:
                time.sleep(0.02)
                e = self._get(f"/sql/{e['id']}?details=false&planDescription=false")
            self._sql_seen = max(self._sql_seen, e["id"])
            jobs = e["successJobIds"] + e["failedJobIds"] + e["runningJobIds"]
            owner = next((by_job[j] for j in jobs if j in by_job), None)
            if owner is None:
                continue
            full = self._get(f"/sql/{e['id']}?details=true&planDescription=false")
            for node in full["nodes"]:
                for m in node.get("metrics", []):
                    key = SQL_METRICS.get(m["name"])
                    if key:
                        owner.sql_metrics[key] = (
                            owner.sql_metrics.get(key, 0.0) + parse_metric(m["value"])
                        )

    def finish_op(self) -> dict:
        """Attribute Spark metrics to the last op's spans; return its
        per-layer record (see :func:`op_record`)."""
        op_id = self.spans[-1].op
        spans = [s for s in self.spans if s.op == op_id]
        self._jobs_for(spans)
        self._sql_for(spans)
        owned = {j["jobId"] for sp in spans for j in sp.jobs}
        new = [j for j in self._get("/jobs") if j["jobId"] > self._job_seen]
        self._job_seen = max([self._job_seen, *(j["jobId"] for j in new)])
        return op_record(spans, [j for j in new if j["jobId"] not in owned])


def _outside(iv: tuple[float, float], lo: float, hi: float) -> float:
    """Length of the interval ``iv`` that lies outside ``[lo, hi]``."""
    a, b = iv
    return max(0.0, min(b, lo) - a) + max(0.0, b - max(a, hi))


def op_record(spans: list[Span], other_jobs: Sequence[dict] = ()) -> dict:
    """Per-layer numbers of one op from its spans.

    Keys are ``<layer>.<metric>``. ``<layer>.self_s`` is the layer's
    self time; ``spark.self_s`` is the union of the op's job intervals,
    every other layer's ``self_s`` is its self time outside any job
    (an action's non-job time counts as ``driver``), so the self times
    add up to ``op.wall_s`` and all but ``spark.self_s`` add up to
    ``driver.non_job_s``, once the job intervals are clipped to the
    op's wall.

    What the clipping would hide is counted first: ``trace.misplaced_jobs``
    jobs ran partly outside the span whose job group they carry (or never
    completed), for ``trace.job_s_outside_span`` seconds; ``trace.stray_jobs``
    of ``other_jobs`` (jobs charged to no span of this op) were submitted
    during the op's wall. Both stamps are trusted to ``STAMP_RES_S``.
    """
    root = next(s for s in spans if s.parent is None)
    wall = (root.start, root.end)
    children = defaultdict(list)
    by_id = {s.id: s for s in spans}
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    rec: dict[str, float] = defaultdict(float)
    rec["trace.misplaced_jobs"] = rec["trace.job_s_outside_span"] = 0.0
    for s in spans:
        for j in s.jobs:
            if not j.get("completionTime"):
                rec["trace.misplaced_jobs"] += 1
                continue
            out = _outside(
                (_epoch(j["submissionTime"]), _epoch(j["completionTime"])),
                s.start - STAMP_RES_S, s.end + STAMP_RES_S,
            )
            if out > 0:
                rec["trace.misplaced_jobs"] += 1
                rec["trace.job_s_outside_span"] += out
    rec["trace.stray_jobs"] = sum(
        1 for j in other_jobs
        if j.get("submissionTime")
        and wall[0] - STAMP_RES_S <= _epoch(j["submissionTime"]) <= wall[1]
    )
    jobs = _union([
        (max(wall[0], _epoch(j["submissionTime"])), min(wall[1], _epoch(j["completionTime"])))
        for s in spans for j in s.jobs if j.get("submissionTime") and j.get("completionTime")
    ])
    job_s = sum(b - a for a, b in jobs)
    rec["op.wall_s"] = wall[1] - wall[0]
    rec["spark.self_s"] = job_s
    rec["driver.non_job_s"] = rec["op.wall_s"] - job_s

    def outermost(s: Span) -> bool:
        p = s.parent
        while p is not None:
            if by_id[p].layer == s.layer:
                return False
            p = by_id[p].parent
        return True

    for s in spans:
        self_iv = _subtract((s.start, s.end), [(c.start, c.end) for c in children[s.id]])
        own = sum(b - a for a, b in self_iv)
        in_jobs = _overlap(self_iv, jobs)
        # an action's time outside its jobs is driver work (result
        # transfer and conversion), not Spark execution
        layer = "driver" if s.layer == "spark" else s.layer
        rec[f"{layer}.self_s"] += own - in_jobs
        dur = s.end - s.start
        if outermost(s):
            rec[f"{s.layer}.span_s"] += dur
            rec[f"{s.layer}.span_s.{s.name}"] += dur
        if s.layer == "plans":
            rec["plans.build_s"] += own - in_jobs
            rec["plans.py4j_calls"] += s.py4j_calls
            rec["plans.eager_jobs"] += len(s.jobs)
        rec["spark.jobs"] += len(s.jobs)
        rec["spark.stages"] += len(s.stages)
        for st in s.stages:
            for k, (name, scale) in STAGE_METRICS.items():
                rec[f"spark.{name}"] += st.get(k, 0) * scale
        for k, v in s.sql_metrics.items():
            rec[f"spark.{k}"] += v
        # bytes and files written, charged to the writing span's layer
        if s.layer in ("writers", "maintenance", "snapshots", "ingest"):
            rec[f"{s.layer}.bytes_written"] += sum(st.get("outputBytes", 0) for st in s.stages)
            rec[f"{s.layer}.files_written"] += s.sql_metrics.get("files_written", 0)
    return dict(rec)
