"""Spans, Spark REST attribution and the per-layer table of a traced run.

A span is one timed call: a workload operation, a call into one of the
engine's public functions, or the action that materialises a result.
Spans nest; each traced span runs under its own Spark job group, so the
jobs, stages and SQL executions a span starts are attributed to it
exactly (the same job-group attribution as ``tools/taskmetrics.py``).
Spans are kept in memory and written out at the end of the run;
``attach_rest_metrics`` fills in their Spark counters once the passes
are over, and ``layer_table`` derives every per-layer metric from the
span list alone.
"""

from __future__ import annotations

import functools
import json
import re
import sys
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    layer: str
    t0: float
    t1: float = 0.0
    pass_no: int = -1
    group: str | None = None
    attrs: dict = field(default_factory=dict)
    metrics: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """Records spans while ``enabled``; otherwise every span is a no-op
    that still hands out an ``attrs`` dict, so workload code is the same
    in traced and untraced runs."""

    def __init__(self):
        self.spans: list[Span] = []
        self.enabled = False
        self.pass_no = -1
        self._sc = None
        self._stack: list[Span] = []

    def bind(self, sc) -> None:
        self._sc = sc

    @contextmanager
    def span(self, name: str, layer: str, /, **attrs):
        if not self.enabled:
            yield Span(-1, None, name, layer, 0.0, attrs=attrs)
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), parent.id if parent else None, name, layer, 0.0, pass_no=self.pass_no, attrs=attrs)
        s.group = f"perfbench-{s.id}"
        self.spans.append(s)
        self._stack.append(s)
        if self._sc is not None:
            self._sc.setJobGroup(s.group, name)
        s.t0 = time.perf_counter()
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            self._stack.pop()
            if self._sc is not None:
                self._sc.setJobGroup(parent.group if parent else "", parent.name if parent else "")

    def add(self, name: str, layer: str, t0: float, t1: float) -> None:
        """Record an already-timed span (session set-up happens before
        there is a SparkContext to group jobs under)."""
        self.spans.append(Span(len(self.spans), None, name, layer, t0, t1, pass_no=-1))


def patch(module, attr: str, layer: str, tracer: Tracer) -> None:
    """Wrap ``module.attr`` in a span and rebind every reference the
    engine's modules hold to it (``from x import f`` copies included)."""
    orig = getattr(module, attr)

    @functools.wraps(orig)
    def traced(*args, **kwargs):
        with tracer.span(orig.__name__, layer):
            return orig(*args, **kwargs)

    for name, mod in list(sys.modules.items()):
        if mod is None or not (name.startswith("sec_edgar_spark") or name == "__spark_entry__"):
            continue
        for key, val in list(vars(mod).items()):
            if val is orig:
                setattr(mod, key, traced)


# ---------------------------------------------------------------- REST

_UNITS = {
    "b": 1, "kib": 2**10, "mib": 2**20, "gib": 2**30, "tib": 2**40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9, "": 1,
}
_NUM = re.compile(r"(-?[0-9][0-9,]*\.?[0-9]*)\s*([A-Za-z]*)")


def sql_metric_value(text: str) -> float:
    """Total of one SQL UI metric string: ``'1,234'``, ``'12.3 MiB'`` or
    the ``'total (min, med, max ...)\\n1.2 s (...)'`` form.  Sizes come
    back in bytes, times in seconds."""
    line = text.strip().split("\n")[-1]
    m = _NUM.search(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2).lower(), 1)


_PY_NODES = ("InPandas", "InArrow", "EvalPython", "PythonUDTF", "ArrowEvalPython")


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def attach_rest_metrics(spans: list[Span], sc, skew_stages: int = 8) -> None:
    """Fill ``span.metrics`` from the Spark UI REST API of ``sc``."""
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    jobs = _get(f"{base}/jobs")
    stages = _get(f"{base}/stages")
    sqls = _get(f"{base}/sql?details=true&planDescription=false&offset=0&length=1000000")
    groups = {s.group for s in spans if s.group}
    skew_of = _stage_skew(base, stages, groups, jobs, skew_stages)
    attribute(spans, jobs, stages, sqls, skew_of)


def attribute(spans: list[Span], jobs: list[dict], stages: list[dict], sqls: list[dict], skew_of: dict[int, float]) -> None:
    """Attribute REST records to spans: jobs by job group, stages by the
    job that ran them, SQL nodes by the execution's jobs."""
    by_group: dict[str, list[dict]] = {}
    job_group: dict[int, str] = {}
    for j in jobs:
        g = j.get("jobGroup")
        if g:
            by_group.setdefault(g, []).append(j)
            job_group[j["jobId"]] = g
    stage_rows: dict[int, list[dict]] = {}
    for s in stages:
        stage_rows.setdefault(s["stageId"], []).append(s)
    # A later job lists the stages it reuses (as skipped); the work
    # belongs to the first job that lists the stage.
    owner: dict[int, int] = {}
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        for sid in j.get("stageIds", []):
            owner.setdefault(sid, j["jobId"])
    sql_by_group: dict[str, list[dict]] = {}
    for e in sqls:
        ids = e.get("successJobIds", []) + e.get("failedJobIds", []) + e.get("runningJobIds", [])
        groups = {job_group[i] for i in ids if i in job_group}
        if len(groups) == 1:
            sql_by_group.setdefault(groups.pop(), []).append(e)
    for span in spans:
        if span.group:
            span.metrics = _group_metrics(by_group.get(span.group, []), owner, stage_rows, sql_by_group.get(span.group, []), skew_of)


def _stage_skew(base, stages, groups, jobs, n) -> dict[int, float]:
    """max/median task shuffle input of the ``n`` heaviest shuffle-read
    stages the traced groups ran (one REST call per stage)."""
    ids = {sid for j in jobs if j.get("jobGroup") in groups for sid in j.get("stageIds", [])}
    heavy = sorted(
        (s for s in stages if s["stageId"] in ids and s.get("shuffleReadBytes", 0) > 0 and s.get("numTasks", 0) > 1),
        key=lambda s: -s.get("shuffleReadBytes", 0),
    )[:n]
    out = {}
    for s in heavy:
        try:
            q = _get(f"{base}/stages/{s['stageId']}/{s['attemptId']}/taskSummary?quantiles=0.5,1.0")
            med, mx = q["shuffleReadMetrics"]["readBytes"]
        except (OSError, KeyError, ValueError):  # a stage without a summary has no skew figure
            continue
        if med > 0:
            out[s["stageId"]] = mx / med
    return out


def _group_metrics(jobs, owner, stage_rows, sqls, skew_of) -> dict:
    m = {k: 0.0 for k in (
        "jobs", "stages", "tasks", "failed_tasks", "task_s", "cpu_s", "gc_s", "input_mb",
        "shuffle_read_mb", "shuffle_write_mb", "fetch_wait_s", "reduce_tasks", "spill_mem_mb",
        "spill_disk_mb", "skew", "scan_files", "scan_rows", "scan_mb", "scan_time_s", "scan_tasks",
        "py_rows", "py_sent_mb", "py_recv_mb", "py_eval_s", "write_files", "write_mb", "write_rows",
    )}
    m["jobs"] = len(jobs)
    stage_ids = {sid for j in jobs for sid in j.get("stageIds", []) if owner.get(sid) == j["jobId"]}
    for sid in stage_ids:
        for s in stage_rows.get(sid, []):
            if s.get("status") == "SKIPPED":
                continue
            m["stages"] += 1
            tasks = s.get("numCompleteTasks", 0) + s.get("numFailedTasks", 0)
            m["tasks"] += tasks
            m["failed_tasks"] += s.get("numFailedTasks", 0)
            m["task_s"] += s.get("executorRunTime", 0) / 1e3
            m["cpu_s"] += s.get("executorCpuTime", 0) / 1e9
            m["gc_s"] += s.get("jvmGcTime", 0) / 1e3
            m["input_mb"] += s.get("inputBytes", 0) / 1e6
            if s.get("inputBytes", 0) > 0:
                m["scan_tasks"] += tasks
            m["shuffle_read_mb"] += s.get("shuffleReadBytes", 0) / 1e6
            m["shuffle_write_mb"] += s.get("shuffleWriteBytes", 0) / 1e6
            m["fetch_wait_s"] += s.get("shuffleFetchWaitTime", 0) / 1e3
            if s.get("shuffleReadBytes", 0) > 0:
                m["reduce_tasks"] += tasks
            m["spill_mem_mb"] += s.get("memoryBytesSpilled", 0) / 1e6
            m["spill_disk_mb"] += s.get("diskBytesSpilled", 0) / 1e6
        m["skew"] = max(m["skew"], skew_of.get(sid, 0.0))
    for e in sqls:
        for node in e.get("nodes", []):
            name = node.get("nodeName", "")
            vals = {x["name"]: sql_metric_value(x["value"]) for x in node.get("metrics", [])}
            if name.startswith("Scan "):
                m["scan_files"] += vals.get("number of files read", 0)
                m["scan_rows"] += vals.get("number of output rows", 0)
                m["scan_mb"] += vals.get("size of files read", 0) / 1e6
                m["scan_time_s"] += vals.get("scan time", 0)
            elif any(p in name for p in _PY_NODES):
                m["py_rows"] += vals.get("number of output rows", 0)
                m["py_sent_mb"] += vals.get("data sent to Python workers", 0) / 1e6
                m["py_recv_mb"] += vals.get("data returned from Python workers", 0) / 1e6
                m["py_eval_s"] += vals.get("time to run Python workers", 0)
            elif "number of written files" in vals:
                m["write_files"] += vals["number of written files"]
                m["write_mb"] += vals.get("written output", 0) / 1e6
                m["write_rows"] += vals.get("number of output rows", 0)
    return m


# ---------------------------------------------------------- layer table

def children(spans: list[Span]) -> dict[int, list[Span]]:
    out: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            out.setdefault(s.parent, []).append(s)
    return out


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per layer: Σ (span time − time of its direct child spans)."""
    kids = children(spans)
    out: dict[str, float] = {}
    for s in spans:
        own = s.dur - sum(c.dur for c in kids.get(s.id, []))
        out[s.layer] = out.get(s.layer, 0.0) + own
    return out


def subtree(span: Span, kids: dict[int, list[Span]]) -> list[Span]:
    out, todo = [], [span]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s.id, []))
    return out


def _msum(spans, key) -> float:
    return sum(s.metrics.get(key, 0.0) for s in spans)


def layer_table(spans: list[Span], passes: list[int]) -> dict[str, float]:
    """Every per-layer metric, per pass, for the passes ``passes``, from
    the spans alone (session metrics come from the set-up spans)."""
    kids = children(spans)
    by_id = {s.id: s for s in spans}
    ps = [s for s in spans if s.pass_no in passes]
    n = max(len(passes), 1)

    def top(layer):  # outermost spans of a layer
        return [s for s in ps if s.layer == layer and (s.parent is None or by_id[s.parent].layer != layer)]

    def tree(roots):
        return [x for r in roots for x in subtree(r, kids)]

    def named(*names):
        return [s for s in ps if s.name in names]

    def ops(layer):
        return [s for s in ps if s.layer == "op" and s.attrs.get("layer") == layer]

    t: dict[str, float] = {}
    for name in ("start", "warmup"):
        t[f"session.{name}_s"] = sum(s.dur for s in spans if s.layer == "session" and s.name == name)

    build = top("queries")
    t["queries.build_s"] = sum(s.dur for s in build) / n
    t["queries.build_jobs"] = _msum(tree(build), "jobs") / n
    t["queries.build_task_s"] = _msum(tree(build), "task_s") / n
    t["catalog.table_s"] = sum(s.dur for s in top("catalog")) / n

    t["scan.files"] = _msum(ps, "scan_files") / n
    t["scan.rows"] = _msum(ps, "scan_rows") / n
    t["scan.mb"] = _msum(ps, "scan_mb") / n
    t["scan.time_s"] = _msum(ps, "scan_time_s") / n
    t["scan.tasks"] = _msum(ps, "scan_tasks") / n

    ex = top("operators")
    t["exec.s"] = sum(s.dur for s in ex) / n
    for key, name in (("jobs", "jobs"), ("stages", "stages"), ("tasks", "tasks"), ("task_s", "task_s"),
                      ("cpu_s", "cpu_s"), ("gc_s", "gc_s"), ("failed_tasks", "failed_tasks")):
        t[f"exec.{name}"] = _msum(tree(ex), key) / n

    t["shuffle.write_mb"] = _msum(ps, "shuffle_write_mb") / n
    t["shuffle.read_mb"] = _msum(ps, "shuffle_read_mb") / n
    t["shuffle.fetch_wait_s"] = _msum(ps, "fetch_wait_s") / n
    t["shuffle.reduce_tasks"] = _msum(ps, "reduce_tasks") / n
    t["shuffle.skew"] = max((s.metrics.get("skew", 0.0) for s in ps), default=0.0)
    t["spill.mem_mb"] = _msum(ps, "spill_mem_mb") / n
    t["spill.disk_mb"] = _msum(ps, "spill_disk_mb") / n

    t["python.rows_out"] = _msum(ps, "py_rows") / n
    t["python.sent_mb"] = _msum(ps, "py_sent_mb") / n
    t["python.recv_mb"] = _msum(ps, "py_recv_mb") / n
    t["python.eval_s"] = _msum(ps, "py_eval_s") / n

    index_ops = tree([s for s in ps if s.name in ("op:index_mirror", "op:upsert_day")])
    src = tree(top("sources"))
    written_mb = _msum(src, "write_mb") + sum(s.attrs.get("bytes_written", 0) for s in ps) / 1e6
    t["sources.index_s"] = sum(s.dur for s in ps if s.name in ("op:index_mirror", "op:upsert_day")) / n
    t["sources.index_rows"] = _msum(index_ops, "write_rows") / n
    t["sources.mirror_write_s"] = sum(s.dur for s in named("to_parquet_mirror", "upsert_parquet_mirror")) / n
    t["sources.write_mb"] = written_mb / n
    t["sources.files_written"] = (_msum(src, "write_files") + sum(s.attrs.get("files_written", 0) for s in ps)) / n
    in_mb = _msum(src, "input_mb")
    t["sources.write_amp"] = written_mb / in_mb if in_mb else 0.0

    plan_ops = ops("plans")
    returned = sum(s.attrs.get("rows_returned", 0) for s in plan_ops)
    t["plans.filings_s"] = sum(s.dur for s in plan_ops) / n
    t["plans.rows_examined_per_returned"] = _msum(tree(plan_ops), "scan_rows") / returned if returned else 0.0

    listing = named("read_filings")
    parse = named("op:parse_documents")
    form4 = named("op:form4")
    t["parsing.list_s"] = sum(s.dur for s in listing) / n
    t["parsing.list_tasks"] = _msum(tree(listing), "tasks") / n
    t["parsing.parse_s"] = sum(s.dur for s in parse) / n
    t["parsing.filings"] = _msum(tree(parse), "py_rows") / n
    t["parsing.documents"] = _msum(tree(parse), "write_rows") / n
    t["parsing.form4_s"] = sum(s.dur for s in form4) / n
    t["parsing.form4_rows"] = sum(s.attrs.get("rows_returned", 0) for s in form4) / n

    own = self_times(ps)
    for layer in ("op", "queries", "catalog", "operators", "sources", "plans", "parsing"):
        t[f"{layer}.self_s"] = own.get(layer, 0.0) / n
    return t
