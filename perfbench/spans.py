"""Spans around layer calls, folded with Spark's live status stores.

A :class:`Tracer` opens one span per call the benchmark makes into a
layer's public function. Every span gets its own Spark job group, so each
job the call starts is attributed to the innermost open span. After the
run, :func:`snapshot` reads the jobs, stages and SQL executions of those
groups out of the status stores (the UI is off; the stores are still
live), and :func:`fold` turns spans plus snapshot into per-span metrics.
Nothing here reaches into the package under test.

The fold is pure: it works on the JSON the stores serialise to, so it can
be tested on a canned snapshot without Spark.
"""

from __future__ import annotations

import contextlib
import json
import re
import time

MB = 1e6

# Physical operators the MapleJuice compat layer plans: ``maple`` is a
# mapInPandas, ``juice`` a groupBy().applyInPandas.
COMPAT_NODES = ("MapInPandas", "FlatMapGroupsInPandas")
PY_RUN = "time to run Python workers"
PY_START = "time to start Python workers"
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
OUTPUT_ROWS = "number of output rows"
# ``dedup.hamming_pairs`` joins its pigeonhole blocks on this column; the
# join's output rows are the SimHash candidates before the distinct.
HAMMING_JOIN_KEY = "blkval"

_UNIT = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
         "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40}


class Span:
    __slots__ = ("sid", "name", "parent", "run_id", "start", "end")

    def __init__(self, sid: int, name: str, parent: int | None, run_id: str, start: float):
        self.sid, self.name, self.parent, self.run_id = sid, name, parent, run_id
        self.start, self.end = start, start

    @property
    def group(self) -> str:
        return f"perfbench:{self.run_id}:{self.sid}"

    def as_dict(self) -> dict:
        return {"id": self.sid, "name": self.name, "parent": self.parent,
                "run_id": self.run_id, "start": self.start, "end": self.end,
                "group": self.group}


class NoTrace:
    """The untraced run: spans cost nothing and set no job group."""

    @contextlib.contextmanager
    def span(self, name: str):
        yield


class Tracer:
    """Records spans of one run in memory; each span is a job group."""

    def __init__(self, sc, run_id: str):
        self._sc = sc
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1].sid if self._stack else None
        s = Span(len(self.spans), name, parent, self.run_id, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self._sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self._stack:
                self._sc.setJobGroup(self._stack[-1].group, self._stack[-1].name)
            else:
                self._sc._jsc.clearJobGroup()


# --- reading the status stores ----------------------------------------------


class StatusStores:
    """JSON views of the core and SQL status stores of one SparkSession."""

    QUANTILES = (0.5, 1.0)

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._core = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._json.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        self._quantiles = sc._gateway.new_array(jvm.double, len(self.QUANTILES))
        for i, q in enumerate(self.QUANTILES):
            self._quantiles[i] = q

    def _load(self, obj) -> object:
        return json.loads(self._json.writeValueAsString(obj))

    def execution_count(self) -> int:
        return int(self._sql.executionsCount())

    def snapshot(self, run_id: str, first_execution: int) -> dict:
        """Jobs of ``run_id``'s groups, their stages with task quantiles,
        and the SQL executions (plan graph and metric values) that ran
        them. ``first_execution`` is :meth:`execution_count` before the
        run, so older executions are not read."""
        prefix = f"perfbench:{run_id}:"
        jobs = [j for j in self._load(self._core.jobsList(None))
                if (j.get("jobGroup") or "").startswith(prefix)]
        stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
        stages = []
        for sid in stage_ids:
            for st in self._load(
                self._core.stageData(sid, False, None, True, self._quantiles)
            ):
                if st["status"] == "COMPLETE":
                    stages.append(_strip_stage(st))
        job_ids = {j["jobId"] for j in jobs}
        n = self.execution_count()
        execs = []
        if job_ids:
            for e in self._load(self._sql.executionsList(first_execution, n - first_execution + 1)):
                ran = {int(k) for k in e["jobs"]} & job_ids
                if not ran:
                    continue
                eid = e["executionId"]
                execs.append({
                    "id": eid,
                    "jobs": sorted(ran),
                    "nodes": _flatten_nodes(self._load(self._sql.planGraph(eid))["nodes"]),
                    "values": self._load(self._sql.executionMetrics(eid)),
                })
        return {"jobs": [_strip_job(j) for j in jobs], "stages": stages, "executions": execs}


def _strip_job(j: dict) -> dict:
    return {k: j.get(k) for k in ("jobId", "jobGroup", "submissionTime", "completionTime",
                                  "stageIds", "status")}


_STAGE_KEYS = ("stageId", "status", "numCompleteTasks", "submissionTime", "completionTime",
               "executorCpuTime", "jvmGcTime", "inputBytes", "shuffleReadBytes",
               "shuffleWriteBytes", "diskBytesSpilled")


def _strip_stage(st: dict) -> dict:
    out = {k: st.get(k) for k in _STAGE_KEYS}
    dist = st.get("taskMetricsDistributions") or {}
    out["quantiles"] = {k: dist.get(k) for k in ("quantiles", "executorRunTime",
                                                 "peakExecutionMemory")}
    return out


def _flatten_nodes(nodes: list) -> list:
    """Plan-graph nodes, with the children of WholeStageCodegen clusters
    lifted to the top level."""
    out = []
    for n in nodes:
        out.append({"name": n["name"], "desc": n.get("desc", ""),
                    "metrics": {m["name"]: m["accumulatorId"] for m in n.get("metrics", [])}})
        out.extend(_flatten_nodes(n.get("nodes", [])))
    return out


# --- the pure fold ----------------------------------------------------------


def parse_metric(text: str | None) -> float:
    """A SQL metric as the store formats it, to seconds / bytes / a count:
    ``'100,000'``, ``'0 ms'``, ``'236.0 B'`` or the per-task form
    ``'total (min, med, max (stageId: taskId))\\n2.8 s (674 ms, ...)'``."""
    if not text:
        return 0.0
    line = text.splitlines()[-1].split(" (")[0].strip()
    m = re.fullmatch(r"([-\d.,]+)\s*([A-Za-z]*)", line)
    if not m:
        raise ValueError(f"unparsed SQL metric value {text!r}")
    return float(m.group(1).replace(",", "")) * _UNIT.get(m.group(2), 1.0)


def _union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``[a, b)`` intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_time(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        cover = [(max(a, s["start"]), min(b, s["end"])) for a, b in kids.get(s["id"], [])]
        out[s["id"]] = (s["end"] - s["start"]) - _union_s([c for c in cover if c[1] > c[0]])
    return out


def descendants(spans: list[dict], sid: int) -> set[int]:
    """``sid`` and every span below it."""
    out, frontier = {sid}, [sid]
    while frontier:
        p = frontier.pop()
        for s in spans:
            if s["parent"] == p and s["id"] not in out:
                out.add(s["id"])
                frontier.append(s["id"])
    return out


def attribute(spans: list[dict], snap: dict) -> tuple[dict, dict, dict]:
    """Map jobs, stages and executions to the span whose group ran them.
    A stage listed by several jobs (a reused shuffle) belongs to the first;
    an execution belongs to the span of its first job."""
    group_to_span = {s["group"]: s["id"] for s in spans}
    job_span = {j["jobId"]: group_to_span[j["jobGroup"]] for j in snap["jobs"]
                if j["jobGroup"] in group_to_span}
    stage_span: dict[int, int] = {}
    for j in sorted(snap["jobs"], key=lambda j: j["jobId"]):
        if j["jobId"] in job_span:
            for st in j["stageIds"]:
                stage_span.setdefault(st, job_span[j["jobId"]])
    exec_span = {e["id"]: job_span[e["jobs"][0]] for e in snap["executions"]
                 if e["jobs"] and e["jobs"][0] in job_span}
    return job_span, stage_span, exec_span


def _skew(stage: dict) -> float:
    q = stage.get("quantiles") or {}
    run = q.get("executorRunTime") or []
    if len(run) < 2:
        return 1.0
    return run[-1] / max(run[0], 1.0)


def _stage_s(stage: dict) -> float:
    return ((stage.get("completionTime") or 0) - (stage.get("submissionTime") or 0)) / 1e3


def fold_span(spans: list[dict], snap: dict, sid: int, cores: int, owners: tuple) -> dict:
    """Metrics of span ``sid`` including every span below it; ``owners``
    is :func:`attribute`'s result."""
    span = next(s for s in spans if s["id"] == sid)
    below = descendants(spans, sid)
    job_span, stage_span, exec_span = owners
    jobs = [j for j in snap["jobs"] if job_span.get(j["jobId"]) in below]
    stages = [st for st in snap["stages"] if stage_span.get(st["stageId"]) in below]
    execs = [e for e in snap["executions"] if exec_span.get(e["id"]) in below]
    wall = span["end"] - span["start"]
    busy = _union_s([
        (max(j["submissionTime"] / 1e3, span["start"]), min(j["completionTime"] / 1e3, span["end"]))
        for j in jobs if j.get("submissionTime") and j.get("completionTime")
    ])
    cpu_s = sum(st["executorCpuTime"] or 0 for st in stages) / 1e9
    longest = max(stages, key=_stage_s, default=None)
    shuffled = [st for st in stages if (st["shuffleReadBytes"] or 0) > 0]
    collect_stage = max(shuffled, key=_stage_s, default=None)
    out = {
        "wall_s": wall,
        "jobs": len(jobs),
        "driver_only_s": max(0.0, wall - busy),
        "tasks": sum(st["numCompleteTasks"] or 0 for st in stages),
        "executor_cpu_s": cpu_s,
        "cpu_util": cpu_s / (wall * cores) if wall > 0 else 0.0,
        "gc_s": sum(st["jvmGcTime"] or 0 for st in stages) / 1e3,
        "shuffle_write_mb": sum(st["shuffleWriteBytes"] or 0 for st in stages) / MB,
        "shuffle_read_mb": sum(st["shuffleReadBytes"] or 0 for st in stages) / MB,
        "spill_mb": sum(st["diskBytesSpilled"] or 0 for st in stages) / MB,
        "peak_task_mem_mb": max(
            [((st.get("quantiles") or {}).get("peakExecutionMemory") or [0])[-1] for st in stages],
            default=0.0) / MB,
        "task_skew": _skew(longest) if longest else 1.0,
        "input_mb": sum(st["inputBytes"] or 0 for st in stages) / MB,
        "scan_tasks": sum(st["numCompleteTasks"] or 0 for st in stages if (st["inputBytes"] or 0) > 0),
        "collect_task_skew": _skew(collect_stage) if collect_stage else 1.0,
        "collect_stage_s": _stage_s(collect_stage) if collect_stage else 0.0,
    }
    sums = {"python_run_s": 0.0, "compat_python_run_s": 0.0, "compat_python_start_s": 0.0,
            "compat_to_python_mb": 0.0, "compat_from_python_mb": 0.0, "hamming_join_rows": 0.0}
    for e in execs:
        for node in e["nodes"]:
            sums["python_run_s"] += _node_metric(e, node, PY_RUN)
            if node["name"] in COMPAT_NODES:
                sums["compat_python_run_s"] += _node_metric(e, node, PY_RUN)
                sums["compat_python_start_s"] += _node_metric(e, node, PY_START)
                sums["compat_to_python_mb"] += _node_metric(e, node, PY_SENT) / MB
                sums["compat_from_python_mb"] += _node_metric(e, node, PY_RETURNED) / MB
            if "Join" in node["name"] and HAMMING_JOIN_KEY in node["desc"]:
                sums["hamming_join_rows"] += _node_metric(e, node, OUTPUT_ROWS)
    out.update(sums)
    return out


def _node_metric(execution: dict, node: dict, name: str) -> float:
    acc = node["metrics"].get(name)
    return parse_metric(execution["values"].get(str(acc))) if acc is not None else 0.0


def fold(spans: list[dict], snap: dict, cores: int) -> list[dict]:
    """Every span with its inclusive metrics and its self time."""
    selft = self_time(spans)
    owners = attribute(spans, snap)
    return [dict(s, self_s=selft[s["id"]], metrics=fold_span(spans, snap, s["id"], cores, owners))
            for s in spans]
