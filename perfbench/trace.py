"""Spans recorded around calls into the package, tied to Spark's status
store through one job group per span.

A span has a name, start, end, parent and the trace id of the operation it
belongs to. Spans stay in memory; :meth:`Tracer.spark_view` reads the jobs,
stages and SQL operator metrics of every span's job group after the run,
and :func:`self_times` turns spans plus the Spark jobs and stages under
them into a self-time table (a span's duration minus the time its children
cover).
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager

_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3, "TiB": 1024 ** 4,
          "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000}


def parse_metric(text: str) -> float:
    """A formatted SQL metric ('1,234', '12 ms', 'total (min, med, max ...)\\n
    3.2 MiB (...)') as a number in bytes, ms or rows."""
    s = text.strip()
    if s.startswith("total"):
        s = s.split("\n", 1)[1].split(" (", 1)[0]
    parts = s.split()
    try:
        value = float(parts[0].replace(",", ""))
    except (IndexError, ValueError):
        return 0.0
    return value * _UNITS.get(parts[1], 1) if len(parts) > 1 else value


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.jvm = spark._jvm
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sid = next(self._ids)
        rec = {"id": sid, "name": name,
               "trace": parent["trace"] if parent else f"op{sid}",
               "parent": parent["id"] if parent else None,
               "group": f"pb-span-{sid}", "start": time.time()}
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.spans.append(rec)
            if parent:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc._jsc.clearJobGroup()

    # ------------------------------------------------------ status store
    def spark_view(self) -> dict:
        """{group: {"jobs": [...], "stages": {id: {...}}, "plans": [...]}} for
        every span's job group; a plan is {"nodes": {id: (name, {metric:
        value})}, "edges": [(child id, parent id)]}."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        groups = {s["group"] for s in self.spans}
        view: dict = {g: {"jobs": [], "stages": {}, "plans": []} for g in groups}
        job_group: dict[int, str] = {}
        q = self.sc._gateway.new_array(self.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        it = store.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            g = j.jobGroup().get() if j.jobGroup().isDefined() else None
            if g not in view or not j.submissionTime().isDefined():
                continue
            job_group[j.jobId()] = g
            done = j.completionTime()
            stage_ids = []
            si = j.stageIds().iterator()
            while si.hasNext():
                stage_ids.append(si.next())
            view[g]["jobs"].append({
                "id": j.jobId(), "start": j.submissionTime().get().getTime() / 1000.0,
                "end": (done.get().getTime() if done.isDefined() else 0) / 1000.0,
                "stages": stage_ids})
            for sid in stage_ids:
                st = _stage(store, sid, q)
                if st:
                    view[g]["stages"][sid] = st
        sql = self.jvm.org.apache.spark.sql.execution.ui.SQLAppStatusStore(
            store.store(), self.jvm.scala.Option.empty())
        it = sql.executionsList().iterator()
        while it.hasNext():
            e = it.next()
            groups_of = {job_group.get(k) for k in _keys(e.jobs())} - {None}
            if len(groups_of) != 1:
                continue
            g = groups_of.pop()
            view[g]["plans"].append(_plan(sql, e.executionId()))
        return view


def stages_since(spark, since: float) -> list[dict]:
    """The stages of every job submitted at or after ``since`` (epoch
    seconds), read from the status store like a span's stages."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    q = spark.sparkContext._gateway.new_array(spark._jvm.double, 2)
    q[0], q[1] = 0.5, 1.0
    out, it = [], store.jobsList(None).iterator()
    while it.hasNext():
        j = it.next()
        if not j.submissionTime().isDefined() or j.submissionTime().get().getTime() < since * 1000:
            continue
        si = j.stageIds().iterator()
        while si.hasNext():
            st = _stage(store, si.next(), q)
            if st:
                out.append(st)
    return out


def _keys(scala_map) -> list:
    out, it = [], scala_map.keysIterator()
    while it.hasNext():
        out.append(it.next())
    return out


def _stage(store, sid: int, q) -> dict | None:
    try:
        s = store.lastStageAttempt(sid)
    except Exception:
        return None
    if not s.submissionTime().isDefined() or not s.completionTime().isDefined():
        return None  # skipped: its shuffle output was reused
    rec = {
        "start": s.submissionTime().get().getTime() / 1000.0,
        "end": s.completionTime().get().getTime() / 1000.0,
        "tasks": s.numTasks(), "failed_tasks": s.numFailedTasks(),
        "run_ms": s.executorRunTime(), "cpu_ms": s.executorCpuTime() / 1e6,
        "gc_ms": s.jvmGcTime(), "shuffle_write_bytes": s.shuffleWriteBytes(),
        "shuffle_write_records": s.shuffleWriteRecords(),
        "shuffle_read_records": s.shuffleReadRecords(),
        "fetch_wait_ms": s.shuffleFetchWaitTime(),
        "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
        "task_p50_ms": 0.0, "task_max_ms": 0.0, "task_max_read_records": 0.0,
        "task_max_exec_memory": 0.0,
    }
    summary = store.taskSummary(sid, s.attemptId(), q)
    if summary.isDefined():
        run = summary.get().executorRunTime()
        rec["task_p50_ms"], rec["task_max_ms"] = run.apply(0), run.apply(1)
        rec["task_max_read_records"] = summary.get().shuffleReadMetrics().readRecords().apply(1)
        rec["task_max_exec_memory"] = summary.get().peakExecutionMemory().apply(1)
    return rec


def _plan(sql, eid: int) -> dict:
    """Operator metrics and edges of one SQL execution's plan graph."""
    values = {}
    it = sql.executionMetrics(eid).iterator()
    while it.hasNext():
        kv = it.next()
        values[kv._1()] = kv._2()
    graph = sql.planGraph(eid)
    nodes = {}
    it = graph.allNodes().iterator()
    while it.hasNext():
        n = it.next()
        metrics = {}
        ms = n.metrics().iterator()
        while ms.hasNext():
            m = ms.next()
            v = values.get(m.accumulatorId())
            if v is not None:
                metrics[m.name()] = parse_metric(v)
        nodes[n.id()] = (n.name(), metrics)
    edges = []
    it = graph.edges().iterator()
    while it.hasNext():
        e = it.next()
        edges.append((e.fromId(), e.toId()))
    return {"nodes": nodes, "edges": edges}


def metric(plans: list[dict], node: str, name: str, fed_by: str | None = None) -> float:
    """Sum of metric ``name`` over plan nodes whose name starts with ``node``
    (and, with ``fed_by``, that read from a node whose name starts with it)."""
    total = 0.0
    for p in plans:
        nodes = p["nodes"]
        feeders = {to for frm, to in p["edges"]
                   if fed_by and nodes.get(frm, ("",))[0].startswith(fed_by)}
        for nid, (nname, ms) in nodes.items():
            if nname.startswith(node) and (fed_by is None or nid in feeders):
                total += ms.get(name, 0.0)
    return total


# ------------------------------------------------------------ self time

def _covered(intervals, lo: float, hi: float) -> float:
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def spark_spans(spans: list[dict], view: dict) -> list[dict]:
    """Spark jobs and stages of each span's own job group, as child spans."""
    out = []
    for s in spans:
        g = view.get(s["group"], {"jobs": [], "stages": {}})
        for j in g["jobs"]:
            jid = f"{s['id']}.job{j['id']}"
            out.append({"id": jid, "name": "spark.job", "trace": s["trace"],
                        "parent": s["id"], "start": j["start"], "end": j["end"]})
            for sid in j["stages"]:
                st = g["stages"].get(sid)
                if st:
                    out.append({"id": f"{jid}.stage{sid}", "name": "spark.stage",
                                "trace": s["trace"], "parent": jid,
                                "start": st["start"], "end": st["end"]})
    return out


def self_times(spans: list[dict]) -> list[dict]:
    """Per span name: count, total ms and self ms (duration minus the part of
    it that child spans cover)."""
    children: dict = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    table: dict = {}
    for s in spans:
        dur = max(0.0, s["end"] - s["start"])
        own = dur - _covered(children.get(s["id"], []), s["start"], s["end"])
        row = table.setdefault(s["name"], {"name": s["name"], "count": 0,
                                           "total_ms": 0.0, "self_ms": 0.0})
        row["count"] += 1
        row["total_ms"] += dur * 1000.0
        row["self_ms"] += own * 1000.0
    return sorted(table.values(), key=lambda r: -r["self_ms"])


def stage_gap_ms(span: dict, stages: list[dict]) -> float:
    """Wall time inside the span with no stage running."""
    dur = span["end"] - span["start"]
    cov = _covered([(s["start"], s["end"]) for s in stages], span["start"], span["end"])
    return max(0.0, dur - cov) * 1000.0


def write_artifacts(path_prefix: str, workload: str, spans: list[dict], table: list[dict],
                    overhead: float, layers: dict) -> None:
    with open(path_prefix + "_spans.json", "w") as f:
        json.dump({"workload": workload, "spans": spans}, f, indent=0)
    lines = [f"# {workload}: traced run", "",
             f"Tracing overhead (traced op wall / untraced op wall, medians, "
             f"same run): **{overhead:.3f}**", "",
             "| span | count | total ms | self ms |", "|---|---:|---:|---:|"]
    lines += [f"| {r['name']} | {r['count']} | {r['total_ms']:.1f} | {r['self_ms']:.1f} |"
              for r in table]
    lines += ["", "| per-layer metric | value |", "|---|---:|"]
    lines += [f"| {k} | {v:.6g} |" for k, v in layers.items()]
    with open(path_prefix + "_layers.md", "w") as f:
        f.write("\n".join(lines) + "\n")
