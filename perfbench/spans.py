"""Spans and per-layer counters, recorded from outside the package.

Every span tags the Spark jobs it starts with a job group of its own.
With counters on, the tracer reads, after each operation, Spark's
in-process status stores (``SparkContext.statusStore`` for stages,
``SharedState.statusStore`` for SQL executions and their plan graphs);
no UI, REST endpoint or second process is involved. Spans are kept in
memory and written out once, at the end of the run.
"""

from __future__ import annotations

import functools
import json
import re
import time
from contextlib import contextmanager

from stats import metric_value, parse_plan_dot, self_time

_LOCATION = re.compile(r"Location: \w+\(\d+ paths?\)\[([^\]]*)\]")
_STAGE_FIELDS = ("executorRunTime", "executorCpuTime", "shuffleWriteBytes",
                 "shuffleWriteRecords", "diskBytesSpilled", "peakExecutionMemory")


class StatusStoreMissing(RuntimeError):
    """The Spark build lacks a status-store accessor the traced run
    reads; the run stops rather than report zeros."""


class Tracer:
    """Records spans; with ``counters`` on, attaches stage and plan
    counters to each operation's spans."""

    def __init__(self, counters: bool):
        self.counters = counters
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.collect_s = 0.0  # time spent reading counters
        self._sc = self._store = self._sql = None

    def bind(self, spark) -> None:
        """Attach to the session that runs the operations. With counters
        on, check every accessor once against the warm-up's jobs."""
        self._sc = spark.sparkContext
        if not self.counters:
            return
        try:
            jsc = self._sc._jsc.sc()
            self._bus = jsc.listenerBus()
            self._store = jsc.statusStore()
            self._sql = spark._jsparkSession.sharedState().statusStore()
            self._bus.waitUntilEmpty()
            n = int(self._sql.executionsCount())
            last = self._sql.executionsList(n - 1, 1).apply(0)
            nodes, _ = parse_plan_dot(self._dot(last.executionId()))
            stage = self._store.lastStageAttempt(0)  # probe the stage getters
            stage.executorRunTime(), stage.status().toString()
        except Exception as exc:
            raise StatusStoreMissing(
                f"Spark {spark.version}: status-store accessor failed: {exc}") from exc
        if not any(_LOCATION.search(v["desc"]) for v in nodes.values()):
            raise StatusStoreMissing(
                f"Spark {spark.version}: plan graph of the warm-up scan has no file scan")

    def _dot(self, execution_id: int) -> str:
        return self._sql.planGraph(execution_id).makeDotFile(
            self._sql.executionMetrics(execution_id))

    @contextmanager
    def span(self, kind: str, name: str):
        """Time a block as a child of the enclosing span; its Spark jobs
        run under the span's own job group."""
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "parent": parent["id"] if parent else None,
               "kind": kind, "name": name, "group": f"perfbench-{len(self.spans)}"}
        self.spans.append(rec)
        self._stack.append(rec)
        if self._sc is not None:
            self._sc.setJobGroup(rec["group"], f"{kind} {name}")
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._sc is not None:
                if parent is not None:
                    self._sc.setJobGroup(parent["group"], f"{parent['kind']} {parent['name']}")
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)

    def children(self, rec: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"]]

    def subtree(self, rec: dict) -> list[dict]:
        out, todo = [], [rec]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children(s))
        return out

    def finish(self) -> None:
        """Compute every span's self time."""
        for s in self.spans:
            s["self_s"] = self_time(s["start"], s["end"],
                                    [(c["start"], c["end"]) for c in self.children(s)])

    # -- counters ---------------------------------------------------------

    def executions_mark(self) -> int:
        """Watermark of SQL executions started so far (counters on)."""
        if not self.counters:
            return 0
        t0 = time.perf_counter()
        self._bus.waitUntilEmpty()
        mark = int(self._sql.executionsCount())
        self.collect_s += time.perf_counter() - t0
        return mark

    def collect(self, op: dict, mark: int) -> None:
        """Attach counters to ``op`` and its descendants: stage metrics
        per span from its job group, plan metrics for the SQL executions
        started since ``mark``."""
        if not self.counters:
            return
        t0 = time.perf_counter()
        self._bus.waitUntilEmpty()
        seen: set[int] = set()
        for s in self.subtree(op):
            s["stages"] = self._stage_counters(s["group"], seen)
        op["plan"] = self._plan_counters(mark)
        self.collect_s += time.perf_counter() - t0

    def _stage_counters(self, group: str, seen: set[int]) -> dict:
        tracker = self._sc.statusTracker()
        out = dict.fromkeys(_STAGE_FIELDS, 0)
        out.update(jobs=0, stages=0, tasks=0)
        for jid in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = tracker.getJobInfo(jid)
            if info is None:
                raise StatusStoreMissing(f"job {jid} of {group} missing from the status store")
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                st = self._store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                for f in _STAGE_FIELDS:
                    v = getattr(st, f)()
                    out[f] = max(out[f], v) if f == "peakExecutionMemory" else out[f] + v
        return out

    def _plan_counters(self, mark: int) -> dict:
        c = dict.fromkeys(
            ("executions", "exchanges", "reused_exchanges", "scans", "files_distinct",
             "scan_files", "scan_bytes", "scan_rows", "scan_time_s",
             "post_coalesce_partitions", "broadcast_bytes", "rows_out", "bytes_to_python",
             "bytes_from_python", "rows_to_python", "write_s", "bytes_written",
             "files_written"), 0)
        n = int(self._sql.executionsCount())
        if n == mark:
            return c
        execs = self._sql.executionsList(mark, n - mark)
        paths: set[str] = set()
        for i in range(execs.size()):
            ex = execs.apply(i)
            eid = ex.executionId()
            deadline = time.perf_counter() + 10
            while ex.executionStatus() == "RUNNING" and time.perf_counter() < deadline:
                time.sleep(0.005)  # the end event trails the action's return
                ex = self._sql.execution(eid).get()
            nodes, edges = parse_plan_dot(self._dot(eid))
            if not nodes:
                raise StatusStoreMissing(f"SQL execution {eid}: empty plan graph")
            c["executions"] += 1
            writes = False
            for nid, node in nodes.items():
                name, m = node["name"], node["metrics"]
                v = functools.partial(_num, m)
                if name in ("Exchange", "BroadcastExchange"):
                    c["exchanges"] += 1
                if name == "ReusedExchange":
                    c["reused_exchanges"] += 1
                if name == "BroadcastExchange":
                    c["broadcast_bytes"] += v("data size")
                if name == "AQEShuffleRead":
                    c["post_coalesce_partitions"] += v("number of partitions")
                loc = _LOCATION.search(node["desc"]) if name.startswith("Scan") else None
                if loc is not None:  # a file scan; RDD and local scans have no location
                    c["scans"] += 1
                    c["scan_files"] += v("number of files read")
                    c["scan_bytes"] += v("size of files read")
                    c["scan_rows"] += v("number of output rows")
                    c["scan_time_s"] += v("scan time")
                    paths.update(p.strip() for p in loc.group(1).split(","))
                c["rows_out"] += v("number of output rows")
                if "data sent to Python workers" in m:
                    c["bytes_to_python"] += v("data sent to Python workers")
                    c["bytes_from_python"] += v("data returned from Python workers")
                    c["rows_to_python"] += _rows_into(nid, nodes, edges)
                if "number of written files" in m:
                    writes = True
                    c["files_written"] += v("number of written files")
                    c["bytes_written"] += v("written output")
            if writes and ex.completionTime().isDefined():
                c["write_s"] += (ex.completionTime().get().getTime() - ex.submissionTime()) / 1e3
        c["files_distinct"] = len(paths)
        return c

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def _num(metrics: dict[str, str], key: str) -> float:
    return metric_value(metrics[key]) if key in metrics else 0.0


def _rows_into(nid: int, nodes: dict, edges: list[tuple[int, int]]) -> float:
    """Rows flowing into node ``nid``: the output rows of its nearest
    descendants that count rows (nodes like Project count none)."""
    total, todo = 0.0, [c for c, p in edges if p == nid]
    while todo:
        child = todo.pop()
        m = nodes.get(child, {}).get("metrics", {})
        if "number of output rows" in m:
            total += metric_value(m["number of output rows"])
        else:
            todo.extend(c for c, p in edges if p == child)
    return total
