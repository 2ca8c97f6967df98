"""Spans and layer counters, recorded from outside the engine.

Spans: ``query`` (root) > ``construct`` > ``scan``, then the delivery span
(``sink`` or ``collect``), and ``verify`` roots after the timed window.  Each
span sets its own Spark job group, so every job is charged to the span that
launched it.  Py4J round-trips are counted at ``GatewayClient.send_command``,
except the tracer's own and the object releases that Python's garbage
collector sends whenever it happens to run.  Catalyst phase times and the
plan shape are read after delivery from the query's ``QueryExecution``, and
stage metrics from the status store, so neither adds to a delivery span.
"""

from __future__ import annotations

import contextlib
import functools
import os
import re
import time

from py4j.java_gateway import GatewayClient

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_NODE = re.compile(r"^[\s:|+\-]*(?:\*\(\d+\)\s*)?([A-Za-z]\w*)", re.M)
_PYTHON_NODE = re.compile(r"Pandas|Python|Arrow")
_RELEASE = "m\nd\n"  # py4j memory-delete command


def proc_table() -> dict:
    """``{pid: (ppid, comm, cpu_ticks incl. reaped children)}`` from /proc."""
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        comm = stat[stat.index("(") + 1:stat.rindex(")")]
        fields = stat[stat.rindex(")") + 2:].split()
        table[int(d)] = (int(fields[1]), comm,
                         sum(int(x) for x in fields[11:15]))
    return table


def descendants(table: dict, root: int) -> list:
    children: dict = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def python_worker_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of the JVM's Python children (daemon and workers; a
    reaped worker's time moves into the daemon's children-time fields)."""
    table = proc_table()
    return sum(table[p][2] for p in descendants(table, jvm_pid)
               if table[p][1].startswith("python")) / _CLK_TCK


def plan_counts(plan_string: str) -> tuple:
    names = _NODE.findall(plan_string)
    exchanges = sum(n in ("Exchange", "BroadcastExchange") for n in names)
    return exchanges, sum(bool(_PYTHON_NODE.search(n)) for n in names)


class Tracer:
    """Records spans and per-span counters; ``close()`` undoes its hooks."""

    def __init__(self, spark, jvm_pid: int):
        import polars_ruby_spark
        import polars_ruby_spark.sources as sources
        import polars_ruby_spark.sources.io as io

        self.sc = spark.sparkContext
        self.jvm_pid = jvm_pid
        self.spans: list = []
        self._stack: list = []
        self._own = 0
        self.py4j_calls = 0
        self._t0 = time.perf_counter()

        send = GatewayClient.send_command

        @functools.wraps(send)
        def counted(client, command, *a, **k):
            if not self._own and not command.startswith(_RELEASE):
                self.py4j_calls += 1
            return send(client, command, *a, **k)

        scan = io.scan_parquet

        @functools.wraps(scan)
        def traced_scan(*a, **k):
            with self.span("scan"):
                return scan(*a, **k)

        self._undo = [(GatewayClient, "send_command", send)]
        GatewayClient.send_command = counted
        for mod in (polars_ruby_spark, sources, io):
            self._undo.append((mod, "scan_parquet", mod.scan_parquet))
            mod.scan_parquet = traced_scan

    def close(self) -> None:
        for obj, attr, orig in reversed(self._undo):
            setattr(obj, attr, orig)
        self._undo = []

    @contextlib.contextmanager
    def _quiet(self):
        """The tracer's own Py4J traffic, excluded from the counts."""
        self._own += 1
        try:
            yield
        finally:
            self._own -= 1

    def _set_group(self, sp) -> None:
        with self._quiet():
            if sp is None:
                self.sc._jsc.clearJobGroup()
            else:
                self.sc.setJobGroup(f"perfbench-{sp['id']}", sp["name"])

    @contextlib.contextmanager
    def span(self, name: str, query: str | None = None):
        parent = self._stack[-1] if self._stack else None
        sp = {"id": len(self.spans), "name": name,
              "parent": parent["id"] if parent else None,
              "query": query or (parent and parent["query"])}
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        calls0, cpu0 = self.py4j_calls, time.process_time()
        sp["start"] = time.perf_counter() - self._t0
        try:
            yield sp
        except Exception as e:
            sp["error"] = f"{type(e).__name__}: {e}"[:300]
            raise
        finally:
            sp["end"] = time.perf_counter() - self._t0
            sp["py4j_calls"] = self.py4j_calls - calls0
            sp["driver_cpu_s"] = time.process_time() - cpu0
            self._stack.pop()
            self._set_group(parent)

    @contextlib.contextmanager
    def query(self, name: str):
        """Root span of one execution; fills in jobs and worker CPU."""
        cpu0 = python_worker_cpu_s(self.jvm_pid)
        with self.span("query", query=name) as root:
            first = root["id"]
            try:
                yield root
            finally:
                with self._quiet():
                    self._collect_jobs(self.spans[first:])
                    root["pyworker_cpu_s"] = (
                        python_worker_cpu_s(self.jvm_pid) - cpu0)

    def inspect_plan(self, root, sdf) -> None:
        """Catalyst phase times and plan shape of the delivered DataFrame.

        A sink plans through its own write command, so for ``sink`` this
        plans the query's DataFrame once more after the fact."""
        with self._quiet():
            qe = sdf._jdf.queryExecution()
            plan = qe.executedPlan()
            if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
                plan = plan.initialPlan()
            phases = qe.tracker().phases()
            for ph in ("analysis", "optimization", "planning"):
                opt = phases.get(ph)
                root[f"catalyst_{ph}_s"] = (
                    opt.get().durationMs() / 1000 if opt.isDefined() else 0.0)
            root["plan_exchanges"], root["plan_python_nodes"] = \
                plan_counts(plan.toString())

    def _collect_jobs(self, spans) -> None:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for sp in spans:
            jobs = sorted(tracker.getJobIdsForGroup(f"perfbench-{sp['id']}"))
            sp["jobs"] = len(jobs)
            if sp["name"] not in ("sink", "collect") or not jobs:
                continue
            stats = dict.fromkeys(
                ("stages", "tasks", "executor_run_s", "gc_s", "input_bytes",
                 "shuffle_write_bytes", "spill_bytes"), 0)
            intervals = []
            for jid in jobs:
                job = store.job(jid)
                sub, done = job.submissionTime(), job.completionTime()
                if sub.isDefined() and done.isDefined():
                    intervals.append((sub.get().getTime(),
                                      done.get().getTime()))
                for sid in tracker.getJobInfo(jid).stageIds:
                    st = store.lastStageAttempt(sid)
                    if st.status().toString() != "COMPLETE":
                        continue
                    stats["stages"] += 1
                    stats["tasks"] += st.numTasks()
                    stats["executor_run_s"] += st.executorRunTime() / 1000
                    stats["gc_s"] += st.jvmGcTime() / 1000
                    stats["input_bytes"] += st.inputBytes()
                    stats["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    stats["spill_bytes"] += (st.memoryBytesSpilled()
                                             + st.diskBytesSpilled())
            sp.update(stats)
            sp["job_wall_s"] = _union_ms(intervals) / 1000


def _union_ms(intervals) -> int:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total
