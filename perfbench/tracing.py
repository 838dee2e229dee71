"""Tracing for the per-layer run, done entirely from outside the package.

Spans are kept in memory (name, start, end, parent, run id) and written
out when the run ends. A span opens around a call into one of the
package's public functions: :func:`Tracer.install` swaps each function
named in :data:`LAYER_FUNCTIONS` for a wrapper on its module (and on
every module that imported it by name), and the workloads open spans
for their own composite steps through :meth:`Tracer.span`.

Spark counters are attached to spans, not sampled: every span tags its
jobs with its own job group, and when a top-level span closes the
tracer reads the jobs, stages and SQL executions that the status
stores gained since the last read. The stores keep a bounded number of
entries, so reading right after each top-level call keeps every job.
Streaming queries run their jobs under their run id as job group;
:meth:`Tracer.attach_stream` adds that group to the open span together
with the query's ``recentProgress``.

py4j commands are counted by wrapping ``send_command`` on the py4j
connection classes; the tracer's own status reads are not counted.
"""

from __future__ import annotations

import itertools
import json
import re
import sys
import time
from contextlib import contextmanager

# (module, function) -> layer span name. Modules are imported lazily.
LAYER_FUNCTIONS = {
    ("kafka_topic_dumper_spark.cli", "main"): "cli",
    ("kafka_topic_dumper_spark.cli", "_archive_offsets"): "plans.offsets.discover",
    ("kafka_topic_dumper_spark.plans.offsets", "plan_tail_dump"): "plans.offsets.plan",
    ("kafka_topic_dumper_spark.streaming.dump", "apply_plan"): "streaming.dump.apply_plan",
    ("kafka_topic_dumper_spark.streaming.dump", "dump_batch"): "streaming.dump.write",
    ("kafka_topic_dumper_spark.streaming.reload", "find_latest_dump_id"): "streaming.reload.discover",
    ("kafka_topic_dumper_spark.streaming.reload", "reload_dump"): "streaming.reload.replay",
    ("kafka_topic_dumper_spark.streaming.state", "read_latest_state"): "streaming.state.read_latest",
    ("kafka_topic_dumper_spark.streaming.state", "save_state"): "streaming.state.save",
    ("kafka_topic_dumper_spark.transform", "apply_transformer"): "transform.apply",
    ("kafka_topic_dumper_spark.sources.tables", "load_table"): "sources.tables.load_table",
}

PKG = "kafka_topic_dumper_spark"

# SQL plan-graph node names counted per span
NODE_COUNTS = {
    "exchanges": "Exchange",
    "arrow_eval_nodes": "ArrowEvalPython",
    "cached_scans": "InMemoryTableScan",
}

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}


def parse_metric(text: str) -> float:
    """A formatted SQL metric value as a number: ``"1.2 s"`` -> 1.2,
    ``"3.0 KiB"`` -> 3072, ``"100,000"`` -> 100000. Times come back in
    seconds and sizes in bytes."""
    parts = text.strip().split(" ")
    number = float(parts[0].replace(",", ""))
    if len(parts) > 1 and parts[1] in _UNITS:
        number *= _UNITS[parts[1]]
    return number


_LABEL = re.compile(r'label="(?:<br>)?<b>([^<]*)</b><br><br>([^"]*)"')


def graph_nodes(dot: str) -> list[tuple[str, dict]]:
    """(node name, {metric name: value}) for every operator node of a
    plan graph in the dot form ``SparkPlanGraph.makeDotFile`` writes. A
    metric with per-task detail spans two ``<br>`` items: ``name total
    (min, med, max ...)`` then ``value (...)``; its total is kept."""
    out = []
    for name, body in _LABEL.findall(dot):
        items = [x for x in body.split("<br>") if x]
        metrics, i = {}, 0
        while i < len(items):
            item = items[i]
            if " total (" in item and i + 1 < len(items):
                metrics[item.split(" total (")[0]] = parse_metric(items[i + 1].split(" (")[0])
                i += 2
                continue
            key, _, value = item.rpartition(": ")
            if key:
                try:
                    metrics[key] = parse_metric(value)
                except ValueError:
                    pass
            i += 1
        out.append((name.strip(), metrics))
    return out


def empty_counters() -> dict:
    return {
        "jobs": 0, "stages": 0, "tasks": 0, "task_run_s": 0.0, "task_cpu_s": 0.0,
        "max_task_s": 0.0, "shuffle_write_bytes": 0, "spill_bytes": 0,
        "py_worker_s": 0.0, "python_rows_out": 0, "scan_rows": 0, "files_read": 0,
        "output_bytes": 0,
        **{k: 0 for k in NODE_COUNTS},
    }


class NullTracer:
    """The untraced run: spans cost nothing and record nothing."""

    enabled = False

    @contextmanager
    def span(self, name):
        yield None

    def attach_stream(self, query):
        pass


class Tracer:
    enabled = True

    def __init__(self, spark, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.py4j_calls = 0
        self.pass_index = None  # set by the pass loop; stamped on each span
        self._counting = True
        self._ids = itertools.count(1)
        self._patched: list[tuple[object, str, object]] = []
        jvm = spark._jvm
        sc = spark.sparkContext._jsc.sc()
        self._sc = spark.sparkContext
        self._bus = sc.listenerBus()
        self._store = sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._conv = jvm.scala.jdk.javaapi.CollectionConverters
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(scala_module.__getattr__("MODULE$"))
        self._max_q = self._sc._gateway.new_array(jvm.double, 1)
        self._max_q[0] = 1.0
        self._tracker = self._sc.statusTracker()
        with self._quiet():
            self._seen_exec = self._last_exec_id()

    # -- py4j accounting -------------------------------------------------

    @contextmanager
    def _quiet(self):
        """Run the tracer's own JVM calls without counting them."""
        before, self._counting = self._counting, False
        try:
            yield
        finally:
            self._counting = before

    def _count_wrapper(self, original):
        tracer = self

        def send_command(conn, *args, **kwargs):
            if tracer._counting:
                tracer.py4j_calls += 1
            return original(conn, *args, **kwargs)

        return send_command

    # -- installing the wrappers -----------------------------------------

    def _patch(self, owner, attr, replacement):
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def _wrap(self, fn, name):
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name) as sp:
                if name == "cli" and args and args[0]:
                    sp["action"] = args[0][0]
                result = fn(*args, **kwargs)
                if name == "streaming.reload.replay" and isinstance(result, dict):
                    sp["action"] = result.get("action")
                return result

        traced.__wrapped__ = fn
        return traced

    def install(self) -> None:
        import importlib

        from py4j import clientserver, java_gateway

        for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            self._patch(cls, "send_command", self._count_wrapper(cls.send_command))
        for (mod_name, attr), name in LAYER_FUNCTIONS.items():
            module = importlib.import_module(mod_name)
            original = getattr(module, attr)
            wrapper = self._wrap(original, name)
            # the function itself, and every package module that
            # imported it by name (load_table is imported into each
            # operator module)
            for other in list(sys.modules.values()):
                if (
                    other is not None
                    and getattr(other, "__name__", "").startswith(PKG)
                    and getattr(other, attr, None) is original
                ):
                    self._patch(other, attr, wrapper)

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)

    # -- spans -----------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        sid = next(self._ids)
        parent = self.stack[-1] if self.stack else None
        sp = {
            "id": sid, "name": name, "parent": parent["id"] if parent else None,
            "run": self.run_id, "pass": self.pass_index, "groups": [f"perfbench-{self.run_id}-{sid}"],
            "progress": [],
        }
        with self._quiet():
            self._sc.setLocalProperty("spark.jobGroup.id", sp["groups"][0])
        self.stack.append(sp)
        calls0 = self.py4j_calls
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            sp["py4j_calls"] = self.py4j_calls - calls0
            self.stack.pop()
            with self._quiet():
                self._sc.setLocalProperty(
                    "spark.jobGroup.id", parent["groups"][0] if parent else None
                )
            self.spans.append(sp)
            if not self.stack:
                with self._quiet():
                    self._read_counters()

    def attach_stream(self, query) -> None:
        """Credit a finished streaming query's jobs and progress to the
        open span."""
        sp = self.stack[-1]
        with self._quiet():
            sp["groups"].append(str(query.runId))
            for p in query.recentProgress:
                p = p if isinstance(p, dict) else json.loads(p.json)
                sp["progress"].append(
                    {"rows": p.get("numInputRows", 0), "durationMs": p.get("durationMs", {})}
                )

    # -- status-store reads ----------------------------------------------

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def _last_exec_id(self) -> int:
        n = self._sql.executionsCount()
        return self._newest_execs(n, 1)[-1][0] if n else -1

    def _newest_execs(self, count: int, length: int) -> list[tuple[int, object]]:
        """(execution id, execution) of the ``length`` newest executions."""
        start = max(0, count - length)
        page = self._conv.asJava(self._sql.executionsList(start, count - start))
        return [(ex.executionId(), ex) for ex in page]

    def _read_counters(self) -> None:
        """Attribute the jobs and SQL executions added since the last read
        to the spans whose job group ran them."""
        self._bus.waitUntilEmpty()
        job_span = {}
        for sp in self.spans:
            if "counters" in sp:
                continue
            c = sp["counters"] = empty_counters()
            for group in sp["groups"]:
                for job_id in self._tracker.getJobIdsForGroup(group):
                    job_span[job_id] = sp
                    job = self._json(self._store.job(job_id))
                    c["jobs"] += 1
                    for sid in job["stageIds"]:
                        self._add_stage(c, sid)
        if not job_span:
            return
        # executions are numbered in start order: page back from the
        # newest until the last one already read
        count = self._sql.executionsCount()
        length, fresh = 16, []
        while True:
            fresh = self._newest_execs(count, length)
            if not fresh or fresh[0][0] <= self._seen_exec or length >= count:
                break
            length *= 2
        for eid, ex in fresh:
            if eid <= self._seen_exec:
                continue
            owners = [job_span[int(j)] for j in self._json(ex.jobs()) if int(j) in job_span]
            if owners:
                dot = self._sql.planGraph(eid).makeDotFile(self._sql.executionMetrics(eid))
                self._add_graph(owners[0]["counters"], graph_nodes(dot))
        if fresh:
            self._seen_exec = max(self._seen_exec, fresh[-1][0])

    def _add_stage(self, c: dict, sid: int) -> None:
        st = self._json(self._store.lastStageAttempt(sid))
        if st["status"] != "COMPLETE":
            return
        c["stages"] += 1
        c["tasks"] += st["numCompleteTasks"]
        c["task_run_s"] += st["executorRunTime"] / 1e3
        c["task_cpu_s"] += st["executorCpuTime"] / 1e9
        c["shuffle_write_bytes"] += st["shuffleWriteBytes"]
        c["spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
        c["output_bytes"] += st["outputBytes"]
        summary = self._store.taskSummary(sid, st["attemptId"], self._max_q)
        if summary.isDefined():
            longest = self._json(summary.get())["executorRunTime"][0] / 1e3
            c["max_task_s"] = max(c["max_task_s"], longest)

    @staticmethod
    def _add_graph(c: dict, nodes) -> None:
        for name, metrics in nodes:
            for key, node_name in NODE_COUNTS.items():
                if name == node_name:
                    c[key] += 1
            if "time to run Python workers" in metrics:
                c["py_worker_s"] += metrics["time to run Python workers"]
                c["python_rows_out"] += int(metrics.get("number of output rows", 0))
            if name.startswith("Scan"):
                c["scan_rows"] += int(metrics.get("number of output rows", 0))
            c["files_read"] += int(metrics.get("number of files read", 0))
