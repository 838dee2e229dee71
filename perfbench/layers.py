"""Per-layer metrics derived from a traced run's spans.

A span's self time is its duration minus the time its child spans
cover. Every per-pass figure is summed over the spans of one pass; a
"warm" figure is the median over the traced passes after the first, a
"first" figure is the traced first pass's.

Layer times that only some workloads exercise are reported as shares
of the pass wall time (or of the layer's own wall time), so a workload
that never calls a layer reports a share of 0, not a time. The
absolute seconds are in the detail record (``layer_seconds``).
"""

from __future__ import annotations

from collections import defaultdict
from statistics import median

from tracing import empty_counters
from workloads import QUERY_GROUPS


def _self_times(spans: list[dict]) -> dict[int, float]:
    child = defaultdict(float)
    for sp in spans:
        if sp["parent"] is not None:
            child[sp["parent"]] += sp["end"] - sp["start"]
    return {sp["id"]: sp["end"] - sp["start"] - child[sp["id"]] for sp in spans}


class PassView:
    """Sums over the spans of one pass."""

    def __init__(self, spans: list[dict], wall_s: float, phases: dict):
        self.spans = spans
        self.wall = wall_s
        self.phases = phases
        self.self_s = _self_times(spans)

    def named(self, name: str, **match) -> list[dict]:
        return [
            sp for sp in self.spans
            if sp["name"] == name and all(sp.get(k) == v for k, v in match.items())
        ]

    def self_time(self, name: str, **match) -> float:
        return sum(self.self_s[sp["id"]] for sp in self.named(name, **match))

    def duration(self, name: str, **match) -> float:
        return sum(sp["end"] - sp["start"] for sp in self.named(name, **match))

    def counters(self, spans=None) -> dict:
        total = empty_counters()
        for sp in self.spans if spans is None else spans:
            for k, v in sp.get("counters", {}).items():
                total[k] = max(total[k], v) if k == "max_task_s" else total[k] + v
        return total

    def progress(self, name: str) -> tuple[int, float]:
        """(micro-batches, commit seconds) of the streaming queries
        attached to the named spans."""
        batches, commit_ms = 0, 0.0
        for sp in self.named(name):
            for p in sp["progress"]:
                batches += 1
                d = p["durationMs"]
                commit_ms += d.get("walCommit", 0) + d.get("commitOffsets", 0)
        return batches, commit_ms / 1e3

    def py4j(self, spans) -> int:
        """py4j calls made inside the given spans, counting nested ones once."""
        ids = {sp["id"] for sp in spans}
        return sum(sp["py4j_calls"] for sp in spans if sp["parent"] not in ids)


def _share(part: float, whole: float) -> float:
    return part / whole if whole > 0 else 0.0


def pass_metrics(v: PassView, cores: int) -> tuple[dict, dict]:
    """(per-layer metrics, absolute layer seconds) of one traced pass."""
    m, secs = {}, {}
    top = [sp for sp in v.spans if sp["parent"] is None]
    c = v.counters()
    no_job = [sp for sp in v.spans if not sp.get("counters", {}).get("jobs")]
    m["driver.build_s"] = sum(v.self_s[sp["id"]] for sp in no_job)
    m["driver.py4j_calls"] = v.py4j(top)
    m["spark.jobs"] = c["jobs"]
    m["spark.tasks"] = c["tasks"]
    m["spark.task_run_s"] = c["task_run_s"]
    m["spark.task_cpu_s"] = c["task_cpu_s"]
    m["spark.core_busy_share"] = _share(c["task_run_s"], v.wall * cores)
    m["spark.max_task_s"] = c["max_task_s"]
    # SQL timing metrics are formatted to 0.1 s above one second, so
    # Python-worker time is reported as a share of task time
    secs["spark.py_worker_s"] = c["py_worker_s"]
    m["spark.py_worker_share"] = _share(c["py_worker_s"], c["task_run_s"])
    m["spark.shuffle_write_bytes"] = c["shuffle_write_bytes"]
    m["spark.spill_bytes"] = c["spill_bytes"]

    for g in QUERY_GROUPS:
        build, execute = v.self_time(f"{g}.build"), v.self_time(f"{g}.exec")
        gc = v.counters(v.named(f"{g}.exec") + v.named(f"{g}.build"))
        secs[f"{g}.build_s"], secs[f"{g}.exec_s"] = build, execute
        secs[f"{g}.task_cpu_s"], secs[f"{g}.py_worker_s"] = gc["task_cpu_s"], gc["py_worker_s"]
        m[f"{g}.build_share"] = _share(build, v.wall)
        m[f"{g}.exec_share"] = _share(execute, v.wall)
        m[f"{g}.py4j_calls"] = v.py4j(v.named(f"{g}.build") + v.named(f"{g}.exec"))
        for k in ("shuffle_write_bytes", "spill_bytes", "exchanges", "arrow_eval_nodes", "cached_scans"):
            m[f"{g}.{k}"] = gc[k]
    load = v.named("sources.tables.load_table")
    m["sources.tables.load_table_calls"] = len(load)
    secs["sources.tables.load_table_s"] = v.duration("sources.tables.load_table")
    m["sources.tables.load_table_share"] = _share(secs["sources.tables.load_table_s"], v.wall)

    for name in (
        "plans.offsets.discover",
        "plans.offsets.plan",
        "streaming.reload.discover",
        "streaming.state.read_latest",
        "streaming.state.save",
    ):
        secs[f"{name}_s"] = v.self_time(name)
        m[f"{name}_share"] = _share(secs[f"{name}_s"], v.wall)

    write = v.named("streaming.dump.write")
    wc = v.counters(write)
    secs["streaming.dump.write_s"] = v.duration("streaming.dump.write")
    secs["streaming.dump.task_cpu_s"] = wc["task_cpu_s"]
    secs["streaming.dump.max_task_s"] = wc["max_task_s"]
    m["streaming.dump.write_share"] = _share(secs["streaming.dump.write_s"], v.wall)
    m["streaming.dump.core_busy_share"] = _share(wc["task_run_s"], secs["streaming.dump.write_s"] * cores)
    m["streaming.dump.max_task_share"] = _share(wc["max_task_s"], secs["streaming.dump.write_s"])
    # files as counted on disk by the pass's check; bytes as the write
    # tasks' output metrics report them
    m["streaming.dump.output_files"] = v.phases.get("dump_files", 0)
    m["streaming.dump.output_bytes"] = wc["output_bytes"]

    cold = [sp for sp in v.named("streaming.reload.replay") if sp.get("action") != "hot_reload_skip"]
    replay_self = sum(v.self_s[sp["id"]] for sp in cold)
    rc = v.counters(cold)
    secs["streaming.reload.replay_s"] = replay_self
    secs["streaming.reload.task_cpu_s"] = rc["task_cpu_s"]
    m["streaming.reload.replay_share"] = _share(replay_self, v.wall)
    m["streaming.reload.core_busy_share"] = _share(rc["task_run_s"], replay_self * cores)
    m["streaming.reload.input_files"] = rc["files_read"]
    secs["transform.py_worker_s"] = rc["py_worker_s"]
    m["transform.py_worker_share"] = _share(rc["py_worker_s"], rc["task_run_s"])
    m["transform.rows_in"] = rc["scan_rows"]
    m["transform.rows_out"] = rc["python_rows_out"]

    # the streaming path: its queries' jobs run under the query's run id
    for layer, name in (("streaming.dump", "streaming.dump.stream"),
                        ("streaming.reload", "streaming.reload.stream")):
        sc = v.counters(v.named(name))
        wall = v.duration(name)
        batches, commit = v.progress(name)
        secs[f"{layer}.stream_s"] = wall
        secs[f"{layer}.stream_task_cpu_s"] = sc["task_cpu_s"]
        secs[f"{layer}.commit_s"] = commit
        m[f"{layer}.stream_share"] = _share(wall, v.wall)
        m[f"{layer}.stream_core_busy_share"] = _share(sc["task_run_s"], wall * cores)
        m[f"{layer}.batches"] = batches
        m[f"{layer}.commit_share"] = _share(commit, wall)
    stream_reload = v.counters(v.named("streaming.reload.stream"))
    m["streaming.reload.stream_input_files"] = stream_reload["files_read"]
    m["streaming.dump.stream_output_files"] = v.phases.get("stream_dump_files", 0)
    secs["transform.stream_py_worker_s"] = stream_reload["py_worker_s"]
    m["transform.stream_py_worker_share"] = _share(stream_reload["py_worker_s"], stream_reload["task_run_s"])
    secs["streaming.state.hot_skip_s"] = v.duration("streaming.reload.replay", action="hot_reload_skip")
    m["streaming.state.hot_skip_share"] = _share(secs["streaming.state.hot_skip_s"], v.wall)
    return m, secs


def layer_metrics(views: list[PassView], cores: int, rows_out: dict) -> tuple[dict, dict]:
    """Per-layer metrics over the traced passes: warm medians, plus the
    ``*_first_share`` figures of the first pass."""
    per_pass = [pass_metrics(v, cores) for v in views]
    warm = per_pass[1:]
    metrics = {k: median(p[0][k] for p in warm) for k in per_pass[0][0]}
    seconds = {k: median(p[1][k] for p in warm) for k in per_pass[0][1]}
    first_m, first_s = per_pass[0]
    for g in QUERY_GROUPS:
        metrics[f"{g}.build_first_share"] = first_m[f"{g}.build_share"]
        metrics[f"{g}.exec_first_share"] = first_m[f"{g}.exec_share"]
        seconds[f"{g}.build_first_s"] = first_s[f"{g}.build_s"]
        seconds[f"{g}.exec_first_s"] = first_s[f"{g}.exec_s"]
        metrics[f"{g}.rows_out"] = rows_out.get(g, 0)
    return metrics, seconds
