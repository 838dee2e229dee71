"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. One process, one Spark session on
``local[<cores>]``, where cores is this process's CPU affinity count.

A run sets up three times: the first time it launches the JVM and
starts the session, later times restart the context in the same JVM;
each time it generates the seeded inputs and runs a generic
JVM/Python-worker warm-up. ``setup_s`` is the session start plus the
median of the three generation + warm-up times. The run then makes a
first pass of the workload's job and a fixed number of warm passes
(``WARM_PASSES`` per 10 s of ``--seconds``, at least one, whatever
their speed), checking each pass's outputs after its clock stops. The
end-to-end times are scaled to a reference host speed, measured by a
calibration kernel timed after each set-up and before each pass (see
``CALIBRATION_REF_S``). With ``--trace 1`` the traced passes (first
and warm) come first and as many untraced warm passes follow; the
per-layer metrics replace the end-to-end ones, and the traced minus
the untraced median warm pass is the tracing overhead.

Standard output ends with two JSON lines: a detail record (host
context, input properties, per-phase wall times, per-layer seconds,
problems found) and the result object ``{"correct", "attempted",
"failed", "metrics"}``. Every detail record, with a traced run's spans,
is also written under ``.perfbench_out/`` in the checkout. See
``perfbench/README.md`` for the metrics.
"""

from __future__ import annotations

import argparse
import atexit
import json
import os
import shutil
import sys
import time
import zlib
from statistics import median

STARTED = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

SETUP_REPS = 3
# Warm passes per 10 s of --seconds. The count is fixed, not a time
# budget, so faster code is not measured later in its JIT warm-up than
# slower code; two passes keep the run-to-run spread of the median
# within the bounds on both workloads.
WARM_PASSES = 2
DRIVER_MEMORY = "1g"
# The time metrics are scaled to a reference host speed: measured time
# x CALIBRATION_REF_S / the calibration kernel's median time in the
# run. The guest's speed drifts with its neighbours' load (the same
# code's warm pass went from 9.8 s to 7.0 s within ten runs with no
# CPU steal), and the kernel, which runs none of the package's code,
# drifts with it.
CALIBRATION_REF_S = 0.2

E2E_UNITS = {"setup_s": "s", "warm_pass_s": "s", "warm_pass_cpu_s": "s", "peak_rss_mb": "MB"}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="input sizes; 'tiny' is for the benchmark's own tests")
    p.add_argument("--corrupt", choices=("none", "dump_file", "dump_codec", "query_row"),
                   default="none",
                   help="damage the first pass's output before its check, "
                   "to test the checks")
    return p.parse_args(argv)


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat's aggregate cpu line."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7] if len(fields) > 7 else 0, sum(fields[:8])


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for process {pid}")


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system, own and reaped children) of a process
    and all its live descendants: the Python driver, the JVM and the
    Python workers."""
    children: dict[int, list[int]] = {}
    stats: dict[int, list[str]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we looked
            continue
        stats[int(entry)] = fields
        children.setdefault(int(fields[1]), []).append(int(entry))
    ticks, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        if pid in stats:
            # fields after the name: utime, stime, cutime, cstime at 11-14
            ticks += sum(int(x) for x in stats[pid][11:15])
        todo.extend(children.get(pid, []))
    return ticks / os.sysconf("SC_CLK_TCK")


def package_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "kafka_topic_dumper_spark", "__init__.py")) and (
        os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
    )


def start_session(work: str):
    from kafka_topic_dumper_spark.session import ensure_shipped, get_session

    spark = get_session(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # a fixed heap size keeps the heap's resident size from
            # following when G1 happens to grow it
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    ensure_shipped(spark)
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to end
    (the Python worker daemons exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def calibration_kernel_s() -> float:
    """Wall time of a fixed single-threaded CPU job that runs none of the
    package's code: zlib compression, a NumPy sort and an interpreted
    Python loop, the kinds of work the workloads do."""
    import numpy as np

    rng = np.random.default_rng(0)
    text = rng.integers(97, 105, size=1 << 20, dtype=np.uint8).tobytes()
    floats = rng.random(2_000_000)
    t0 = time.perf_counter()
    zlib.compress(text, 6)
    np.sort(floats)
    acc = 0
    for i in range(1_000_000):
        acc += i * i % 7
    return time.perf_counter() - t0


def warm_up(spark, cores: int) -> None:
    """Generic warm-up: one SQL aggregation with a shuffle and one Arrow
    flat-map on every core, so the JVM's common code paths and the
    Python worker pool are live. It runs none of the package's code."""

    def identity(batches):
        yield from batches

    spark.range(0, 200_000, numPartitions=cores).selectExpr("id % 97 AS k").groupBy(
        "k"
    ).count().collect()
    spark.range(0, 4_000, numPartitions=cores).mapInPandas(identity, "id long").collect()


def damage(out, kind: str) -> None:
    """Damage a pass's output before its check (the checks' own test)."""
    import workloads

    if kind == "dump_file":
        os.remove(workloads.parquet_files(out.batch_dump_dir)[0])
    elif kind == "dump_codec":
        import pyarrow.parquet as pq

        path = workloads.parquet_files(out.batch_dump_dir)[0]
        pq.write_table(pq.read_table(path), path, compression="snappy")
    elif kind == "query_row":
        name = next(iter(out.results))
        cols, rows = out.results[name]
        out.results[name] = (cols, rows[1:])


def run(args, work: str, cores: int) -> dict:
    import tracing
    import workloads
    from layers import PassView, layer_metrics

    wl = workloads.WORKLOADS[args.workload](work, args.seed, workloads.SIZES[args.scale])

    preps, restarts, kernel = [], [], []
    spark = None
    session_start = None
    for rep in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session(work)
        t1 = time.perf_counter()
        if rep == 0:
            session_start = t1 - t0
        else:
            restarts.append(t1 - t0)
        wl.generate()
        warm_up(spark, cores)
        preps.append(time.perf_counter() - t1)
        kernel.append(calibration_kernel_s())
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    t_prep = time.perf_counter()
    properties = wl.properties()
    wl.prepare_checks()
    timeline = {"setup_s": session_start + sum(restarts) + sum(preps),
                "prepare_checks_s": time.perf_counter() - t_prep, "check_s": 0.0}
    n_warm = max(1, round(WARM_PASSES * args.seconds / 10))

    def passes(tracer, first_index, with_first):
        """Run passes: the first one if asked, then ``n_warm`` warm ones."""
        out = []
        for i in range(first_index, first_index + with_first + n_warm):
            if tracer.enabled:
                tracer.pass_index = i
            kernel.append(calibration_kernel_s())
            cpu0 = tree_cpu_s(os.getpid())
            output = wl.execute(i, tracer)
            cpu = tree_cpu_s(os.getpid()) - cpu0
            t_check = time.perf_counter()
            if args.corrupt != "none" and i == 0:
                damage(output, args.corrupt)
            r = wl.check(output)
            r.phases["cpu_s"] = cpu
            timeline["check_s"] += time.perf_counter() - t_check
            out.append(r)
        return out

    overhead = None
    t_passes = time.perf_counter()
    if args.trace:
        tracer = tracing.Tracer(spark, f"{args.workload}-{args.seed}-{os.getpid()}")
        tracer.install()
        try:
            traced = passes(tracer, 0, True)
        finally:
            tracer.uninstall()
        untraced = passes(tracing.NullTracer(), len(traced), False)
        all_passes = traced + untraced
        overhead = median(p.wall_s for p in traced[1:]) - median(p.wall_s for p in untraced)
    else:
        all_passes = passes(tracing.NullTracer(), 0, True)
        traced = untraced = None

    timeline["passes_s"] = time.perf_counter() - t_passes - timeline["check_s"]
    peak_rss = max(vm_hwm_mb(jvm_pid), vm_hwm_mb("self"))
    master = spark.sparkContext.master
    parallelism = spark.sparkContext.defaultParallelism
    t_stop = time.perf_counter()
    stop_jvm(spark)
    timeline["stop_s"] = time.perf_counter() - t_stop

    first, warm = all_passes[0], all_passes[1:]
    measured = {
        "setup_s": session_start + median(preps),
        "warm_pass_s": median(p.wall_s for p in warm),
        "warm_pass_cpu_s": median(p.phases["cpu_s"] for p in warm),
    }
    speed = CALIBRATION_REF_S / median(kernel)
    phases = {
        k: median(p.phases[k] for p in all_passes[1:])
        for k in first.phases
    }
    result = {
        "attempted": sum(p.attempted for p in all_passes),
        "failed": sum(p.failed for p in all_passes),
        "problems": [x for p in all_passes for x in p.problems],
        "passes": len(all_passes),
        "pass_walls_s": [p.wall_s for p in all_passes],
        "warm_phases": phases,
        "first_phases": first.phases,
        "properties": properties,
        "master": master,
        "parallelism": parallelism,
        "session_start_s": session_start,
        "session_restarts_s": restarts,
        "setup_preps_s": preps,
        "first_pass_s": first.wall_s,
        "timeline": timeline,
        "calibration_kernel_s": kernel,
        "host_speed": speed,
        "measured": measured,
        "e2e": {
            **{k: v * speed for k, v in measured.items()},
            "peak_rss_mb": peak_rss,
        },
    }
    if args.trace:
        views = [
            PassView([sp for sp in tracer.spans if sp["pass"] == i], p.wall_s, p.phases)
            for i, p in enumerate(traced)
        ]
        metrics, seconds = layer_metrics(views, cores, getattr(wl, "rows_out", {}))
        metrics["session.start_s"] = session_start
        metrics["session.restart_s"] = median(restarts)
        metrics["trace.overhead_s"] = overhead
        result["per_layer"] = metrics
        result["layer_seconds"] = seconds
        result["spans"] = tracer.spans
        result["traced_warm_pass_s"] = median(p.wall_s for p in traced[1:])
        result["untraced_warm_pass_s"] = median(p.wall_s for p in untraced)
    return result


def main(argv=None) -> int:
    args = parse_args(argv)
    if not package_present():
        print(
            "perfbench: the package under test (kafka_topic_dumper_spark/ and "
            "__spark_entry__.py) is not in this checkout",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    # keep every scratch file of the run inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    # every JVM (the launcher too): temp files in the checkout, no
    # perf-data file under the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )
    import logging

    logging.basicConfig(level=logging.WARNING, format="%(levelname)s %(name)s %(message)s")

    # registered first, so it runs after the package's own exit hooks
    # (which unlink files under TMPDIR)
    atexit.register(shutil.rmtree, work, True)
    steal0, total0 = cpu_times()
    res = run(args, work, cores)
    steal1, total1 = cpu_times()

    import duckdb
    import pyspark

    host = {
        "nproc": cores,
        "master": res.pop("master"),
        "parallelism": res.pop("parallelism"),
        "cpu_steal_pct": 100.0 * (steal1 - steal0) / max(1, total1 - total0),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "driver_memory": DRIVER_MEMORY,
    }
    spans = res.pop("spans", None)
    e2e = res.pop("e2e")
    per_layer = res.pop("per_layer", None)
    attempted, failed = res.pop("attempted"), res.pop("failed")
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "scale": args.scale,
        "host": host,
        "failed_op_share": failed / attempted,
        "attempted": attempted,
        "end_to_end": e2e,
        "notes": {
            "peak_rss_mb": "max VmHWM of the driver JVM and the Python driver; "
            "Python workers are not included",
            "times": "end-to-end times are scaled by host_speed to the reference "
            "host speed; the measured ones are under 'measured'",
        },
        **res,
    }
    detail["timeline"]["process_s"] = time.perf_counter() - STARTED
    stamp = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    with open(os.path.join(out_dir, f"{stamp}.json"), "w") as f:
        json.dump({**detail, "spans": spans}, f)
    metrics = per_layer if args.trace else e2e
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            name: {"value": value, "unit": unit_of(name)} for name, value in metrics.items()
        },
    }
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


def unit_of(name: str) -> str:
    if name in E2E_UNITS:
        return E2E_UNITS[name]
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_share"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
