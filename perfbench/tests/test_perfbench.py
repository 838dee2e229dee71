"""The benchmark's own tests.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
The end-to-end cases start the benchmark at its tiny scale in a
subprocess (about half a minute each); the rest are pure unit tests.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import inputs  # noqa: E402
import tracing  # noqa: E402
from layers import PassView, _self_times  # noqa: E402

WORKLOADS = ("tail_dump_reload", "curation_queries")


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_bench(workload, trace=0, corrupt="none", cwd=ROOT, seed=7):
    cmd = [
        sys.executable, os.path.join(cwd, "perfbench", "run.py"),
        "--workload", workload, "--seed", str(seed), "--seconds", "1",
        "--trace", str(trace), "--scale", "tiny", "--corrupt", corrupt,
    ]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


def result_of(proc):
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", (0, 1))
def test_tiny_run_emits_every_named_metric(workload, trace):
    detail, result = result_of(run_bench(workload, trace))
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, detail["problems"]
    assert result["attempted"] >= 1
    declared = spec()["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)) and math.isfinite(got["value"])
    if not trace:
        assert all(result["metrics"][m["name"]]["value"] > 0 for m in declared)
    assert detail["host"]["nproc"] >= 1 and detail["host"]["master"].startswith("local[")
    assert detail["failed_op_share"] == 0.0


@pytest.mark.parametrize(
    "workload,corrupt",
    [
        ("tail_dump_reload", "dump_file"),
        ("tail_dump_reload", "dump_codec"),
        ("curation_queries", "query_row"),
    ],
)
def test_corrupted_output_is_counted_as_failed(workload, corrupt):
    detail, result = result_of(run_bench(workload, corrupt=corrupt))
    assert result["correct"] is False
    assert result["failed"] >= 1
    assert detail["failed_op_share"] > 0
    assert detail["problems"]


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = run_bench("tail_dump_reload", cwd=str(tmp_path))
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_generators_are_deterministic_per_seed(tmp_path):
    a = inputs.tail_archive(str(tmp_path / "a"), 3, 2_000)
    b = inputs.tail_archive(str(tmp_path / "b"), 3, 2_000)
    c = inputs.tail_archive(str(tmp_path / "c"), 4, 2_000)
    files = sorted(os.listdir(tmp_path / "a"))
    for name in files:
        assert (tmp_path / "a" / name).read_bytes() == (tmp_path / "b" / name).read_bytes()
    assert a.tail(1_000) == b.tail(1_000) != c.tail(1_000)
    props = a.properties(1_000, 100)
    assert props["records"] == 2_000 and props["partitions"] == 8
    assert sum(props["per_partition"]) == 2_000
    keys, values = a.tail(2_000)
    assert 0.2 < sum(k is None for k in keys) / len(keys) < 0.4
    assert all(8 <= len(v) <= 8192 for v in values)


def test_tail_slice_matches_the_offset_planner(tmp_path):
    sys.path.insert(0, ROOT)
    from kafka_topic_dumper_spark.plans.offsets import plan_tail_dump

    archive = inputs.tail_archive(str(tmp_path / "a"), 5, 3_000)
    parts = archive.partitions
    plan = plan_tail_dump(
        inputs.TOPIC, {p: x.begin for p, x in parts.items()},
        {p: x.end for p, x in parts.items()}, 1_500,
    )
    keys, values = archive.tail(1_500)
    assert len(values) == plan.available_messages < 1_500  # the skew clamps


def test_permuted_tables_keep_rows_and_row_groups(tmp_path):
    import pyarrow.parquet as pq

    inputs.permuted_tables(str(tmp_path / "x"), 1)
    inputs.permuted_tables(str(tmp_path / "y"), 2)
    for name in sorted(os.listdir(inputs.BASE_SF_DIR)):
        base = pq.read_table(os.path.join(inputs.BASE_SF_DIR, name))
        x = pq.read_table(tmp_path / "x" / name)
        y = pq.read_table(tmp_path / "y" / name)
        assert pq.ParquetFile(tmp_path / "x" / name).metadata.num_row_groups == (
            pq.ParquetFile(os.path.join(inputs.BASE_SF_DIR, name)).metadata.num_row_groups
        )
        key = [(c, "ascending") for c in base.column_names if not str(base.schema.field(c).type).startswith("list")]
        assert x.sort_by(key).equals(base.sort_by(key))
        if base.num_rows > 10:
            assert not x.equals(y)


def test_graph_node_parsing():
    dot = (
        '  8 [id="node8" labelType="html" label="<b>MapInPandas</b><br><br>time to run '
        "Python workers total (min, med, max (stageId: taskId))<br>9.2 s (2.2 s, 2.3 s, "
        "2.4 s (stage 0.0: task 0))<br>number of output rows: 100,000\" tooltip=\"x\"];\n"
        '  0 [id="node0" labelType="html" label="<br><b>Exchange</b><br><br>'
        'data size: 1.5 KiB" tooltip="y"];'
    )
    nodes = tracing.graph_nodes(dot)
    assert nodes[0] == ("MapInPandas", {"time to run Python workers": 9.2,
                                        "number of output rows": 100000.0})
    assert nodes[1] == ("Exchange", {"data size": 1536.0})
    assert tracing.parse_metric("12 ms") == pytest.approx(0.012)


def test_self_time_subtracts_children():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0, "name": "cli", "progress": []},
        {"id": 2, "parent": 1, "start": 1.0, "end": 4.0, "name": "x", "progress": []},
        {"id": 3, "parent": 2, "start": 2.0, "end": 3.0, "name": "y", "progress": []},
    ]
    assert _self_times(spans) == {1: 7.0, 2: 2.0, 3: 1.0}
    assert PassView(spans, 10.0, {}).self_time("cli") == 7.0


def test_compare_refuses_results_from_different_core_counts(tmp_path):
    import compare

    def record(name, nproc, wall):
        path = tmp_path / name
        path.write_text(json.dumps({
            "workload": "curation_queries",
            "host": {"nproc": nproc, "master": f"local[{nproc}]"},
            "end_to_end": {"warm_pass_s": wall},
        }))
        return str(path)

    base = [record("a1.json", 4, 30.0), record("a2.json", 4, 32.0)]
    assert compare.main(["--base", *base, "--new", record("b.json", 4, 31.0)]) == 0
    assert compare.main(["--base", *base, "--new", record("c.json", 32, 9.0)]) == 2
