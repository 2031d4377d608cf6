"""Tests of the benchmark's own machinery, at a tiny size and without
Spark: the stage-metric fold, the process-tree CPU accounting, the
checksum, the Zarr reader that checks written stores, and the one-command
output.  Run from the root of a checkout:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import io
import json
import os
import sys
import zlib
from contextlib import redirect_stdout

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from perfbench import checksum, proctree, sparkfold  # noqa: E402
from perfbench.run import END_TO_END, per_layer_units, report  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402
from perfbench.workloads import read_zarr_v2, seeded_scale  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


# ------------------------------------------------------------------ fold

def _node(nid, name, desc="", **metrics):
    return {"nodeId": nid, "nodeName": name, "desc": desc or name,
            "metrics": [{"name": k.replace("_", " "), "value": v}
                        for k, v in metrics.items()]}


def _stage(sid, **kw):
    base = {"stageId": sid, "status": "COMPLETE", "numCompleteTasks": 4,
            "shuffleWriteBytes": 0, "shuffleWriteRecords": 0,
            "shuffleReadBytes": 0, "shuffleFetchWaitTime": 0,
            "diskBytesSpilled": 0, "executorRunTime": 0,
            "executorCpuTime": 0, "jvmGcTime": 0, "peakExecutionMemory": 0}
    base.update(kw)
    return base


def _docs():
    """A rectify-shaped plan: scan -> affine kernel -> scatter kernel ->
    densify kernel -> sink, with one routing exchange before each kernel.
    The affine routing stage prints its stage id; the others are
    single-task stages matched by the records they wrote."""
    multi = "total (min, med, max (stageId: taskId))\n{} (1 B, 1 B, 1 B " \
            "(stage {}.0: task 3))"
    nodes = [
        _node(0, "OverwriteByExpression"),
        _node(1, "FlatMapGroupsInPandas",
              "FlatMapGroupsInPandas [dst_blk#1], densify_kernel("
              "dst_blk#1, pix#2L)#3, [t#4]",
              number_of_output_rows="1,000",
              data_sent_to_Python_workers="2.0 MiB",
              data_returned_from_Python_workers="1.0 MiB"),
        _node(2, "Exchange", "Exchange hashpartitioning(dst_blk#1, 4)",
              shuffle_records_written="800", records_read="800"),
        _node(3, "FlatMapGroupsInPandas",
              "FlatMapGroupsInPandas [blk#5], scatter_kernel(sp#6L, "
              "x#7, y#8)#9, [dst_blk#1]",
              number_of_output_rows="800"),
        _node(4, "Exchange", "Exchange hashpartitioning(blk#5, 4)",
              shuffle_records_written="600", records_read="600"),
        _node(5, "FlatMapGroupsInPandas",
              "FlatMapGroupsInPandas [blk#10], kernel(sp#11L, "
              "val_0#12)#13, [t#14]",
              number_of_output_rows="600"),
        _node(6, "Exchange", "Exchange hashpartitioning(blk#10, 4)",
              shuffle_records_written="2,000", records_read="2,000",
              shuffle_bytes_written=multi.format("64.0 KiB", 7)),
        _node(7, "LocalTableScan", number_of_output_rows="2,000"),
    ]
    edges = [{"fromId": k + 1, "toId": k} for k in range(7)]
    execution = {"id": 3, "successJobIds": [10, 11, 12, 13],
                 "nodes": nodes, "edges": edges}
    plan_job = {"jobId": 9, "jobGroup": "r:plan", "stageIds": [6],
                "name": "collect at /x/xcube_resampling_spark/gridmapping/"
                        "distributed.py:160",
                "submissionTime": "2026-01-01T00:00:00.000GMT",
                "completionTime": "2026-01-01T00:00:01.500GMT"}
    jobs = [plan_job] + [
        {"jobId": 10 + k, "jobGroup": "r:exec", "stageIds": [7 + k],
         "name": "x"} for k in range(4)]
    stages = [
        _stage(6, executorRunTime=1500),
        _stage(7, shuffleWriteRecords=2000, shuffleWriteBytes=65536,
               executorRunTime=100),
        _stage(8, shuffleWriteRecords=600, shuffleWriteBytes=1024,
               executorRunTime=200, jvmGcTime=50),
        _stage(9, shuffleWriteRecords=800, shuffleWriteBytes=2048,
               executorRunTime=300, executorCpuTime=2 * 10 ** 8),
        _stage(10, executorRunTime=400, peakExecutionMemory=3 * 2 ** 20),
    ]
    return jobs, stages, [execution]


def test_fold_attributes_exchanges_and_stages_to_kernels():
    jobs, stages, executions = _docs()
    m = sparkfold.fold(jobs, stages, executions, "r", out_px=1000)
    assert m["operators.affine.exchanges"] == 1
    assert m["operators.rectify.exchanges"] == 2
    assert m["operators.reproject.exchanges"] == 0
    # stage 7 (scan + routing) feeds the affine kernel; stage 8 runs it;
    # stages 9 and 10 run the scatter and densify kernels
    assert m["operators.affine.task_run_s"] == pytest.approx(0.3)
    assert m["operators.affine.shuffle_write_records"] == 2600
    assert m["operators.affine.jvm_gc_s"] == pytest.approx(0.05)
    assert m["operators.rectify.task_run_s"] == pytest.approx(0.7)
    assert m["operators.rectify.task_cpu_s"] == pytest.approx(0.2)
    assert m["operators.rectify.peak_exec_mem_mb"] == pytest.approx(3.0)
    assert m["operators.rectify.shuffle_bytes_per_out_px"] == \
        pytest.approx(2048 / 1000)
    assert m["operators.affine.kernel_rows_in"] == 2000
    assert m["operators.affine.kernel_rows_out"] == 600
    assert m["operators.rectify.kernel_rows_in"] == 600 + 800
    assert m["operators.rectify.to_python_mb"] == pytest.approx(2.0)
    assert m["operators.rectify.candidates_per_out_px"] == \
        pytest.approx(0.8)


def test_fold_counts_plan_jobs_by_group_and_call_site():
    jobs, stages, executions = _docs()
    m = sparkfold.fold(jobs, stages, executions, "r", out_px=1000)
    assert m["operators.spatial.plan_jobs"] == 1
    assert m["gridmapping.plan_jobs"] == 1
    assert m["gridmapping.plan_jobs_s"] == pytest.approx(1.5)
    assert m["spark.jobs"] == 5
    assert m["spark.stages"] == 5
    assert m["spark.tasks"] == 20
    # another run's jobs are not folded in
    other = sparkfold.fold(jobs, stages, executions, "q", out_px=1000)
    assert other["spark.jobs"] == 0


def test_unknown_kernel_is_reported_not_attributed():
    jobs, stages, executions = _docs()
    executions[0]["nodes"][3]["desc"] = \
        "FlatMapGroupsInPandas [blk#5], renamed(sp#6L)#9, [dst_blk#1]"
    assert sparkfold.unattributed_kernels(executions, jobs, "r") == \
        ["renamed"]


@pytest.mark.parametrize("text,value", [
    ("1,234", 1234.0),
    ("10.0 KiB", 10240.0),
    ("1.5 MiB", 1.5 * 2 ** 20),
    ("123 ms", 0.123),
    ("1.7 s", 1.7),
    ("total (min, med, max (stageId: taskId))\n527.9 KiB (1.0 KiB, 2.0 "
     "KiB, 3.0 KiB (stage 4.0: task 12))", 527.9 * 1024),
])
def test_parse_metric(text, value):
    assert sparkfold.parse_metric(text) == pytest.approx(value)


def test_udf_name_skips_nested_expressions():
    desc = ("ArrowEvalPython [_tr((42.0 + ((cast(i#4 as double) + 0.5) * "
            "100.0)), (9.0 - cast(j#5 as double)))#430], [pythonUDF0#5], 200")
    assert sparkfold.udf_name(desc) == "_tr"
    assert sparkfold.udf_name(
        "FlatMapCoGroupsInPandas [blk#1], [blk#2], <lambda>(sp#3L)#4, "
        "[t#5]") == "<lambda>"
    assert sparkfold.udf_name("Sort [k#1L ASC NULLS FIRST], false, 0") \
        is None


# ------------------------------------------------------- CPU accounting

def _write_proc(root, procs):
    """procs: {pid: (comm, ppid, utime, stime, cutime, cstime)}"""
    for pid, (comm, ppid, u, s, cu, cs) in procs.items():
        d = root / str(pid)
        d.mkdir(exist_ok=True)
        fields = ["S", ppid] + [0] * 9 + [u, s, cu, cs] + [0] * 30
        (d / "stat").write_text(
            f"{pid} ({comm}) " + " ".join(map(str, fields)))
        (d / "comm").write_text(comm + "\n")
        (d / "status").write_text(f"Name:\t{comm}\nVmHWM:\t{pid * 1024} kB\n")


def test_cpu_delta_keeps_a_worker_that_exited(tmp_path):
    t = proctree.CLK_TCK
    # benchmark 1 -> jvm 2 -> daemon 3 -> worker 4; an unrelated process 9
    _write_proc(tmp_path, {
        1: ("python3", 0, 1 * t, 0, 0, 0),
        2: ("java", 1, 10 * t, 1 * t, 0, 0),
        3: ("python3", 2, 0, 0, 0, 0),
        4: ("python3", 3, 2 * t, 0, 0, 0),
        9: ("python3", 0, 50 * t, 0, 0, 0),
    })
    s = proctree.TreeSampler(root=1, interval=60, proc=str(tmp_path)).start()
    # worker 4 used 3 more seconds, then exited and was reaped by the
    # daemon: its lifetime CPU (5 s) moves into the daemon's cutime
    import shutil

    shutil.rmtree(tmp_path / "4")
    _write_proc(tmp_path, {
        2: ("java", 1, 14 * t, 1 * t, 0, 0),
        3: ("python3", 2, 0, 0, 5 * t, 0),
        9: ("python3", 0, 90 * t, 0, 0, 0),
    })
    got = s.stop()
    assert got["cpu_s"] == pytest.approx(4.0 + 3.0)


def test_sampler_splits_worker_and_jvm_peaks(tmp_path):
    _write_proc(tmp_path, {
        1: ("python3", 0, 0, 0, 0, 0),
        2: ("java", 1, 0, 0, 0, 0),
        3: ("python3", 2, 0, 0, 0, 0),
        4: ("python3", 3, 0, 0, 0, 0),
        5: ("python3", 3, 0, 0, 0, 0),
    })
    got = proctree.TreeSampler(root=1, interval=60,
                               proc=str(tmp_path)).start().stop()
    assert got["peak_jvm_rss_mb"] == 2.0
    assert got["peak_worker_rss_mb"] == 5.0
    assert got["python_workers"] == 2  # the daemon (3) is not a worker


def test_parse_stat_handles_spaces_in_comm():
    text = "7 (a b) c) S 3 0 0 0 -1 0 0 0 0 0 100 200 5 7 20 0 1 0"
    ppid, cpu = proctree.parse_stat(text)
    assert ppid == 3
    assert cpu == pytest.approx(312 / proctree.CLK_TCK)


def test_host_ticks_reads_steal_and_total(tmp_path):
    (tmp_path / "stat").write_text(
        "cpu  100 1 20 500 3 0 4 7 9 0\ncpu0 50 0 10 250 1 0 2 3 4 0\n")
    # guest time (9) is already inside user time, so it is not added
    assert proctree.host_ticks(str(tmp_path)) == (7, 635)
    assert proctree.host_ticks(str(tmp_path / "missing")) == (0, 0)


# -------------------------------------------------------------- checksum

def test_checksum_is_order_independent_and_value_sensitive():
    rng = np.random.default_rng(0)
    t = np.zeros(50, dtype=int)
    j, i = np.divmod(np.arange(50), 10)
    v = rng.standard_normal(50)
    v[3] = np.nan
    ref = checksum.pixels(t, j, i, v)
    p = rng.permutation(50)
    assert checksum.pixels(t[p], j[p], i[p], v[p]) == ref
    w = v.copy()
    w[7] += 1e-3
    assert checksum.pixels(t, j, i, w) != ref
    # a pixel moved to another place
    assert checksum.pixels(t, j, np.roll(i, 1), v) != ref
    # a duplicated row
    assert checksum.pixels(np.r_[t, 0], np.r_[j, 0], np.r_[i, 0],
                           np.r_[v, v[0]]) != ref


def test_seeded_scale_is_an_exact_power_of_two():
    scales = {seeded_scale(s) for s in range(20)}
    assert len(scales) > 5
    for s in scales:
        m, _e = np.frexp(abs(s))
        assert m == 0.5
    x = np.linspace(-3, 3, 101)
    for s in scales:
        assert np.array_equal((x * s) / s, x)


def test_read_zarr_v2_decodes_partial_edge_chunks(tmp_path):
    arr = np.arange(5 * 7, dtype="<f8").reshape(5, 7)
    d = tmp_path / "v"
    d.mkdir()
    (d / ".zarray").write_text(json.dumps({
        "shape": [5, 7], "chunks": [3, 4], "dtype": "<f8",
        "compressor": {"id": "zlib", "level": 1}, "fill_value": "NaN",
        "filters": None, "order": "C", "zarr_format": 2}))
    for cj in range(2):
        for ci in range(2):
            block = np.full((3, 4), -1.0)
            part = arr[cj * 3:cj * 3 + 3, ci * 4:ci * 4 + 4]
            block[:part.shape[0], :part.shape[1]] = part
            if (cj, ci) != (1, 1):  # a missing chunk reads as fill
                (d / f"{cj}.{ci}").write_bytes(zlib.compress(block.tobytes()))
    got = read_zarr_v2(str(tmp_path), "v")
    want = arr.copy()
    want[3:, 4:] = np.nan
    np.testing.assert_array_equal(got, want)


# ------------------------------------------------- spans and the output

def test_self_time_subtracts_child_spans():
    tr = Tracer()
    with tr.span("call", "r"):
        with tr.span("operators.spatial", "r"):
            pass
    call, plan = tr.spans
    st = tr.self_times("r")
    assert st["call"] == pytest.approx(call.duration - plan.duration)
    assert plan.parent == call.id


def test_report_prints_every_metric_with_unit_and_json_last():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    units = dict(END_TO_END)
    metrics = {k: 1.5 for k in units}
    buf = io.StringIO()
    with redirect_stdout(buf):
        report("w", 1, metrics, units, {"wall_s": "(median of 3 calls)"},
               True, 4, 0)
    lines = buf.getvalue().splitlines()
    doc = json.loads(lines[-1])
    assert set(doc) == {"correct", "attempted", "failed", "metrics"}
    assert {m["name"] for m in bench["end_to_end"]} == set(doc["metrics"])
    for m in bench["end_to_end"]:
        assert doc["metrics"][m["name"]]["unit"] == m["unit"]
        assert any(line.split()[:3] == [m["name"], "1.5", m["unit"]]
                   for line in lines)
    assert "(median of 3 calls)" in buf.getvalue()


def test_per_layer_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    units = per_layer_units()
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == units
