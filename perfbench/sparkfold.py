"""Fold Spark's own job, stage and SQL metrics into per-layer figures.

The benchmark sets a job group per public call (``<run>:<phase>``).
Spark's status store then tells which jobs, stages and SQL executions a
call launched.  Stages and shuffle exchanges are attributed to an
operator by the kernel UDF they run:

* a python node (``FlatMapGroupsInPandas``, ``MapInPandas``, ...) belongs
  to the layer of its UDF (``KERNEL_LAYERS``);
* a shuffle exchange belongs to the nearest kernel that consumes it
  (above it in the plan); an exchange no kernel consumes (the last one
  before the sink) belongs to the nearest kernel below it;
* a stage runs the kernel in its own part of the plan; a stage that
  runs none takes the layer of the exchange it writes.

Everything here is a pure function of the status-store documents, so
the tests feed it recorded or synthetic ones.  ``fetch`` reads the live
documents from the application's REST API (and the node descriptions, which
the REST API omits, from the SQL status store through py4j).
"""

from __future__ import annotations

import json
import re
import urllib.request
from datetime import datetime, timezone

# (plan node name, UDF function name) -> layer.  The UDF names are the
# kernel functions in xcube_resampling_spark; a python node not listed
# here is reported as "unattributed".
KERNEL_LAYERS = {
    ("FlatMapGroupsInPandas", "kernel"): "operators.affine",
    ("FlatMapGroupsInPandas", "scatter_kernel"): "operators.rectify",
    ("FlatMapGroupsInPandas", "densify_kernel"): "operators.rectify",
    ("FlatMapCoGroupsInPandas", "<lambda>"): "operators.reproject",
    ("ArrowEvalPython", "_tr"): "crs",
    ("FlatMapGroupsInPandas", "write_chunk"): "sources.zarr",
    ("MapInPandas", "decode"): "sources.zarr",
    ("MapInPandas", "fetch"): "sources.zarr",
}

OPERATORS = ("operators.affine", "operators.rectify", "operators.reproject")

OPERATOR_METRICS = (
    ("exchanges", "count"),
    ("shuffle_write_mb", "MB"),
    ("shuffle_write_records", "count"),
    ("shuffle_read_mb", "MB"),
    ("fetch_wait_s", "s"),
    ("spill_mb", "MB"),
    ("task_run_s", "s"),
    ("task_cpu_s", "s"),
    ("jvm_gc_s", "s"),
    ("peak_exec_mem_mb", "MB"),
    ("kernel_rows_in", "count"),
    ("kernel_rows_out", "count"),
    ("to_python_mb", "MB"),
    ("from_python_mb", "MB"),
    ("shuffle_bytes_per_out_px", "B/px"),
)

MB = 1024.0 * 1024.0
_SIZE = {"B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3,
         "TiB": 1024 ** 4}
_TIME = {"ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0,
         "h": 3600.0}
_STAGE_RE = re.compile(r"\(stage (\d+)\.\d+: task \d+\)")
_CALL_RE = re.compile(r"([A-Za-z_<][\w<>]*)\(")
_WRITE_METRICS = ("shuffle bytes written", "shuffle write time", "data size")


def parse_metric(text: str) -> float:
    """Numeric value of a SQL metric string in base units (bytes,
    seconds, rows): ``"1,234"``, ``"10.0 KiB"``, ``"1.7 s"``, or the
    multi-task form ``"total (min, med, max ...)\\n527.9 KiB (...)"``,
    whose total comes first after the line break."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    parts = line.replace(",", "").split()
    value = float(parts[0])
    unit = parts[1] if len(parts) > 1 else ""
    if unit in _SIZE:
        return value * _SIZE[unit]
    if unit in _TIME:
        return value * _TIME[unit]
    return value


def stage_ids_in(text: str) -> set[int]:
    """Stage ids named in a multi-task metric string."""
    return {int(s) for s in _STAGE_RE.findall(text)}


def udf_name(desc: str) -> str | None:
    """The UDF function name in a python node's description, e.g.
    ``scatter_kernel`` in ``FlatMapGroupsInPandas [blk#1],
    scatter_kernel(sp#2L, blk#1)#3, [...]``: the first call whose
    closing parenthesis is followed by an expression id."""
    for m in _CALL_RE.finditer(desc):
        depth = 0
        for k in range(m.end() - 1, len(desc)):
            depth += {"(": 1, ")": -1}.get(desc[k], 0)
            if depth == 0:
                if re.match(r"#\d+", desc[k + 1:]):
                    return m.group(1)
                break
    return None


def is_python(name: str) -> bool:
    return name.endswith(("InPandas", "InArrow")) or "EvalPython" in name


def parse_time(s: str) -> float:
    """Epoch seconds of a REST timestamp (``2026-10-17T02:54:45.502GMT``)."""
    return datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f") \
        .replace(tzinfo=timezone.utc).timestamp()


def job_seconds(job: dict) -> float:
    if not job.get("completionTime"):
        return 0.0
    return parse_time(job["completionTime"]) - parse_time(
        job["submissionTime"])


class Plan:
    """One executed SQL plan graph with layer labels."""

    def __init__(self, execution: dict):
        self.nodes = {n["nodeId"]: n for n in execution["nodes"]}
        self.parent: dict[int, int] = {}
        self.children: dict[int, list[int]] = {}
        for e in execution["edges"]:
            self.parent[e["fromId"]] = e["toId"]
            self.children.setdefault(e["toId"], []).append(e["fromId"])
        self.root = min(n for n in self.nodes if n not in self.parent)

    def name(self, nid: int) -> str:
        return self.nodes[nid]["nodeName"]

    def metrics(self, nid: int) -> dict[str, str]:
        return {m["name"]: m["value"] for m in self.nodes[nid]["metrics"]}

    def metric(self, nid: int, name: str) -> float:
        v = self.metrics(nid).get(name)
        return parse_metric(v) if v else 0.0

    def layer_of(self, nid: int) -> str | None:
        """The layer of a python node (None for any other node)."""
        if not is_python(self.name(nid)):
            return None
        udf = udf_name(self.nodes[nid].get("desc", ""))
        return KERNEL_LAYERS.get((self.name(nid), udf), "unattributed")

    def _is_boundary(self, nid: int) -> bool:
        return self.name(nid) in ("Exchange", "BroadcastExchange",
                                  "ReusedExchange")

    def _down(self, nid: int, cross: bool) -> str | None:
        """Nearest python node below ``nid`` (breadth first); with
        ``cross=False`` the search stays within ``nid``'s own stage."""
        frontier = list(self.children.get(nid, []))
        while frontier:
            nxt = []
            for c in frontier:
                if self.layer_of(c):
                    return self.layer_of(c)
                if cross or not self._is_boundary(c):
                    nxt.extend(self.children.get(c, []))
            frontier = nxt
        return None

    def _up(self, nid: int) -> str | None:
        p = self.parent.get(nid)
        while p is not None:
            if self.layer_of(p):
                return self.layer_of(p)
            p = self.parent.get(p)
        return None

    def exchange_layer(self, nid: int) -> str:
        return self._up(nid) or self._down(nid, cross=True) or "unattributed"

    def producer_layer(self, nid: int) -> str:
        """Layer of the stage that writes exchange ``nid``."""
        return self._down(nid, cross=False) or self.exchange_layer(nid)

    def root_layer(self) -> str:
        return (self.layer_of(self.root) or self._down(self.root, cross=False)
                or self._down(self.root, cross=True) or "unattributed")

    def exchanges(self) -> list[int]:
        return [n for n in self.nodes if self.name(n) == "Exchange"]

    def rows_in(self, nid: int) -> float:
        """Rows fed to python node ``nid``: per input, the nearest node
        below that counts rows (output rows, or an exchange's rows
        read)."""
        total = 0.0
        for c in self.children.get(nid, []):
            frontier = [c]
            while frontier:
                n = frontier.pop(0)
                m = self.metrics(n)
                if "number of output rows" in m:
                    total += parse_metric(m["number of output rows"])
                    break
                if "records read" in m:
                    total += parse_metric(m["records read"])
                    break
                frontier.extend(self.children.get(n, []))
        return total


def stage_layers(plans: list[Plan], stages: list[dict]) -> dict[int, str]:
    """``{stage_id: layer}`` for the stages of the given plans."""
    out: dict[int, str] = {}
    unmatched: list[tuple[Plan, int]] = []
    for plan in plans:
        for ex in plan.exchanges():
            ids = set()
            for k, v in plan.metrics(ex).items():
                if k in _WRITE_METRICS:
                    ids |= stage_ids_in(v)
            if ids:
                for sid in ids:
                    out[sid] = plan.producer_layer(ex)
            else:
                unmatched.append((plan, ex))
    # single-task stages print no stage id: match them by the exact
    # record count they wrote
    for st in stages:
        if st["stageId"] in out:
            continue
        for k, (plan, ex) in enumerate(unmatched):
            written = plan.metric(ex, "shuffle records written")
            if st.get("shuffleWriteRecords") and \
                    st["shuffleWriteRecords"] == written:
                out[st["stageId"]] = plan.producer_layer(ex)
                unmatched.pop(k)
                break
    # result stages (no shuffle write) run the top of their plan
    for st in stages:
        if st["stageId"] not in out and not st.get("shuffleWriteRecords") \
                and plans:
            out[st["stageId"]] = plans[-1].root_layer()
    return out


def fold(jobs: list[dict], stages: list[dict], executions: list[dict],
         run: str, out_px: int) -> dict[str, float]:
    """Per-layer metrics of one traced call whose job groups start with
    ``run + ":"``; ``out_px`` is output pixels x t-slices."""
    by_group: dict[str, list[dict]] = {}
    for j in jobs:
        g = j.get("jobGroup") or ""
        if g.startswith(run + ":"):
            by_group.setdefault(g.split(":", 1)[1], []).append(j)
    plan_jobs = by_group.get("plan", [])
    exec_jobs = by_group.get("exec", [])
    all_jobs = [j for js in by_group.values() for j in js]
    stage_of = {}
    for st in stages:
        if st.get("status") == "COMPLETE":
            stage_of.setdefault(st["stageId"], []).append(st)
    job_stage_ids = {s for j in all_jobs for s in j["stageIds"]}
    ran = [st for s in sorted(job_stage_ids) for st in stage_of.get(s, [])]

    grid_jobs = [j for j in plan_jobs if "/gridmapping/" in j.get("name", "")]
    out: dict[str, float] = {
        "operators.spatial.plan_jobs": float(len(plan_jobs)),
        "gridmapping.plan_jobs": float(len(grid_jobs)),
        "gridmapping.plan_jobs_s": sum(job_seconds(j) for j in grid_jobs),
        "spark.jobs": float(len(all_jobs)),
        "spark.stages": float(len(ran)),
        "spark.tasks": float(sum(st.get("numCompleteTasks", 0)
                                 for st in ran)),
    }

    exec_job_ids = {j["jobId"] for j in exec_jobs}
    plans = [Plan(e) for e in sorted(executions, key=lambda e: e["id"])
             if exec_job_ids & set(e.get("successJobIds", []))]
    exec_stage_ids = {s for j in exec_jobs for s in j["stageIds"]}
    exec_stages = [st for s in sorted(exec_stage_ids)
                   for st in stage_of.get(s, [])]
    layers = stage_layers(plans, exec_stages)

    acc = {op: dict.fromkeys((m for m, _u in OPERATOR_METRICS), 0.0)
           for op in OPERATORS}
    for st in exec_stages:
        a = acc.get(layers.get(st["stageId"], ""))
        if a is None:
            continue
        a["shuffle_write_mb"] += st.get("shuffleWriteBytes", 0) / MB
        a["shuffle_write_records"] += st.get("shuffleWriteRecords", 0)
        a["shuffle_read_mb"] += st.get("shuffleReadBytes", 0) / MB
        a["fetch_wait_s"] += st.get("shuffleFetchWaitTime", 0) / 1e3
        a["spill_mb"] += st.get("diskBytesSpilled", 0) / MB
        a["task_run_s"] += st.get("executorRunTime", 0) / 1e3
        a["task_cpu_s"] += st.get("executorCpuTime", 0) / 1e9
        a["jvm_gc_s"] += st.get("jvmGcTime", 0) / 1e3
        a["peak_exec_mem_mb"] = max(
            a["peak_exec_mem_mb"], st.get("peakExecutionMemory", 0) / MB)
    scatter_rows = 0.0
    for plan in plans:
        for ex in plan.exchanges():
            a = acc.get(plan.exchange_layer(ex))
            if a is not None:
                a["exchanges"] += 1
        for nid in plan.nodes:
            layer = plan.layer_of(nid)
            a = acc.get(layer or "")
            if a is None:
                continue
            rows = plan.metric(nid, "number of output rows")
            a["kernel_rows_out"] += rows
            a["kernel_rows_in"] += plan.rows_in(nid)
            a["to_python_mb"] += plan.metric(
                nid, "data sent to Python workers") / MB
            a["from_python_mb"] += plan.metric(
                nid, "data returned from Python workers") / MB
            if udf_name(plan.nodes[nid].get("desc", "")) == "scatter_kernel":
                scatter_rows += rows
    for op, a in acc.items():
        a["shuffle_bytes_per_out_px"] = a["shuffle_write_mb"] * MB / out_px
        for m, v in a.items():
            out[f"{op}.{m}"] = float(v)
    out["operators.rectify.candidates_per_out_px"] = scatter_rows / out_px
    return out


def run_job_ids(jobs: list[dict], run: str) -> set[int]:
    return {j["jobId"] for j in jobs
            if (j.get("jobGroup") or "").startswith(run + ":")}


def unattributed_kernels(executions: list[dict], jobs: list[dict],
                         run: str) -> list[str]:
    """UDF names of the run's python nodes that ``KERNEL_LAYERS`` does
    not know (a renamed kernel shows up here)."""
    ids = run_job_ids(jobs, run)
    plans = [Plan(e) for e in executions
             if ids & set(e.get("successJobIds", []))]
    return sorted({udf_name(p.nodes[n].get("desc", "")) or p.name(n)
                   for p in plans for n in p.nodes
                   if p.layer_of(n) == "unattributed"})


def _get(url: str):
    with urllib.request.urlopen(url, timeout=60) as r:
        return json.load(r)


def fetch(spark, run: str) -> tuple[list[dict], list[dict], list[dict]]:
    """``(jobs, stages, executions)`` of the live application.  The
    nodes of the executions that ran jobs of ``run`` get their ``desc``
    from the SQL status store, since the REST documents carry only node
    names."""
    sc = spark.sparkContext
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
    jobs = _get(f"{base}/jobs")
    stages = _get(f"{base}/stages")
    executions = _get(f"{base}/sql?details=true&planDescription=false"
                      "&length=100000")
    ids = run_job_ids(jobs, run)
    store = spark._jsparkSession.sharedState().statusStore()
    for e in executions:
        if not ids & set(e.get("successJobIds", [])):
            continue
        nodes = store.planGraph(e["id"]).allNodes()
        desc = {}
        for k in range(nodes.size()):
            n = nodes.apply(k)
            desc[n.id()] = n.desc()
        for n in e["nodes"]:
            n["desc"] = desc.get(n["nodeId"], "")
    return jobs, stages, executions
