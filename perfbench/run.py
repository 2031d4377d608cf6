"""Layered benchmark of the public resample path.

Run from the root of a checkout:

    python3 perfbench/run.py --workload rectify_scene --seed 1 \\
        --seconds 20 --trace 0

One process makes one call at a time (a closed loop with one
client) on Spark ``local[N]``, N = the CPUs this process may use, with
N shuffle partitions.  A call is

    build or open the source -> resample_in_space -> materialize

``--trace 0`` times ``--seconds`` / the workload's ``nominal_call_s``
calls (at least ``MIN_CALLS``) and reports the end-to-end metrics as
medians over those calls.  ``--trace 1`` makes half as many pairs of an
untraced and a traced call (at least ``MIN_TRACED``); a traced call gives
each public call its own Spark job group and records spans, and the
per-layer metrics come from the last traced call, folded from Spark's own
job, stage and SQL metrics.  Either way the last line of stdout is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
``--workload all`` runs every workload, each in its own process.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

T_START = time.perf_counter()
ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

MIN_CALLS = 3
MIN_TRACED = 2

END_TO_END = (
    ("wall_s", "s"), ("exec_s", "s"),
    ("out_mpix_per_s", "Mpx/s"), ("cpu_s", "s"),
    ("peak_worker_rss_mb", "MB"), ("peak_jvm_rss_mb", "MB"),
    ("setup_s", "s"),
)


def per_layer_units() -> dict[str, str]:
    from perfbench.sparkfold import OPERATOR_METRICS, OPERATORS

    units = {
        "operators.spatial.plan_s": "s",
        "operators.spatial.plan_jobs": "count",
        "gridmapping.plan_jobs": "count",
        "gridmapping.plan_jobs_s": "s",
        "crs.transform_s": "s",
        "crs.points": "count",
        "dataset.source_s": "s",
        "sources.zarr.open_s": "s",
        "sources.zarr.read_s": "s",
        "sources.zarr.write_s": "s",
        "sources.zarr.bytes_written_mb": "MB",
        "sources.zarr.chunks_written": "count",
        "sources.zarr.bytes_per_out_px": "B/px",
    }
    for op in OPERATORS:
        for m, u in OPERATOR_METRICS:
            units[f"{op}.{m}"] = u
    units["operators.rectify.candidates_per_out_px"] = "count/px"
    units.update({"spark.jobs": "count", "spark.stages": "count",
                  "spark.tasks": "count", "spark.python_workers": "count",
                  "trace.overhead_s": "s"})
    return units


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def start_session(workdir: str):
    """Spark ``local[N]`` whose scratch files stay under ``workdir``."""
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(workdir, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "local")
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from pyspark.sql import SparkSession

    n = str(cpus())
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", n)
        # a fixed, pre-touched heap: a heap that grows, shrinks or gets
        # touched page by page moves the JVM's RSS more than the program
        # does; what is left to move is off-heap (Arrow, netty, code)
        .config("spark.driver.memory", "2g")
        .config("spark.driver.extraJavaOptions",
                f"-Xms2g -XX:+AlwaysPreTouch -Djava.io.tmpdir={workdir}/tmp"
                " -XX:-UsePerfData")
        .config("spark.driver.host", "127.0.0.1")
        .config("spark.driver.bindAddress", "127.0.0.1")
        .config("spark.sql.warehouse.dir", f"{workdir}/warehouse")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM and any python worker it left, and wait
    for each to end."""
    from pyspark import SparkContext

    from perfbench.proctree import snapshot, tree_pids

    left = [p for p in tree_pids(snapshot(), os.getpid()) if p != os.getpid()]
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in left:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            try:
                os.kill(pid, signal.SIGTERM)
            except ProcessLookupError:
                break
            time.sleep(0.1)


def warm_python_workers(spark) -> None:
    """Fork one python worker per core and import pandas/pyarrow in it."""
    n = cpus()

    def ident(batches):
        yield from batches

    spark.range(n, numPartitions=n).mapInPandas(ident, "id long").collect()


def settle(spark) -> None:
    """Collect garbage in this process and in the JVM, so that every call
    starts from the same heap state."""
    gc.collect()
    spark._jvm.System.gc()


def timed_call(w, sampler) -> dict:
    settle(w.spark)
    sampler.start()
    t0 = time.perf_counter()
    src = w.build()
    t1 = time.perf_counter()
    out = w.plan(src)
    t2 = time.perf_counter()
    w.execute(out)
    t3 = time.perf_counter()
    res = sampler.stop()
    res.update(wall_s=t3 - t0, plan_s=t2 - t1, exec_s=t3 - t2,
               out_mpix_per_s=w.out_px / (t3 - t0) / 1e6)
    return res


def traced_call(w, tracer, sampler, run: str, spark) -> tuple[dict, dict]:
    """One call with spans and job groups, then the probes that time a
    layer on its own, then the Spark metric fold.  Returns the metrics
    and the Spark documents they were folded from."""
    from perfbench import sparkfold
    from perfbench.workloads import noop

    source_layer = w.source_layer
    settle(spark)
    sampler.start()
    with tracer.span("call", run):
        with tracer.span(source_layer, run, "build") as s_build:
            src = w.build()
        with tracer.span("operators.spatial", run, "plan") as s_plan:
            out = w.plan(src)
        with tracer.span("materialize", run, "exec") as s_exec:
            w.execute(out)
    proc = sampler.stop()
    m = {"operators.spatial.plan_s": s_plan.duration,
         "spark.python_workers": float(proc["python_workers"]),
         "trace.wall_s": s_exec.end - s_build.start}

    with tracer.span("dataset", run, "probe.source") as s:
        noop(w.source_df(w.build()))
    m["dataset.source_s"] = s.duration
    zarr = dict.fromkeys(
        ("open_s", "read_s", "write_s", "bytes_written_mb",
         "chunks_written", "bytes_per_out_px"), 0.0)
    if source_layer == "sources.zarr":
        size, chunks = w.written()
        zarr.update(open_s=s_build.duration, read_s=s.duration,
                    write_s=s_exec.duration, bytes_written_mb=size / 2 ** 20,
                    chunks_written=float(chunks),
                    bytes_per_out_px=size / w.out_px)
    w.after_call()
    m.update({f"sources.zarr.{k}": v for k, v in zarr.items()})
    m["crs.transform_s"], m["crs.points"] = 0.0, 0.0
    probe = getattr(w, "crs_probe_df", None)
    if probe is not None:
        df, points = probe()
        with tracer.span("crs", run, "probe.crs") as s:
            noop(df)
        m["crs.transform_s"], m["crs.points"] = s.duration, float(points)

    jobs, stages, executions = sparkfold.fetch(spark, run)
    m.update(sparkfold.fold(jobs, stages, executions, run, w.out_px))
    unknown = sparkfold.unattributed_kernels(executions, jobs, run)
    if unknown:
        print(f"warning: kernels with no layer: {unknown}", file=sys.stderr)
    return m, {"run": run, "jobs": jobs, "stages": stages,
               "executions": executions}


def report(workload: str, seed: int, metrics: dict, units: dict,
           samples: dict, correct: bool, attempted: int, failed: int) -> None:
    print(f"# {workload} seed={seed} local[{cpus()}] "
          f"attempted={attempted} failed={failed} correct={correct}")
    for name, value in metrics.items():
        print(f"  {name:<46} {value:>14.6g} {units[name]:<9}"
              f" {samples.get(name, '')}")
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }))


def run_all(args) -> int:
    from perfbench.workloads import WORKLOADS

    rc = 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        rc |= subprocess.run(cmd, check=False).returncode
    return rc


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "xcube_resampling_spark",
                                       "__init__.py")):
        print("error: run from the root of a checkout of the program "
              "(no xcube_resampling_spark/ here)", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    from perfbench.workloads import WORKLOADS, CheckFailed

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)} or all", file=sys.stderr)
        return 2

    from perfbench.proctree import TreeSampler, host_ticks
    from perfbench.trace import Tracer

    outdir = os.path.join(ROOT, ".perfbench")
    workdir = os.path.join(outdir, f"work-{os.getpid()}")
    os.makedirs(workdir, exist_ok=True)
    phases = {"imports": time.perf_counter() - T_START}
    spark = start_session(workdir)
    phases["session"] = time.perf_counter() - T_START
    try:
        warm_python_workers(spark)
        phases["workers"] = time.perf_counter() - T_START
        w = WORKLOADS[args.workload](spark, args.seed, workdir)
        w.setup()
        phases["fixture"] = time.perf_counter() - T_START
        attempted, failed = 1, 0
        # the first call (untimed; it pays codegen) is the output check
        try:
            print(f"# check: ok ({w.checked_call()})")
        except CheckFailed as e:
            failed += 1
            print(f"# check: FAILED ({e})")
        phases["check"] = time.perf_counter() - T_START
        # then discarded calls until the JIT has compiled the hot paths,
        # so that every timed call is on the plateau, not on the slope
        sampler = TreeSampler()
        for _ in range(w.warmup_calls):
            attempted += 1
            try:
                timed_call(w, sampler)
                w.after_call()
            except Exception as e:  # counted as failed, like a timed call
                failed += 1
                print(f"# warm-up call failed: {e!r}", file=sys.stderr)
        setup_s = time.perf_counter() - T_START
        phases[f"{w.warmup_calls} warm-up calls"] = setup_s
        print("# set-up, cumulative s: " + ", ".join(
            f"{k} {v:.2f}" for k, v in phases.items()))

        tracer = Tracer(spark if args.trace else None)
        calls, traced, errors = [], [], []
        # a call count fixed by --seconds, not a deadline: calls keep
        # getting faster as the JIT warms up, so every run must take its
        # median at the same point of that curve
        n_calls = max(MIN_CALLS, int(args.seconds / w.nominal_call_s))
        if args.trace:
            n_calls = max(MIN_TRACED, int(
                args.seconds / (2 * w.nominal_call_s)))

        steal0 = host_ticks()
        k = 0
        while len(traced if args.trace else calls) < n_calls:
            try:
                # traced runs alternate which call of a pair goes first,
                # so that neither gets the later, warmer slot every time
                order = [False, True] if args.trace else [False]
                for traced_now in order[::-1] if k % 2 else order:
                    attempted += 1
                    if traced_now:
                        run = f"{args.workload}.seed{args.seed}.call{k}"
                        m, spark_docs = traced_call(w, tracer, sampler, run,
                                                    spark)
                        traced.append(m)
                    else:
                        calls.append(timed_call(w, sampler))
                        w.after_call()
            except Exception as e:  # a failing call is counted, not fatal
                failed += 1
                errors.append(repr(e))
                print(f"# call failed: {e!r}", file=sys.stderr)
                if len(errors) >= MIN_CALLS:
                    break
            k += 1
        steal1 = host_ticks()
        total = steal1[1] - steal0[1]
        if total > 0:
            print(f"# host steal during the timed calls: "
                  f"{100.0 * (steal1[0] - steal0[0]) / total:.1f} % of "
                  f"all CPU time")
        if not (traced if args.trace else calls):
            print("error: no call completed", file=sys.stderr)
            return 1
        tracer.dump(os.path.join(
            outdir, f"spans-{args.workload}-seed{args.seed}.json"))
        if args.trace:
            with open(os.path.join(outdir, f"spark-{args.workload}-seed"
                                   f"{args.seed}.json"), "w") as f:
                json.dump(spark_docs, f)
    finally:
        stop_session(spark)
        shutil.rmtree(workdir, ignore_errors=True)

    n = len(calls)
    if args.trace:
        units = per_layer_units()
        last = traced[-1]
        overhead = (statistics.median([t["trace.wall_s"] for t in traced])
                    - statistics.median([c["wall_s"] for c in calls]))
        metrics = {k: float(last.get(k, 0.0)) for k in units}
        metrics["trace.overhead_s"] = overhead
        samples = {k: f"(last of {len(traced)} traced calls)" for k in units}
        samples["trace.overhead_s"] = (
            f"(median traced - median untraced wall, {len(traced)}+{n} "
            f"calls)")
        print("# self time per layer, last traced call:")
        for layer, s in tracer.self_times(run).items():
            print(f"#   {layer:<20} {s:9.4f} s")
        exact = ("exchanges", "plan_jobs", "chunks_written")
        for key in units:
            if key.endswith(exact) and len({t.get(key) for t in traced}) > 1:
                print(f"# warning: {key} differs between traced calls: "
                      f"{[t.get(key) for t in traced]}", file=sys.stderr)
    else:
        units = dict(END_TO_END)
        metrics = {k: statistics.median([c[k] for c in calls])
                   for k, _u in END_TO_END if k != "setup_s"}
        metrics["setup_s"] = setup_s
        samples = {k: f"(median of {n} calls: " + " ".join(
            f"{c[k]:.4g}" for c in calls) + ")" for k in metrics
            if k != "setup_s"}
        samples["setup_s"] = "(once per run)"
        # plan time alone is too short on some workloads to hold a bound
        # from run to run; it is shown here and bounded only inside wall_s
        print(f"# plan_s, median of {n} calls: "
              f"{statistics.median([c['plan_s'] for c in calls]):.4g} s")
    correct = failed == 0
    report(args.workload, args.seed, metrics, units, samples, correct,
           attempted, failed)
    return 0


if __name__ == "__main__":
    sys.exit(main())
