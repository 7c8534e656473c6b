#!/usr/bin/env python3
"""Benchmark of the nass_summary_spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. One process runs one
workload on ``local[nproc]``:

1. makes the workload's inputs from ``--seed`` (timed on its own, not
   part of set-up) and its expected outputs;
2. sets up: starts the session and warms the JVM with a parquet read
   (``setup_s``);
3. runs one cold pass, then warm passes for ``--seconds`` seconds (at
   least the workload's minimum);
4. checks every pass's outputs outside the timed window, and reads
   the status REST API between passes.

With ``--trace 0`` it reports the end-to-end metrics: ``setup_s``,
``pass_s`` (median warm pass), ``query_p50_s`` and ``query_p75_s``
(per-operation latency over every pass of the run, the cold one
included: a fresh session pays its first-time costs on every job it
runs, and a warm pass alone gives the pipeline only eight samples)
and ``retained_mb`` (see ``retained_memory``). With ``--trace 1``
the warm passes are traced and it reports the per-layer metrics,
medians over the traced passes; the cold pass's time is
``session.first_pass_s``. A traced run then times one more warm pass
without tracing: ``trace.overhead_s`` is the traced median less that
pass, and the run fails its check if a traced pass runs other actions
than the untraced one.

The last line of stdout is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; everything
else goes to stderr, ending with a ``stamp`` line (nproc, loadavg,
versions, git HEAD). Scratch files live under ``.bench_work/`` in the
checkout, where the full record of the last run of each workload and
tracing mode is kept as ``last_<workload>_trace<0|1>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import socket
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def git_head(root: str) -> str:
    try:
        with open(os.path.join(root, ".git", "HEAD")) as fh:
            ref = fh.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(root, ".git", ref[5:])) as fh:
                return fh.read().strip()
        return ref
    except OSError:
        return "unknown"


def proc_children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == pid:
            out.append(int(entry))
    return out


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class Session:
    """One SparkSession on its own JVM, with the status REST API on."""

    def __init__(self, work: str, cores: int):
        from nass_summary_spark.session import get_spark

        self.port = free_port()
        tmp = os.path.join(work, "jvm-tmp")
        os.makedirs(tmp, exist_ok=True)
        self.spark = get_spark(
            "perfbench",
            master=f"local[{cores}]",
            extra_configs={
                "spark.driver.memory": "2g",
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
                "spark.local.dir": os.path.join(work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                # small inputs: split scans so they parallelize (as bench.py)
                "spark.sql.files.maxPartitionBytes": "4m",
                "spark.sql.files.openCostInBytes": "1m",
                "spark.ui.enabled": "true",
                "spark.ui.port": str(self.port),
                "spark.ui.showConsoleProgress": "false",
                # keep every job, stage and SQL execution of the run
                "spark.ui.retainedJobs": "1000000",
                "spark.ui.retainedStages": "1000000",
                "spark.sql.ui.retainedExecutions": "1000000",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        from pyspark import SparkContext

        self.gateway = SparkContext._gateway
        self.jvm_pid = self.gateway.proc.pid

    def stop(self) -> None:
        """Stop Spark, the JVM and its Python workers; wait for all."""
        from pyspark import SparkContext

        kids = proc_children(self.jvm_pid)
        self.spark.stop()
        self.gateway.shutdown()
        proc = self.gateway.proc
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — a JVM that ignores EOF is killed
            proc.kill()
            proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
        deadline = time.time() + 30
        for pid in kids:
            while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
                time.sleep(0.05)


def retained_memory(spark, jvm_pid: int) -> dict:
    """Memory the Spark driver holds once the work is done: JVM heap still
    live after a full collection (cached relations, broadcasts, plan
    and status state), JVM non-heap in use (metaspace, code cache)
    and this process's peak RSS. The JVM's own high-water RSS is kept
    for the record; it follows the collector's heap sizing more than
    the work, and varies by a fifth between identical runs.

    Blocks of dropped checkpoints and broadcasts are freed in steps:
    Python releases its references, a collection hands the dead
    objects to Spark's cleaner, the cleaner removes their blocks and
    a later collection frees them; so collect in rounds."""
    import gc

    gc.collect()
    jvm = spark.sparkContext._jvm
    for _ in range(3):
        jvm.System.gc()
        time.sleep(0.5)
    jvm.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    heap = mx.getHeapMemoryUsage().getUsed()
    nonheap = mx.getNonHeapMemoryUsage().getUsed()
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return {
        "retained_mb": (heap + nonheap) / 2**20 + py_kb / 1024.0,
        "jvm_heap_live_mb": heap / 2**20,
        "jvm_nonheap_mb": nonheap / 2**20,
        "python_peak_rss_mb": py_kb / 1024.0,
        "jvm_peak_rss_mb": vm_hwm_kb(jvm_pid) / 1024.0,
    }


def quartiles(xs: list[float]) -> tuple[float, float]:
    """(median, 75th percentile)."""
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[1], q[2]


def layer_metrics(wl, p, drained: dict, cores: int) -> dict[str, float]:
    """Per-layer figures of one traced pass."""
    from attribution import (
        covered, driver_jobs, job_intervals, jobs_in, plan_node_counts, stage_totals)

    jobs = drained["jobs"]
    iv = job_intervals(jobs)
    # job counts are of the jobs actions submit, which repeat exactly;
    # the adaptive query-stage jobs' work shows in spark.stages/tasks
    actions = driver_jobs(jobs)

    def spans(name):
        return [s for s in p.spans if s["name"] == name]

    def busy(ss):
        return sum(s["end"] - s["start"] for s in ss)

    def n_jobs(ss):
        return sum(len(jobs_in(actions, s["start"], s["end"])) for s in ss)

    plans = spans("plans")
    st = stage_totals(drained["stages"])
    input_bytes = sum(os.path.getsize(f) for f in wl.input_files)
    plan_s = gap_s = 0.0
    for op in p.ops:
        first = min((a for a, _ in job_intervals(jobs_in(jobs, op.action_start, op.end))),
                    default=op.end)
        plan_s += max(0.0, first - op.action_start)
        gap_s += (op.end - op.action_start) - covered(iv, op.action_start, op.end)
    m = {
        "sources.input_bytes": input_bytes,
        "sources.scan_amplification": st.pop("input_bytes") / input_bytes,
        "sources.write_s": busy(spans("sources.write")),
        "sources.output_bytes": sum(
            os.path.getsize(os.path.join(d, f))
            for path in p.outputs.values()
            for d, _, files in os.walk(path)
            for f in files
        ),
        "plans.build_s": busy(plans),
        "plans.build_self_s": busy(plans)
        - sum(covered(iv, s["start"], s["end"]) for s in plans),
        "plans.build_jobs": n_jobs(plans),
        "plans.py4j_calls": sum(s["py4j"] for s in plans),
        "operators.rollup.build_s": busy(spans("operators.rollup")),
        "operators.rollup.jobs": n_jobs(spans("operators.rollup")),
        "operators.merge.build_s": busy(spans("operators.merge")),
        "spark.plan_s": plan_s,
        "spark.jobs": len(actions),
        "spark.driver_gap_s": gap_s,
        **st,
        "spark.core_util": st["spark.task_s"] / (p.wall * cores),
        **plan_node_counts(drained["sql"]),
    }
    return m


UNITS = {
    "setup_s": "s", "pass_s": "s", "query_p50_s": "s",
    "query_p75_s": "s", "retained_mb": "MB",
}
LAYER_UNITS = {
    "session.start_s": "s", "session.warmup_s": "s", "session.first_pass_s": "s",
    "sources.input_bytes": "bytes", "sources.scan_amplification": "ratio",
    "sources.write_s": "s", "sources.output_bytes": "bytes",
    "plans.build_s": "s", "plans.build_self_s": "s", "plans.build_jobs": "count",
    "plans.py4j_calls": "count",
    "operators.rollup.build_s": "s", "operators.rollup.jobs": "count",
    "operators.merge.build_s": "s",
    "spark.plan_s": "s", "spark.jobs": "count", "spark.stages": "count",
    "spark.driver_gap_s": "s", "spark.task_s": "s", "spark.task_cpu_s": "s",
    "spark.gc_s": "s", "spark.core_util": "ratio", "spark.tasks": "count",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.exchanges": "count", "spark.smj_joins": "count", "spark.bhj_joins": "count",
    "trace.overhead_s": "s",
}


def run(args, work: str, wl) -> dict:
    """One benchmark run of workload ``wl``; returns the result object."""
    cores = len(os.sched_getaffinity(0))
    stamp = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": cores,
        "loadavg_start": list(os.getloadavg()),
        "python": platform.python_version(), "git_head": git_head(ROOT),
    }
    t = time.perf_counter()
    wl.prepare(work, args.seed)
    stamp["gen_s"] = time.perf_counter() - t
    t = time.perf_counter()
    wl.expect()
    stamp["expect_s"] = time.perf_counter() - t
    log(f"inputs generated in {stamp['gen_s']:.2f}s, expectations in {stamp['expect_s']:.2f}s")

    t0 = time.perf_counter()
    sess = Session(work, cores)
    t1 = time.perf_counter()
    spark = sess.spark
    try:
        # warm-up: JVM and a parquet footer read (as bench.py)
        spark.read.parquet(wl.warm_path).count()
        t2 = time.perf_counter()
        import pyspark

        from attribution import Py4jCounter, RestMeter, Spans, action_counts

        stamp["spark"] = pyspark.__version__
        stamp["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
        setup = {"setup_s": t2 - t0, "session.start_s": t1 - t0, "session.warmup_s": t2 - t1}
        log(f"setup {setup['setup_s']:.2f}s")
        out_dir = os.path.join(work, "out")
        meter = RestMeter(spark, sess.port)
        meter.drain()  # set-up jobs
        spans = Spans(Py4jCounter(spark)) if args.trace else None
        failures: list[str] = []
        passes, jobs, actions, per_pass = [], [], [], []

        def one_pass(label, traced):
            p = wl.run_pass(spark, out_dir, spans if traced else None)
            if traced:
                p.spans = spans.take()
            drained = meter.drain()  # outside the timed window
            bad = wl.check(p)
            failures.extend(f"{label}: {b}" for b in bad)
            passes.append(p)
            jobs.append(len(drained["jobs"]))
            actions.append(action_counts(drained))
            if traced:
                per_pass.append(layer_metrics(wl, p, drained, cores))
            log(f"{label}: {p.wall:.2f}s, {len(p.ops)} ops, {jobs[-1]} jobs, {len(bad)} failed")

        # the same pass sequence with and without tracing: one cold
        # pass, then warm passes for the run's seconds
        one_pass("cold pass", traced=False)
        if args.trace:
            wl.instrument(spans)
        t_warm = time.perf_counter()
        try:
            while (len(passes) <= wl.min_warm_passes
                   or time.perf_counter() - t_warm < args.seconds):
                one_pass(f"warm pass {len(passes)}", traced=bool(args.trace))
        finally:
            if spans:
                spans.unwrap()
        cold, warm = passes[0], passes[1:]
        pass_s = statistics.median(p.wall for p in warm)
        if args.trace:
            # the baseline: one more warm pass, untraced; tracing must
            # not change the actions a pass runs
            one_pass("untraced warm pass", traced=False)
            base = passes[-1].wall
            for i, got in enumerate(actions[1:-1], 1):
                if got != actions[-1]:
                    failures.append(f"tracing changed the actions run: warm pass {i} ran "
                                    f"{got} traced, {actions[-1]} untraced")
        stamp.update(
            pass_walls=[p.wall for p in passes], jobs_per_pass=jobs,
            actions_per_pass=actions, pass_s=pass_s,
            op_latencies=[{op.name: op.latency for op in p.ops} for p in passes],
            digests=getattr(wl, "last", None),
        )
        stamp["mem"] = retained_memory(spark, sess.jvm_pid)
    finally:
        sess.stop()
    if not args.trace:
        lat = [op.latency for p in passes for op in p.ops]
        p50, p75 = quartiles(lat)
        stamp["query_samples"] = len(lat)
        metrics = {
            "setup_s": setup["setup_s"],
            "pass_s": pass_s,
            "query_p50_s": p50,
            "query_p75_s": p75,
            "retained_mb": stamp["mem"]["retained_mb"],
        }
    else:
        metrics = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}
        metrics["session.start_s"] = setup["session.start_s"]
        metrics["session.warmup_s"] = setup["session.warmup_s"]
        metrics["session.first_pass_s"] = cold.wall
        stamp["per_pass"] = per_pass
        metrics["trace.overhead_s"] = pass_s - base
        stamp["untraced_pass_s"] = base
    stamp["loadavg_end"] = list(os.getloadavg())
    stamp["failures"] = failures[:50]
    failed = len(failures)
    units = LAYER_UNITS if args.trace else UNITS
    result = {
        "correct": failed == 0,
        "attempted": sum(len(p.ops) for p in passes),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    stamp["result"] = result
    log("stamp " + json.dumps({
        k: stamp.get(k) for k in (
            "workload", "seed", "nproc", "loadavg_start", "loadavg_end", "spark",
            "java", "python", "git_head", "gen_s", "expect_s", "pass_walls", "mem")
    }))
    sidecar = os.path.join(os.path.dirname(work), f"last_{args.workload}_trace{args.trace}.json")
    with open(sidecar, "w") as fh:
        json.dump(stamp, fh, indent=1, default=str)
    return result


def workspace(parent: str, name: str) -> str:
    """A fresh scratch directory for one run. Everything the run
    writes, Spark and its Python workers included, stays inside it."""
    work = os.path.join(parent, f"{name}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    return work


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    if not os.path.isdir(os.path.join(ROOT, "nass_summary_spark")):
        log(f"no nass_summary_spark package under {ROOT}: run from a source checkout")
        return 2
    work = workspace(os.path.join(ROOT, ".bench_work"), args.workload)
    # keep stdout for the result line: the JVM and libraries write to
    # the inherited descriptor, so point it at stderr for the run
    sys.stdout.flush()
    saved = os.dup(1)
    os.dup2(2, 1)
    try:
        result = run(args, work, WORKLOADS[args.workload]())
    finally:
        sys.stdout.flush()
        os.dup2(saved, 1)
        os.close(saved)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
