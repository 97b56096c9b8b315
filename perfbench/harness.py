"""Run one workload: set up, time passes (or trace them), check the
outputs, and turn what was measured into named metrics."""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

import pyarrow.parquet as pq
from pyspark import SparkContext

from big_data_code_spark.plans.registry import ORACLES
from big_data_code_spark.session import get_spark

import staging
from oracle import Oracle
from spans import ProgressListener, SparkCounters, Tracer, self_times, streaming_metrics
from workloads import WORKLOADS

#: heap of the Spark driver JVM (local mode runs the executors in it)
DRIVER_MEM = "2g"

LAYERS = ("bench", "sources", "plans", "exec", "streaming", "serving", "cacheutil")

#: unit of every metric either mode prints
UNITS = {
    "setup_s": "s", "pass_s": "s", "peak_rss_mb": "MB",
    "session.start_s": "s", "session.warm_s": "s",
    "sources.ingest_s": "s", "sources.ingest_files": "count", "sources.write_amp": "ratio",
    "sources.snapshot_s": "s", "sources.consolidate_s": "s", "sources.read_snapshot_s": "s",
    "plans.construct_s": "s", "plans.construct_jobs": "count",
    "exec.run_s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.executor_run_s": "s", "exec.executor_cpu_s": "s", "exec.gc_s": "s",
    "exec.input_mb": "MB", "exec.shuffle_read_mb": "MB", "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB", "exec.driver_share": "ratio",
    "streaming.triggers": "count", "streaming.empty_triggers": "count",
    "streaming.add_batch_ms": "ms", "streaming.wal_commit_ms": "ms",
    "streaming.state_commit_ms": "ms", "streaming.state_rows": "count",
    "streaming.trigger_p50_ms": "ms", "streaming.trigger_max_ms": "ms",
    "serving.export_s": "s", "serving.export_files": "count",
    "cacheutil.released_frames": "count", "cacheutil.storage_mb_after": "MB",
    "cacheutil.storage_mb_growth": "MB", "cacheutil.live_sinks_after": "count",
    "cacheutil.sink_growth": "count",
    "trace.wall_s": "s", "trace.self_sum_s": "s", "trace.overhead_s": "s",
    **{f"self.{layer}_s": "s" for layer in LAYERS},
}
END_TO_END = ("setup_s", "pass_s", "peak_rss_mb")
PER_LAYER = tuple(k for k in UNITS if k not in END_TO_END)

class Context:
    """What the workloads share: session, tracer, inputs, oracle."""

    def __init__(self, spark, tracer, sf_dir, work, seed, oracle, events_rows):
        self.spark, self.tracer, self.sf_dir, self.work = spark, tracer, sf_dir, work
        self.seed, self.oracle, self.events_rows = seed, oracle, events_rows
        self.released = 0


def isolate(work: str) -> None:
    """Keep every scratch file of the program, Spark and DuckDB under
    ``work``. Must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    props = [
        f"-Djava.io.tmpdir={tmp}",
        # A fixed heap, young generation and marking threshold: with
        # G1's adaptive sizing the JVM's peak RSS swung by a fifth
        # between identical runs; like this, by a few percent.
        f"-Xms{DRIVER_MEM}",
        "-Xmn256m",
        "-XX:-G1UseAdaptiveIHOP",
        # C1 only: with C2 the JIT kept compiling for ~10 passes (~40 s),
        # so pass walls fell by a third over any run the budget allows
        # and a slower host, timing fewer passes, read slower still.
        # Under C1 the CPU time of a pass is flat from the second on.
        "-XX:TieredStopAtLevel=1",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"-Dderby.system.home={work}",
        "-Dspark.ui.showConsoleProgress=false",
        "-Dspark.ui.retainedJobs=5000",
        "-Dspark.ui.retainedStages=10000",
    ]
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join([os.environ.get("SPARK_SUBMIT_OPTS", ""), *props]).strip()
    # every JVM, spark-submit's launcher too: no /tmp/hsperfdata_<user> file
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def jvm_pids(root: int) -> list[int]:
    """java processes at or below ``root`` in the process tree."""
    kids: dict[int, list[int]] = {}
    comm: dict[int, str] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        name, rest = stat[stat.index("(") + 1 : stat.rindex(")")], stat[stat.rindex(")") + 2 :]
        comm[int(d)] = name
        kids.setdefault(int(rest.split()[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        if comm.get(p) == "java":
            out.append(p)
        todo.extend(kids.get(p, []))
    return out


def peak_rss_mb() -> float:
    """Peak RSS (VmHWM) of this Python driver plus the Spark JVM."""
    gw = SparkContext._gateway
    return vm_hwm_mb("self") + sum(vm_hwm_mb(p) for p in jvm_pids(gw.proc.pid))


def live_sinks(spark) -> int:
    return sum(1 for t in spark.catalog.listTables() if t.name.startswith("sink_"))


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = gw.proc
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def run_workload(
    workload: str,
    seed: int,
    seconds: float,
    trace: bool,
    work: str,
    src_dir: str,
    trace_out: str | None = None,
    oracle_sql: dict | None = None,
) -> dict:
    """Set up, measure and check one workload; returns the result
    (``correct``, ``attempted``, ``failed``, ``metrics``) plus the
    failure notes under ``failures``."""
    t_setup = time.perf_counter()
    sf_dir = os.path.join(work, f"in_{workload}_s{seed}_{os.getpid()}")
    staging.stage_tables(src_dir, sf_dir, seed)
    events_rows = pq.ParquetFile(os.path.join(sf_dir, "events.parquet")).metadata.num_rows

    t = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - t
    try:
        tracer = Tracer()
        oracle = Oracle(sf_dir, os.path.join(work, "tmp"), oracle_sql or ORACLES)
        ctx = Context(spark, tracer, sf_dir, work, seed, oracle, events_rows)
        counters = listener = None
        if trace:
            counters = SparkCounters(spark)
            tracer.counters = counters
            listener = ProgressListener()
            spark.streams.addListener(listener)
        wl = WORKLOADS[workload](ctx)
        wl.setup()
        t = time.perf_counter()
        wl.warm()
        warm_s = time.perf_counter() - t
        setup_s = time.perf_counter() - t_setup

        if trace:
            ops, metrics, dump = traced_passes(ctx, wl, counters, listener)
            metrics.update({"session.start_s": start_s, "session.warm_s": warm_s})
        else:
            ops, walls = [], []
            t_run = time.perf_counter()
            while not walls or time.perf_counter() - t_run < seconds:
                t = time.perf_counter()
                ops += wl.run_pass(len(walls) + 1)
                walls.append(time.perf_counter() - t)
            print("pass walls (s): " + " ".join(f"{w:.3f}" for w in walls), file=sys.stderr)
            metrics = {
                "setup_s": setup_s,
                "pass_s": statistics.median(walls),
                "peak_rss_mb": peak_rss_mb(),
            }

        failures = []
        for op in ops:
            note = op.error
            if note is None:
                try:
                    note = wl.check(op)
                except Exception as e:  # a check that cannot run is a failure
                    note = f"check raised {type(e).__name__}: {e}"
            if note is not None:
                failures.append(f"{op.name} (pass {op.pass_no}): {note}")
        if trace and trace_out:
            dump["failures"] = failures
            with open(trace_out, "w") as fh:
                json.dump(dump, fh)
        oracle.close()
    finally:
        stop_spark(spark)

    names = PER_LAYER if trace else END_TO_END
    return {
        "correct": not failures,
        "attempted": len(ops),
        "failed": len(failures),
        "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": UNITS[k]} for k in names},
        "failures": failures,
    }


def traced_passes(ctx, wl, counters, listener):
    """Pass 1 untraced, pass 2 traced; the leak witness compares the
    session state after each. The roots are the pass spans."""
    spark, tracer = ctx.spark, ctx.tracer
    t = time.perf_counter()
    ops = wl.run_pass(1)
    untraced_wall = time.perf_counter() - t
    storage1, sinks1 = counters.storage_mb(), live_sinks(spark)

    ctx.released = 0
    listener.wait_settled()
    n_prog = len(listener.progress)
    job_lo = counters.next_job()
    tracer.enabled = True
    t = time.perf_counter()
    traced = wl.run_pass(2)
    wall = time.perf_counter() - t
    tracer.enabled = False
    job_hi = counters.next_job()
    listener.wait_settled()
    counters.drain()
    ops += traced
    storage2, sinks2 = counters.storage_mb(), live_sinks(spark)

    progress = listener.progress[n_prog:]
    add_trigger_spans(tracer, progress)
    spans = tracer.spans
    st = self_times(spans)
    roots = [s for s in spans if s["parent"] is None]
    by_name = lambda n: [s for s in spans if s["name"] == n]  # noqa: E731
    dur = lambda ss: sum(s["end"] - s["start"] for s in ss)  # noqa: E731

    jobs = counters.jobs(job_lo, job_hi)
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    m = {f"exec.{k}": v for k, v in jobs.items()}
    m.update(streaming_metrics(progress))
    m.update(wl.file_metrics(traced))
    m.update({
        "sources.ingest_s": dur(by_name("sources.ingest")),
        "sources.snapshot_s": dur(by_name("sources.snapshot")),
        "sources.consolidate_s": dur(by_name("sources.consolidate")),
        "sources.read_snapshot_s": dur(by_name("sources.read_snapshot")),
        "plans.construct_s": dur(by_name("plans.construct")),
        "plans.construct_jobs": sum(s["job_hi"] - s["job_lo"] for s in by_name("plans.construct")),
        "exec.run_s": dur([s for s in spans if s["layer"] == "exec"]),
        "exec.driver_share": 1 - jobs["executor_run_s"] / (wall * cores),
        "serving.export_s": dur(by_name("serving.export")),
        "cacheutil.released_frames": ctx.released,
        "cacheutil.storage_mb_after": storage2,
        "cacheutil.storage_mb_growth": storage2 - storage1,
        "cacheutil.live_sinks_after": sinks2,
        "cacheutil.sink_growth": sinks2 - sinks1,
        "trace.wall_s": dur(roots),
        "trace.self_sum_s": sum(st.values()),
        "trace.overhead_s": wall - untraced_wall,
    })
    for layer in LAYERS:
        m[f"self.{layer}_s"] = sum(st[s["id"]] for s in spans if s["layer"] == layer)

    t0 = min((s["start"] for s in spans), default=0.0)
    dump = {
        "workload": wl.name,
        "spans": [{**s, "start": s["start"] - t0, "end": s["end"] - t0, "self": st[s["id"]]} for s in spans],
        "ops": [{"name": op.name, "pass": op.pass_no, "seconds": op.seconds, "error": op.error} for op in ops],
        "progress": progress,
        "jobs": jobs,
        "metrics": m,
    }
    return ops, m, dump


def add_trigger_spans(tracer, progress) -> None:
    """Each micro-batch becomes a ``streaming`` span under the
    builder call it ran inside (streams run during construction)."""
    offset = time.time() - time.perf_counter()
    builders = [s for s in tracer.spans if s["name"] == "plans.construct"]
    for p in progress:
        start = p["start_epoch"] - offset
        end = start + p["duration_ms"].get("triggerExecution", 0) / 1e3
        parent = next((b for b in builders if b["start"] <= start < b["end"]), None)
        if parent is not None:
            tracer.add_span(f"streaming.trigger:{p['query']}", "streaming", parent, start, end)
