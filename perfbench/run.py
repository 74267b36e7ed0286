"""Journal benchmark: one workload per run, end-to-end or traced.

    python3 perfbench/run.py --workload client_mixed --seed 1 --seconds 10 --trace 0

Run from the repository root.  A run starts one Spark driver on
``local[<cpus>]`` through ``kafka_journal_spark.session.get_spark``, builds
the workload's inputs from ``--seed`` (``gen.py``), makes as many timed
calls as ``--seconds`` sets (``workloads.py``), checks every answer -- the
journal client against the ``folds.JournalModel`` replay of the generated
actions, the operator pipeline against each query's DuckDB oracle -- and
prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones (below); with
``--trace 1`` the package's entry points are wrapped in spans
(``spans.py``), Spark writes an event log, and the metrics are the
per-layer ones.  The line before the last one is a JSON report with every
sample count, the per-call medians and tails of each call kind and, when
tracing, the per-span table.  Scratch files live in
``.perfbench/run-<pid>/`` and are removed when the run ends.  A wrong
answer or a failed call makes the run exit 1; a tree without the package
makes it exit 2.

End-to-end metrics (every workload):

- ``setup_s``: process start to the first timed call -- Spark session
  start, input generation and encoding, store pre-build and the warm-up
  of the timed calls.  Set-up runs once per run (a second Spark session
  or store pre-build would not fit the run budget); the median over runs
  is the figure to compare.
- ``call_cpu_s``: mean CPU seconds (user + system of this process, the
  JVM and the Python workers) per timed call -- a ``JournalClient``
  pointer, read or append (client_mixed), one forced query
  (operator_pipeline) -- without the CPU of the JVM's JIT compiler
  threads.  After one warm-up pass the JIT still took about a quarter of
  the CPU of a timed call, and how much varied from run to run; it is the
  JVM compiling the program, a cost a long-running driver stops paying.
  The report line gives it per call kind (``jit_p50_s``).

Wall times (median and tail per call kind), throughput, peak RSS, the
error rate and the store's disk bytes per user byte are in the report
line (``issue_metrics``, by name and unit), not in the metrics: on a
shared 4-core host the spread of wall times and peak RSS between runs
reached a quarter to a third of the median, while CPU seconds per call
stayed within about a tenth; disk bytes per user byte has no meaning for
the operator pipeline, which keeps no store (it is the per-layer
``statestore.disk_bytes_per_user_byte``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
WORK_DIR = ".perfbench"


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs) -> dict | None:
    """The highest percentile (of 50, 90, 95, 99, 99.9) that has at least
    ten samples beyond it, with its value and the sample count."""
    ys = sorted(xs)
    best = None
    for p in (50, 90, 95, 99, 99.9):
        beyond = len(ys) - int(len(ys) * p / 100.0)
        if beyond >= 10:
            best = {"p": p, "value": ys[min(len(ys) - 1, int(len(ys) * p / 100.0))], "n": len(ys)}
    return best


# -- metrics -----------------------------------------------------------------

def unit_latencies(workload: str, res) -> list[float]:
    """Wall seconds of the workload's unit of work: a read, a pass over
    the pipeline queries."""
    if workload == "operator_pipeline":
        return res.counters.get("pass_s", [])
    return res.lat.get("read", [])


def throughput(res) -> float:
    """Calls completed per second of the timed window."""
    done = sum(len(v) for v in res.lat.values())
    return done / res.window_s if res.window_s else 0.0


def call_cpu_s(res) -> float:
    """Mean CPU seconds per timed call."""
    cpu = [c for k, v in res.cpu.items() if k != "compact" for c in v]
    return sum(cpu) / len(cpu) if cpu else 0.0


def issue_metrics(workload: str, res, setup_s: float, peak_rss: float) -> dict:
    """The workload's user-facing figures by name and unit, for the report
    line (the contract metrics are on the last line).  read_tail_s is None
    until a run times at least 11 reads."""
    out = {
        "setup_s": (setup_s, "s"),
        "error_rate": (res.failed / max(1, res.attempted), "ratio"),
        "peak_rss_mb": (peak_rss, "MB"),
    }
    if workload == "client_mixed":
        for kind in ("read", "append", "pointer"):
            out[f"{kind}_p50_s"] = (median(res.lat.get(kind, [])), "s")
        out["read_tail_s"] = (tail(res.lat.get("read", [])), "s")
        if "compact" in res.lat:
            out["compact_s"] = (res.lat["compact"][0], "s")
        out["disk_bytes_per_user_byte"] = (res.counters["store_bytes"] / max(1, res.user_bytes), "ratio")
    else:
        out["pipeline_s"] = (median(res.counters.get("pass_s", [])), "s")
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}


def end_to_end(res, setup_s: float) -> dict:
    return {
        "setup_s": (setup_s, "s"),
        "call_cpu_s": (call_cpu_s(res), "s"),
    }


def per_layer(tracer, res, rss_growth: float) -> dict:
    """Per-layer metrics of a traced run.  Times are medians per call of
    the wrapped function; a layer the workload does not reach reads 0."""
    from spans import spark_totals
    from workloads import PIPELINE_QUERIES

    def med(name, attr="dur", top=False):
        return median([getattr(s, attr) for s in tracer.named(name, top)])

    c = res.counters
    ops = [s for s in tracer.roots() if s.name.startswith("op.")]
    # spark.* figures are medians per timed call; the traced run's closing
    # compaction has statestore.compact_s of its own
    totals = [spark_totals(s) for s in ops if s.name != "op.compact"]

    def per_op(key):
        return median([t[key] for t in totals])

    def jobs(name):
        return median([spark_totals(s)["jobs"] for s in tracer.named(name, top=True)])

    timed = sum(s.dur for s in ops)
    # the timed wall time: the call loop plus the closing compaction
    window = res.window_s + sum(res.lat.get("compact", []))
    queries = [s for s in ops if s.name[3:] in PIPELINE_QUERIES.values()]
    passes = len(res.counters.get("pass_s", []))
    pipeline = {}
    for layer in PIPELINE_QUERIES:
        pipeline[f"pipeline.{layer}.build_s"] = (med(f"pipeline.{layer}.build"), "s")
        pipeline[f"pipeline.{layer}.exec_s"] = (med(f"pipeline.{layer}.exec"), "s")
    pipeline["pipeline.jobs"] = (
        sum(spark_totals(s)["jobs"] for s in queries) / passes if passes else 0.0, "count",
    )
    return {
        "replicator.batch_s": (med("replicator.batch"), "s"),
        # every child of a batch span is a store call, so its self time
        # is the fold: offset dedup, purge window, summary, checkpoints
        "replicator.fold_self_s": (med("replicator.batch", "self_s"), "s"),
        "replicator.jobs_per_batch": (
            median([spark_totals(b)["jobs"] for b in tracer.named("replicator.batch")]), "count",
        ),
        "replicator.useful_ratio": (median(c.get("useful_ratio", [])), "ratio"),
        "statestore.pointers_s": (med("statestore.pointers"), "s"),
        "statestore.metajournal_segments_s": (med("statestore.metajournal_segments"), "s"),
        "statestore.append_journal_s": (med("statestore.append_journal"), "s"),
        "statestore.upsert_metajournal_s": (med("statestore.upsert_metajournal"), "s"),
        "statestore.upsert_pointers_s": (med("statestore.upsert_pointers"), "s"),
        "statestore.files_written_per_batch": (median(c.get("files_written", [])), "count"),
        "statestore.bytes_written": (sum(c.get("bytes_written", [])), "bytes"),
        "statestore.write_amp": (c.get("write_amp", 0.0), "ratio"),
        "statestore.disk_bytes_per_user_byte": (
            c.get("store_bytes", 0) / max(1, res.user_bytes), "ratio",
        ),
        "statestore.compact_s": (med("statestore.compact"), "s"),
        "statestore.files_live": (c.get("statestore.files_live", 0), "count"),
        "statestore.meta_delta_files": (c.get("statestore.meta_delta_files", 0), "count"),
        "statestore.journal_debt_rows": (c.get("statestore.journal_debt_rows", 0), "count"),
        "statestore.journal_load_s": (med("statestore.journal"), "s"),
        "statestore.metajournal_load_s": (med("statestore.metajournal"), "s"),
        "statestore.read_build_s": (med("statestore.read", "self_s"), "s"),
        "statestore.pointer_s": (med("statestore.pointer"), "s"),
        "recovery.read_with_plan_s": (med("recovery.read_with_plan"), "s"),
        "api.read_s": (med("api.read", top=True), "s"),
        "api.read_self_s": (med("api.read", "self_s", top=True), "s"),
        "api.read_jobs": (jobs("api.read"), "count"),
        "api.append_s": (med("api.append", top=True), "s"),
        "api.append_jobs": (jobs("api.append"), "count"),
        "api.pointer_s": (med("api.pointer", top=True), "s"),
        "api.pointer_jobs": (jobs("api.pointer"), "count"),
        "api.replicate_s": (med("api.replicate", top=True), "s"),
        "api.replicate_jobs": (jobs("api.replicate"), "count"),
        "api.tail_rows": (median(c.get("tail_rows", [])), "count"),
        "spark.tasks": (per_op("tasks"), "count"),
        "spark.executor_run_s": (per_op("executor_run_s"), "s"),
        "spark.executor_cpu_s": (per_op("executor_cpu_s"), "s"),
        "spark.gc_s": (per_op("gc_s"), "s"),
        "spark.shuffle_write_bytes": (per_op("shuffle_write_bytes"), "bytes"),
        "spark.spill_bytes": (per_op("spill_bytes"), "bytes"),
        "spark.no_task_s": (per_op("no_task_s"), "s"),
        **pipeline,
        "driver.rss_growth_mb": (rss_growth, "MB"),
        "trace.span_coverage": (timed / window if window else 0.0, "ratio"),
    }


def span_table(tracer) -> dict:
    """Per span name: calls, and the median per call of duration, self
    time and the Spark totals of ``spans.spark_totals``."""
    from spans import spark_totals

    out = {}
    for n in sorted({s.name for s in tracer.spans}):
        ss = tracer.named(n)
        tot = [spark_totals(s) for s in ss]
        out[n] = {
            "calls": len(ss),
            "dur_s": median([s.dur for s in ss]),
            "self_s": median([s.self_s for s in ss]),
            **{k: median([t[k] for t in tot]) for k in tot[0]},
        }
    return out


# -- main --------------------------------------------------------------------

def _stop_jvm(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "kafka_journal_spark", "__init__.py")):
        print("perfbench: run from a checkout holding kafka_journal_spark/", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, root]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(root, WORK_DIR, f"run-{os.getpid()}")
    os.makedirs(work)
    # a terminated run still stops its JVM and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return run(args, root, work, workloads.WORKLOADS[args.workload])
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's scratch directory is still there


def run(args, root: str, work: str, workload) -> int:
    from proc import rss_mb

    cpus = len(os.sched_getaffinity(0))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    # Spark's block manager, the JVM, DuckDB and Python keep their scratch
    # files inside the run directory
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    submit = (
        "--conf spark.ui.showConsoleProgress=false"
        f" --conf spark.local.dir={tmp} --driver-java-options -Djava.io.tmpdir={tmp}"
    )
    tracer = None
    log_dir = os.path.join(work, "eventlog")
    if args.trace:
        from spans import Tracer, instrument, submit_args

        os.makedirs(log_dir)
        submit += " " + submit_args(log_dir)
        tracer = Tracer()
        instrument(tracer)
    os.environ["PYSPARK_SUBMIT_ARGS"] = submit + " pyspark-shell"

    from kafka_journal_spark.session import get_spark

    spark = get_spark("perfbench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - T_PROCESS
    marks = {}

    def started():
        marks["setup"] = time.perf_counter() - T_PROCESS
        marks["rss_setup"] = rss_mb("VmRSS")

    try:
        res = workload(spark, work, args.seed, args.seconds, tracer, started)
        peak = rss_mb("VmHWM")
        rss_end = rss_mb("VmRSS")
    finally:
        _stop_jvm(spark)

    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "cpus": cpus, "trace": args.trace,
        "calls": {
            k: {
                "n": len(v), "p50_s": median(v), "tail": tail(v), "total_s": sum(v),
                "cpu_p50_s": median(res.cpu[k]), "jit_p50_s": median(res.jit[k]),
            }
            for k, v in res.lat.items()
        },
        "issue_metrics": issue_metrics(args.workload, res, marks["setup"], peak),
        "error_rate": res.failed / max(1, res.attempted),
        "mismatches": res.mismatches[:20],
        "window_s": res.window_s,
        "unit_p50_s": median(unit_latencies(args.workload, res)),
        "disk_bytes_per_user_byte": res.counters.get("store_bytes", 0) / max(1, res.user_bytes),
        "throughput_per_s": throughput(res),
        "peak_rss_mb": peak,
        "setup_phases": {"session_s": session_s, **res.phases},
        "inputs": res.inputs,
        "counters": {k: v for k, v in res.counters.items() if not isinstance(v, list)},
    }
    if tracer is not None:
        from spans import fold_eventlog

        report["eventlog_events"] = fold_eventlog(tracer, log_dir)
        report["spans"] = span_table(tracer)
        metrics = per_layer(tracer, res, rss_end - marks["rss_setup"])
        # the traced run's own unit-call figures: minus the untraced run's,
        # they are the tracing overhead
        metrics["trace.call_p50_s"] = (median(unit_latencies(args.workload, res)), "s")
        metrics["trace.call_cpu_s"] = (call_cpu_s(res), "s")
    else:
        metrics = end_to_end(res, marks["setup"])

    correct = not res.mismatches and not res.failed
    print(json.dumps(report, default=str))
    print(json.dumps({
        "correct": correct,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
