"""Benchmark runner for the streaming de-identification engine.

    python3 perfbench/run.py --workload deid_stream --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Builds a Spark session on local[<cpus>],
generates the workload's inputs from the seed, measures for ``--seconds``
seconds, checks the outputs, and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the workload
with the per-layer instrumentation on and reports the per-layer metrics,
writing every span to ``.bench_out/``. Scratch files go to ``.bench_work/``
and cached oracle results to ``.bench_cache/``, all inside the checkout.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "dlp_dataflow_deidentification_spark"
WORKLOAD_NAMES = ("deid_stream", "sessions_drain", "batch_operators")
END_TO_END = {
    "latency_ms_p50": "ms",
    "rows_per_s": "1/s",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}

# every per-layer metric; a workload reports 0 for a layer it does not use
# (batch_operators' per-query layers go to the trace file only)
PER_LAYER = {
    "plans.compile_ms": "ms",
    "sources.latest_offset_ms_p50": "ms",
    "sources.get_batch_ms_p50": "ms",
    "sources.files_per_batch_p50": "count",
    "sources.backlog_files_max": "count",
    "feeder.lag_ms_p95": "ms",
    "drain.batch_ms_p50": "ms",
    "trickle.batch_ms_p50": "ms",
    "trickle.rows_per_s": "1/s",
    "streaming.batches": "count",
    "streaming.batch_ms_p50": "ms",
    "streaming.query_planning_ms_p50": "ms",
    "streaming.add_batch_ms_p50": "ms",
    "streaming.wal_commit_ms_p50": "ms",
    "streaming.commit_offsets_ms_p50": "ms",
    "sink.call_ms_p50": "ms",
    "commitlog.commit_ms_p50": "ms",
    "sink.rows_committed": "count",
    "sink.deadletter_rows": "count",
    "operators.deidentify_s": "s",
    "stateful.assemble_s": "s",
    "state.rows_total_end": "count",
    "state.memory_bytes_max": "B",
    "state.commit_ms_p50": "ms",
    "state.update_ms_p50": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.fetch_wait_ms": "ms",
    "spark.spill_bytes": "B",
    "python.run_ms": "ms",
    "python.bytes_sent": "B",
    "python.bytes_received": "B",
    "host.busy_cpu_s": "s",
    "host.steal_cpu_s": "s",
    "latency_ms_p95": "ms",
    "latency_samples": "count",
    "trace.rows_per_s": "1/s",
    "trace.latency_ms_p50": "ms",
    "trace.top_span_coverage": "ratio",
}


def _missing_program() -> str | None:
    for rel in (PACKAGE, "__spark_entry__.py", os.path.join("configs", "deid_transcripts.json")):
        if not os.path.exists(os.path.join(ROOT, rel)):
            return rel
    return None


def build_spark(work: str, cpus: int):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "1g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        # a fixed, pre-touched heap: its resident size no longer depends on
        # when G1 chose to grow it, so peak_rss_mb moves only with memory
        # outside the heap (native, off-heap, Python)
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms1g -XX:+AlwaysPreTouch",
        )
        # keep every stage and SQL execution of a run for the traced read-out
        .config("spark.ui.retainedStages", "100000")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.sql.ui.retainedExecutions", "100000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = _missing_program()
    if missing:
        print(f"perfbench: {missing} not found under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # everything Spark, its Python workers and tempfile write stays in the
    # checkout; the workers import the package from it
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path[:0] = [ROOT, HERE]

    import tracing as tr
    import workloads

    tracer = tr.Tracer()
    proc_start = tr.process_start_time()
    tracer.spans.append(tr.Span("startup", proc_start, end=time.time()))
    cpu0 = tr.proc_stat_cpu()
    spark = None
    try:
        with tr.RssSampler() as rss:
            with tracer.span("setup"):
                with tracer.span("spark.session"):
                    spark = build_spark(work, len(os.sched_getaffinity(0)))
                session_s = time.time() - proc_start
                listener = tr.ProgressListener()
                spark.streams.addListener(listener)
            bench = workloads.Bench(spark, tracer, listener, args.seed, args.seconds, work,
                                    bool(args.trace))
            result = workloads.WORKLOADS[args.workload](bench, session_s)
            with tracer.span("teardown"):
                spark.streams.removeListener(listener)
                layers = dict(result.layers)
                if args.trace:
                    layers.update(_trace_layers(tracer, spark, proc_start))
                stop_spark(spark)
                spark = None
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    cpu1 = tr.proc_stat_cpu()

    parts = result.setup_parts
    setup_s = parts["session_s"] + tr.median_of(parts["repeatable_s"]) + parts["warmup_s"]
    from checks import percentile, percentile_supported

    lat = result.latency_ms
    e2e = {
        "latency_ms_p50": percentile(lat, 50),
        "rows_per_s": result.rows_per_s,
        "peak_rss_mb": rss.peak_kb / 1024.0,
        "setup_s": setup_s,
    }
    if args.trace:
        layers.update(
            {
                "host.busy_cpu_s": cpu1["busy"] - cpu0["busy"],
                "host.steal_cpu_s": cpu1["steal"] - cpu0["steal"],
                "latency_samples": len(lat),
                "latency_ms_p95": (
                    percentile(lat, 95) if percentile_supported(len(lat), 95) else 0.0
                ),
                "trace.rows_per_s": e2e["rows_per_s"],
                "trace.latency_ms_p50": e2e["latency_ms_p50"],
            }
        )
        os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
        tracer.dump(
            os.path.join(ROOT, ".bench_out", f"trace-{args.workload}-{args.seed}.json"),
            {
                "workload": args.workload,
                "seed": args.seed,
                "layers": layers,
                "end_to_end": e2e,
                "peak_rss_kb": rss.by_command(),
                # what every micro-batch did: rows, durations, state
                "progress": [
                    {k: p.get(k) for k in ("runId", "batchId", "timestamp", "numInputRows",
                                           "durationMs", "stateOperators")}
                    for p in listener.progress
                ],
            },
        )
        metrics = {name: {"value": float(layers.get(name, 0.0)), "unit": unit}
                   for name, unit in PER_LAYER.items()}
    else:
        metrics = {name: {"value": float(e2e[name]), "unit": unit}
                   for name, unit in END_TO_END.items()}
    print(f"perfbench: peak RSS kB by command {rss.by_command()}", file=sys.stderr)
    if not result.valid:
        print("perfbench: backlog grew over the open-loop run; the offered rate was "
              "not sustained", file=sys.stderr)
    print(json.dumps({
        "correct": result.failed == 0 and result.valid,
        "attempted": int(result.attempted),
        "failed": int(result.failed),
        "metrics": metrics,
    }))
    return 0


def _trace_layers(tracer, spark, proc_start: float) -> dict:
    """Spark counters over the measured interval and span accounting."""
    from tracing import SparkCounters

    measure = [s for s in tracer.spans if s.name == "measure"]
    layers = {}
    if measure:
        layers.update(SparkCounters(spark).window(measure[0].start, measure[0].end))
    top = [i for i, s in enumerate(tracer.spans) if s.parent is None]
    now = time.time()
    covered = sum((tracer.spans[i].end or now) - tracer.spans[i].start for i in top)
    layers["trace.top_span_coverage"] = covered / (now - proc_start)
    return layers


if __name__ == "__main__":
    sys.exit(main())
