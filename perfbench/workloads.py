"""The benchmark's workloads.

Each workload function takes a ``Bench`` (Spark session, tracer, seed,
run length, work directory) and returns a ``Result``. The package is driven
only through its public functions: ``streaming.jobs.StreamingDeidJob``,
``streaming.jobs.deid_sessions_stream``, ``operators.deidentify.deidentify``,
``streaming.stateful.conversation_assembler``,
``plans.config.DeidTemplate.from_file`` and ``__spark_entry__.queries()`` /
``oracle_sql()``.

A streaming workload is ONE streaming query. Its first micro-batches are the
warm-up (JIT, codegen and class loading settle; they count as set-up), the
rest are timed. How many batches are timed depends only on ``--seconds``, so
both sides of an A/B comparison do the same work: a faster program gets no
extra batches that would change heap growth or the medians.
"""
from __future__ import annotations

import glob
import json
import os
import random
import shutil
import subprocess
import sys
import time
from collections import Counter
from dataclasses import dataclass, field

import numpy as np

import checks
import feeder
import gen
from tracing import (
    ProgressListener,
    SparkCounters,
    Tracer,
    median_of,
    progress_end_time,
    progress_start_time,
)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TEMPLATE = os.path.join(ROOT, "configs", "deid_transcripts.json")

# how many times the repeatable part of set-up (input generation + template
# compile) runs; setup_s reports its median
SETUP_REPEATS = 3

# deid_stream: 250-turn files, at most 40 per micro-batch (10k turns, about
# 1 s on a shared 4-vCPU VM). A burst fills STREAM_WARM_BATCHES warm-up
# batches plus timed batches for STREAM_BURST_SHARE of --seconds; the open
# loop then feeds 20 files/s (5k turns/s, under half the drain capacity on
# that VM) for the rest, so a 20 s run feeds 280 files (p95 needs 200).
# Open-loop batches hold ~15 files, so the 40-file cap never holds the open
# loop back.
STREAM_TURNS_PER_FILE = 250
STREAM_MAX_FILES = 40
STREAM_WARM_BATCHES = 6
STREAM_NOMINAL_BATCH_S = 1.0
STREAM_BURST_SHARE = 0.3
STREAM_FILES_PER_S = 20
STREAM_CONVERSATIONS = 18_000
# sessions_drain: 8k-turn micro-batches, ~2 s each on that VM. 200 ms between
# turns over 6k conversations: a conversation sees a turn every ~20 min, so
# the 30-minute gap splits about one session in five.
SESSIONS_TURNS_PER_FILE = 2_000
SESSIONS_FILES_PER_BATCH = 4
SESSIONS_WARM_BATCHES = 3
SESSIONS_NOMINAL_BATCH_S = 2.0
SESSIONS_CONVERSATIONS = 6_000
SESSIONS_STEP_MS = 200
SESSIONS_BUCKETS = 64
SESSIONS_GAP_MS = 1_800_000
SESSIONS_WATERMARK = "1 minute"
# batch tables: fixed data (the oracle cache stays valid across seeds); the
# seed permutes query order
BATCH_SCALE = 0.03
BATCH_DATA_SEED = 42
BATCH_QUERIES = {
    # query -> the table whose rows it reads
    "inspect_findings": "events",
    "inspect_offsets": "events",
    "text_tokenize_roundtrip": "events",
    "minhash_dedup": "documents",
    "ngram_jaccard": "documents",
    "dedup_clusters": "documents",
    "ivf_topk_indexed": "embeddings",
}


@dataclass
class Bench:
    spark: object
    tracer: Tracer
    listener: ProgressListener
    seed: int
    seconds: float
    work: str
    trace: bool


@dataclass
class Result:
    rows_per_s: float
    latency_ms: list[float]
    # session_s, repeatable_s (one per set-up repeat), warmup_s
    setup_parts: dict
    attempted: int
    failed: int
    valid: bool = True
    layers: dict = field(default_factory=dict)


def _compile_template():
    from dlp_dataflow_deidentification_spark.plans.config import DeidTemplate

    return DeidTemplate.from_file(TEMPLATE)


def _repeat_setup(b: Bench, write_inputs) -> tuple[str, object, list[float], list[float]]:
    """Run input generation + template compile ``SETUP_REPEATS`` times;
    returns (input dir of the last repeat, template, repeat seconds,
    compile ms)."""
    times, compile_ms, template, d = [], [], None, ""
    for k in range(SETUP_REPEATS):
        if d:
            shutil.rmtree(d)
        d = os.path.join(b.work, f"inputs{k}")
        t0 = time.time()
        with b.tracer.span("inputs", repeat=k):
            write_inputs(d)
        with b.tracer.span("plans.compile"):
            t1 = time.time()
            template = _compile_template()
            compile_ms.append((time.time() - t1) * 1000)
        times.append(time.time() - t0)
    return d, template, times, compile_ms


def _fresh(base: str, name: str) -> str:
    path = os.path.join(base, name)
    os.makedirs(path, exist_ok=True)
    return path


def _timed_batches(seconds: float, nominal_batch_s: float) -> int:
    return max(1, round(seconds / nominal_batch_s))


# -- streaming helpers ---------------------------------------------------------------
def batch_files(checkpoint_dir: str) -> dict[str, int]:
    """file name -> micro-batch id, from the file source's offset log."""
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(checkpoint_dir, "sources", "0", "*")):
        if os.path.basename(path).startswith("."):
            continue
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    rec = json.loads(line)
                    out[os.path.basename(rec["path"])] = rec["batchId"]
    return out


def _files_per_batch(checkpoint_dir: str) -> list[int]:
    return list(Counter(batch_files(checkpoint_dir).values()).values())


def _data_batches(b: Bench, q) -> list[dict]:
    """Progress of every micro-batch of ``q`` that read input, in order."""
    last = q.lastProgress["batchId"] if q.lastProgress else 0
    progress = b.listener.wait_for(q.runId, last)
    return sorted((p for p in progress if p.get("numInputRows", 0) > 0),
                  key=lambda p: p["batchId"])


def _batch_ms(progress: list[dict]) -> list[float]:
    """Commit latency of each micro-batch: trigger to commit, in ms."""
    return [p["durationMs"]["triggerExecution"] for p in progress]


def _quick_quartile_rate(progress: list[dict]) -> float:
    """Turns per second of a drain micro-batch at the 25th percentile of
    batch duration. Co-tenants only ever slow a batch down (on a shared
    4-vCPU VM single-thread speed swings by +-15% from one second to the
    next), so the quick quartile tracks the engine's own cost, as best-of-N
    does."""
    ms = checks.percentile(_batch_ms(progress), 25)
    return median_of(p["numInputRows"] for p in progress) * 1000.0 / ms


def _file_latencies(
    progress: list[dict], files: dict[str, int], due: dict[str, float]
) -> list[float]:
    """ms from each file's due time to the end of the micro-batch that
    committed it, in release order."""
    end = {p["batchId"]: progress_end_time(p) for p in progress}
    return [(end[files[n]] - due[n]) * 1000 for n in sorted(due, key=due.get)]


def _progress_layers(progress: list[dict]) -> dict:
    dur = lambda k: median_of(p["durationMs"].get(k, 0) for p in progress)  # noqa: E731
    layers = {
        "streaming.batches": len(progress),
        "streaming.batch_ms_p50": dur("triggerExecution"),
        "streaming.query_planning_ms_p50": dur("queryPlanning"),
        "streaming.add_batch_ms_p50": dur("addBatch"),
        "streaming.wal_commit_ms_p50": dur("walCommit"),
        "streaming.commit_offsets_ms_p50": dur("commitOffsets"),
        "sources.latest_offset_ms_p50": dur("latestOffset"),
        "sources.get_batch_ms_p50": dur("getBatch"),
    }
    ops = [op for p in progress for op in p.get("stateOperators", [])]
    if ops:
        layers["state.rows_total_end"] = ops[-1].get("numRowsTotal", 0)
        layers["state.memory_bytes_max"] = max(op.get("memoryUsedBytes", 0) for op in ops)
        layers["state.commit_ms_p50"] = median_of(op.get("commitTimeMs", 0) for op in ops)
        layers["state.update_ms_p50"] = median_of(op.get("allUpdatesTimeMs", 0) for op in ops)
    return layers


def _split_phases(b: Bench, t_start: float, t_measure: float, t_end: float) -> float:
    """Record the query's warm-up and measured phases as top-level spans;
    returns the warm-up seconds."""
    b.tracer.record("warmup", t_start, t_measure)
    b.tracer.record("measure", t_measure, t_end)
    return t_measure - t_start


# -- deid jobs -----------------------------------------------------------------------
def _timed_deid_job_class():
    """A ``StreamingDeidJob`` whose sinks time every sink call and every
    commit-log commit (traced runs only)."""
    from dlp_dataflow_deidentification_spark.streaming import jobs
    from dlp_dataflow_deidentification_spark.streaming.sink import IdempotentBatchSink

    @dataclass
    class TimedSink(IdempotentBatchSink):
        timings: dict = field(default_factory=dict)

        def __post_init__(self) -> None:
            super().__post_init__()
            log, commit = self.commit_log, self.commit_log.commit

            def timed_commit(batch_id, entry):
                t0 = time.perf_counter()
                commit(batch_id, entry)
                self.timings.setdefault("commit_ms", []).append((time.perf_counter() - t0) * 1000)

            log.commit = timed_commit

        def __call__(self, batch_df, batch_id):
            t0 = time.perf_counter()
            super().__call__(batch_df, batch_id)
            self.timings.setdefault("sink_ms", []).append((time.perf_counter() - t0) * 1000)

    @dataclass
    class TimedDeidJob(jobs.StreamingDeidJob):
        timings: dict = field(default_factory=dict)

        def sink(self):
            return TimedSink(self.output_dir, partition_col=self.partition_output_by,
                             timings=self.timings)

        def error_sink(self):
            if not self.error_output_dir:
                return None
            return TimedSink(self.error_output_dir, timings=self.timings)

    return TimedDeidJob


def _deid_job(b: Bench, template, in_dir: str, max_files: int):
    from dlp_dataflow_deidentification_spark.streaming import jobs

    cls = _timed_deid_job_class() if b.trace else jobs.StreamingDeidJob
    return cls(
        b.spark,
        template,
        in_dir,
        os.path.join(b.work, "out"),
        os.path.join(b.work, "ckpt"),
        max_files_per_trigger=max_files,
        error_output_dir=os.path.join(b.work, "dead"),
    )


def _spark_row_hashes(df, cols) -> np.ndarray:
    from pyspark.sql import functions as F

    t = df.select(F.xxhash64(*cols).alias("h")).toArrow()
    return t.column("h").to_numpy().view(np.uint64)


DEID_KEY = ["conv_id", "turn_idx", "text"]


def _check_deid(b: Bench, template, job) -> tuple[int, int, dict]:
    """(turns attempted, turns failed, sink counts) of a deid stream. A turn
    fails when it is missing from sink ∪ dead-letter or its committed output
    differs from batch ``deidentify`` over the same files."""
    from pyspark.sql import functions as F

    from dlp_dataflow_deidentification_spark.operators.deidentify import deidentify
    from dlp_dataflow_deidentification_spark.streaming.jobs import TRANSCRIPT_SCHEMA
    from dlp_dataflow_deidentification_spark.streaming.sink import IdempotentBatchSink

    with b.tracer.span("check"):
        src = b.spark.read.schema(TRANSCRIPT_SCHEMA).parquet(job.input_dir)
        with b.tracer.span("reference"):
            want_ok = _spark_row_hashes(
                deidentify(src, template).filter(F.col("text").isNotNull()), DEID_KEY
            )
            want_dead = _spark_row_hashes(
                src.filter(F.col("text").isNull()), ["conv_id", "turn_idx"]
            )
        got_ok = _spark_row_hashes(job.sink().read_committed(b.spark), DEID_KEY)
        dead = IdempotentBatchSink(job.error_output_dir)
        got_dead = (
            _spark_row_hashes(dead.read_committed(b.spark), ["conv_id", "turn_idx"])
            if dead.committed_ids()
            else np.zeros(0, np.uint64)
        )
    failed = sum(max(checks.multiset_diff(w, g))
                 for w, g in ((want_ok, got_ok), (want_dead, got_dead)))
    counts = {"sink.rows_committed": len(got_ok), "sink.deadletter_rows": len(got_dead)}
    return len(want_ok) + len(want_dead), failed, counts


def _deid_layers(b: Bench, template, job, timed: list[dict], counts: dict, compile_ms) -> dict:
    layers = {
        **_progress_layers(timed),
        **counts,
        "sink.call_ms_p50": median_of(job.timings.get("sink_ms", [])),
        "commitlog.commit_ms_p50": median_of(job.timings.get("commit_ms", [])),
        "sources.files_per_batch_p50": median_of(_files_per_batch(job.checkpoint_dir)),
        "plans.compile_ms": median_of(compile_ms),
    }
    layers["operators.deidentify_s"] = _time_deidentify(b, template, job.input_dir)
    return layers


def _time_deidentify(b: Bench, template, in_dir: str) -> float:
    """Seconds of batch ``deidentify`` over the stream's files (noop sink)."""
    from dlp_dataflow_deidentification_spark.operators.deidentify import deidentify
    from dlp_dataflow_deidentification_spark.streaming.jobs import TRANSCRIPT_SCHEMA

    with b.tracer.span("operators.deidentify"):
        t0 = time.time()
        src = b.spark.read.schema(TRANSCRIPT_SCHEMA).parquet(in_dir)
        deidentify(src, template).write.format("noop").mode("overwrite").save()
        return time.time() - t0


# -- deid_stream ---------------------------------------------------------------------
def _wait_committed(q, job, n_files: int, deadline: float) -> None:
    """Until ``n_files`` files are in micro-batches that have all finished."""
    while time.time() < deadline:
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        files = batch_files(job.checkpoint_dir)
        lp = q.lastProgress
        if len(files) >= n_files and lp is not None and lp["batchId"] >= max(files.values()):
            return
        time.sleep(0.05)
    raise TimeoutError(f"{n_files} files not committed in time")


def deid_stream(b: Bench, session_s: float) -> Result:
    """One ``StreamingDeidJob`` (processingTime 0) over a watched directory:
    a burst of landed files is drained first (capacity; its first batches
    are the warm-up), then the feeder releases files open-loop (commit
    latency)."""
    n_burst = STREAM_MAX_FILES * (STREAM_WARM_BATCHES + _timed_batches(
        STREAM_BURST_SHARE * b.seconds, STREAM_NOMINAL_BATCH_S
    ))
    n_fed = int(round(STREAM_FILES_PER_S * (1 - STREAM_BURST_SHARE) * b.seconds))
    n_files = n_burst + n_fed
    shape = gen.TranscriptShape(n_files * STREAM_TURNS_PER_FILE, n_files, STREAM_CONVERSATIONS)
    src, template, rep_s, compile_ms = _repeat_setup(
        b, lambda d: gen.write_transcript_files(shape, b.seed, d)
    )
    names = sorted(os.listdir(src))
    staging = _fresh(b.work, "staging")
    for name in names[n_burst:]:
        os.replace(os.path.join(src, name), os.path.join(staging, name))
    watched = _fresh(b.work, "watched")
    job = _deid_job(b, template, watched, STREAM_MAX_FILES)
    log_path = os.path.join(b.work, "feeder.json")
    deadline = time.time() + 4 * b.seconds + 120
    t_start = time.time()
    q = job.start({"processingTime": "0 seconds"})
    try:
        for name in names[:n_burst]:
            os.replace(os.path.join(src, name), os.path.join(watched, name))
        _wait_committed(q, job, n_burst, deadline)
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "feeder.py"), "--src", staging,
             "--dst", watched, "--start", repr(time.time() + 0.5),
             "--interval", repr(1.0 / STREAM_FILES_PER_S), "--log", log_path]
        )
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
            _wait_committed(q, job, n_files, deadline)
        finally:
            if proc.poll() is None:
                proc.kill()
            proc.wait()
    finally:
        q.stop()
    if proc.returncode != 0:
        raise RuntimeError(f"feeder exited with {proc.returncode}")
    progress = _data_batches(b, q)
    t_end = time.time()
    with open(log_path) as f:
        log = json.load(f)
    due = {r["file"]: r["due"] for r in log}
    files = batch_files(job.checkpoint_dir)
    first_fed = min(files[n] for n in due)
    burst = [p for p in progress if p["batchId"] < first_fed][STREAM_WARM_BATCHES:]
    fed = [p for p in progress if p["batchId"] >= first_fed]
    warmup_s = _split_phases(b, t_start, progress_start_time(burst[0]), t_end)
    latencies = _file_latencies(fed, files, due)
    attempted, failed, counts = _check_deid(b, template, job)
    result = Result(
        rows_per_s=_quick_quartile_rate(burst),
        latency_ms=latencies,
        setup_parts={"session_s": session_s, "repeatable_s": rep_s, "warmup_s": warmup_s},
        attempted=attempted,
        failed=failed,
        valid=not checks.backlog_grew(latencies),
    )
    if b.trace:
        result.layers = _deid_layers(b, template, job, burst + fed, counts, compile_ms)
        result.layers.update(
            {
                "feeder.lag_ms_p95": checks.percentile(feeder.lag_ms(log), 95),
                "sources.backlog_files_max": _backlog_max(log, files, fed),
                "drain.batch_ms_p50": median_of(_batch_ms(burst)),
                "trickle.batch_ms_p50": median_of(_batch_ms(fed)),
                "trickle.rows_per_s": n_fed * STREAM_TURNS_PER_FILE
                / (max(progress_end_time(p) for p in fed) - min(due.values())),
            }
        )
    return result


def _backlog_max(log: list[dict], files: dict[str, int], progress: list[dict]) -> int:
    """Most fed files released but not yet taken into a micro-batch,
    sampled at each micro-batch start."""
    released = [r["actual"] for r in log]
    batch_of = [files[r["file"]] for r in log]
    return max(
        sum(t <= progress_start_time(p) for t in released)
        - sum(bid < p["batchId"] for bid in batch_of)
        for p in progress
    )


# -- sessions_drain ------------------------------------------------------------------
FLUSH_FILE = "part-99999.parquet"


def sessions_drain(b: Bench, session_s: float) -> Result:
    from pyspark.sql import functions as F

    from dlp_dataflow_deidentification_spark.operators.deidentify import deidentify
    from dlp_dataflow_deidentification_spark.streaming import jobs
    from dlp_dataflow_deidentification_spark.streaming.stateful import conversation_assembler

    n_batches = SESSIONS_WARM_BATCHES + _timed_batches(b.seconds, SESSIONS_NOMINAL_BATCH_S)
    n_files = n_batches * SESSIONS_FILES_PER_BATCH
    shape = gen.TranscriptShape(
        n_files * SESSIONS_TURNS_PER_FILE, n_files, SESSIONS_CONVERSATIONS,
        step_ms=SESSIONS_STEP_MS,
    )

    def write(d):
        gen.write_transcript_files(shape, b.seed, d)
        # a last file far in the future moves the watermark past every open
        # session, so the stream emits all sessions the batch form emits; a
        # whole number of batches precedes it, so it is a batch of its own
        gen.write_atomic(gen.flush_table(), os.path.join(d, FLUSH_FILE),
                         mtime=gen.BASE_MTIME + n_files)

    in_dir, template, rep_s, compile_ms = _repeat_setup(b, write)
    t_start = time.time()
    jobs.use_rocksdb_state_store(b.spark)
    out = jobs.deid_sessions_stream(
        b.spark, template, in_dir, gap_ms=SESSIONS_GAP_MS, watermark=SESSIONS_WATERMARK,
        max_files_per_trigger=SESSIONS_FILES_PER_BATCH, n_buckets=SESSIONS_BUCKETS,
    )
    ckpt = _fresh(b.work, "ckpt")
    q = (
        out.writeStream.format("memory").queryName("sessions")
        .option("checkpointLocation", ckpt).outputMode("append")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    flush_batch = batch_files(ckpt)[FLUSH_FILE]
    progress = [p for p in _data_batches(b, q) if p["batchId"] != flush_batch]
    t_end = time.time()
    timed = progress[SESSIONS_WARM_BATCHES:]
    warmup_s = _split_phases(b, t_start, progress_start_time(timed[0]), t_end)

    cols = ["conv_id", "n_turns", "n_pii_turns", "first_ms", "last_ms"]
    with b.tracer.span("check"):
        src = b.spark.read.schema(jobs.TRANSCRIPT_SCHEMA).parquet(in_dir).filter(
            F.col("conv_id") != "__flush__"
        )
        with b.tracer.span("reference"):
            t0 = time.time()
            want_pdf = conversation_assembler(
                deidentify(src, template), gap_ms=SESSIONS_GAP_MS, n_buckets=SESSIONS_BUCKETS
            ).select(*cols).toPandas()
            assemble_s = time.time() - t0
        got_pdf = b.spark.table("sessions").filter(F.col("conv_id") != "__flush__") \
            .select(*cols).toPandas()
    want_h, got_h = checks.row_hashes(want_pdf), checks.row_hashes(got_pdf)
    # failed turns: the turns of every session row the stream lost, added or
    # got wrong
    miss = want_pdf["n_turns"][checks.unmatched(want_h, got_h)].sum()
    extra = got_pdf["n_turns"][checks.unmatched(got_h, want_h)].sum()
    layers = {}
    if b.trace:
        layers = {
            **_progress_layers(timed),
            "sources.files_per_batch_p50": median_of(_files_per_batch(ckpt)),
            "stateful.assemble_s": assemble_s,
            "plans.compile_ms": median_of(compile_ms),
            "drain.batch_ms_p50": median_of(_batch_ms(timed)),
            "operators.deidentify_s": _time_deidentify(b, template, in_dir),
        }
    return Result(
        rows_per_s=_quick_quartile_rate(timed),
        latency_ms=_batch_ms(timed),
        setup_parts={"session_s": session_s, "repeatable_s": rep_s, "warmup_s": warmup_s},
        attempted=shape.n_turns,
        failed=int(max(miss, extra)),
        layers=layers,
    )


# -- batch_operators -----------------------------------------------------------------
def batch_operators(b: Bench, session_s: float) -> Result:
    import pyarrow.parquet as pq

    import __spark_entry__ as entry

    data, _, rep_s, compile_ms = _repeat_setup(
        b, lambda d: gen.write_batch_tables(BATCH_SCALE, BATCH_DATA_SEED, d)
    )
    order = list(BATCH_QUERIES)
    random.Random(b.seed).shuffle(order)
    fns = entry.queries()
    errors: dict[str, str] = {}
    got: dict[str, np.ndarray] = {}
    # the warm-up pass collects every result; the results are compared with
    # the oracle after the timed passes
    with b.tracer.span("warmup"):
        t0 = time.time()
        for name in order:
            try:
                got[name] = checks.row_hashes(fns[name](b.spark, data).toArrow())
            except Exception as e:  # a query that raises is a failed operation
                errors[name] = repr(e)
            b.spark.catalog.clearCache()
        warmup_s = time.time() - t0

    passes: list[dict[str, float]] = []
    query_windows: dict[str, list[tuple[float, float]]] = {n: [] for n in order}
    with b.tracer.span("measure"):
        t_end = time.time() + b.seconds
        while not passes or time.time() < t_end:
            times = {}
            for name in order:
                with b.tracer.span("query", query=name) as sp:
                    try:
                        fns[name](b.spark, data).write.format("noop").mode("overwrite").save()
                    except Exception as e:
                        errors[name] = repr(e)
                    b.spark.catalog.clearCache()
                times[name] = sp.end - sp.start
                query_windows[name].append((sp.start, sp.end))
            passes.append(times)

    failed = 0
    with b.tracer.span("check"):
        import duckdb

        con = duckdb.connect()
        for t in ("events", "documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
        sums = [checks.file_checksum(os.path.join(data, f"{t}.parquet"))
                for t in ("events", "documents", "embeddings")]
        cache = checks.OracleCache(os.path.join(ROOT, ".bench_cache"))
        sqls = entry.oracle_sql()
        for name in order:
            if name in errors:
                failed += 1
                print(f"[perfbench] {name} raised: {errors[name]}", file=sys.stderr)
                continue
            want = cache.get_or_compute(
                sqls[name], sums,
                lambda: checks.row_hashes(con.execute(sqls[name]).fetch_arrow_table()),
            )
            miss, extra = checks.multiset_diff(want, got[name])
            if miss or extra:
                failed += 1
                print(f"[perfbench] {name}: {miss} oracle rows missing, {extra} extra rows",
                      file=sys.stderr)
        con.close()

    pass_s = [sum(p.values()) for p in passes]
    rows = {t: pq.ParquetFile(os.path.join(data, f"{t}.parquet")).metadata.num_rows
            for t in ("events", "documents", "embeddings")}
    input_rows = sum(rows[BATCH_QUERIES[n]] for n in order)
    layers = {}
    if b.trace:
        layers["plans.compile_ms"] = median_of(compile_ms)
        counters = SparkCounters(b.spark)
        for name in order:
            layers[f"query.{name}_s"] = median_of(p[name] for p in passes)
            per = {}
            for start, end in query_windows[name]:
                for k, v in counters.window(start, end).items():
                    per.setdefault(k, []).append(v)
            layers[f"query.{name}.cpu_ms"] = median_of(per["spark.executor_cpu_ms"])
            layers[f"query.{name}.python_run_ms"] = median_of(per["python.run_ms"])
            layers[f"query.{name}.shuffle_write_bytes"] = median_of(
                per["spark.shuffle_write_bytes"]
            )
            layers[f"query.{name}.spill_bytes"] = median_of(per["spark.spill_bytes"])
        layers["query.total_s"] = median_of(pass_s)
    return Result(
        rows_per_s=input_rows / median_of(pass_s),
        latency_ms=[s * 1000 for s in pass_s],
        setup_parts={"session_s": session_s, "repeatable_s": rep_s, "warmup_s": warmup_s},
        attempted=len(order),
        failed=failed,
        layers=layers,
    )


WORKLOADS = {
    "deid_stream": deid_stream,
    "sessions_drain": sessions_drain,
    "batch_operators": batch_operators,
}
