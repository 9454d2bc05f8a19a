"""Custom stateful operator tests — mirrors the reference's
BatchRequestForDLPTest (beam/BatchRequestForDLPTest.java:59-121): explicit
event timestamps, watermark advanced to infinity via a flush sentinel, exact
multiset of emitted batch sizes per key."""
import glob
import os
import re
import time

import pytest
from pyspark.sql import functions as F

from dlp_dataflow_deidentification_spark.streaming import jobs, stateful

_SCHEMA = "conv_id string, turn_idx int, role string, text string, tool string, ts string"


def _one_file_per_batch(spark, d, batches):
    """Writes each list of (conv_id, turn_idx, ts) turns as one parquet file
    in ``d`` with increasing mtimes — the file source's order — so that
    ``maxFilesPerTrigger=1`` makes each list one micro-batch."""
    d.mkdir()
    base = time.time() - 100
    for i, turns in enumerate(batches):
        stage = str(d.parent / f"{d.name}_stage{i}")
        spark.createDataFrame(
            [(conv, idx, "agent", "x", "N/A", ts) for conv, idx, ts in turns], _SCHEMA
        ).withColumn("ts", F.col("ts").cast("timestamp")).coalesce(1).write.parquet(stage)
        [part] = glob.glob(os.path.join(stage, "part-*.parquet"))
        dst = str(d / f"f{i:02d}.parquet")
        os.replace(part, dst)
        os.utime(dst, (base + i, base + i))
    return str(d)


def _assert_one_native_state_op(q):
    """Exactly one state operator ran, and the executed plan has no Python
    evaluation node (no Arrow/pandas round trip to a Python worker)."""
    ops = [s["operatorName"] for s in (q.lastProgress or {}).get("stateOperators", [])]
    assert len(ops) == 1, ops
    plan = q._jsq.explainInternal(False)  # the executed physical plan
    nodes = re.findall(r"^[\s:+\-*()\d!]*(\w+)", plan, re.M)
    assert not [n for n in nodes if re.search("Python|Pandas|Arrow", n)], plan


def _write_stream_input(spark, tmp_path, rows):
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    d = str(tmp_path / "in")
    df.coalesce(1).write.mode("append").parquet(d)
    return d


def _run_stream(spark, df, name):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name)


def test_batched_requests_multiset_of_batch_sizes(spark, tmp_path):
    # key a: 6 rows of 100B with 150B budget → batches [1,1,1,1,1,1]? no —
    # greedy packing: rows of 100B, budget 250B → [2,2,2]; key b: 3 rows of
    # 100B + one 240B row → [2,1,1]; remainder flushed by event-time timeout
    # (flush sentinel row advances the watermark past every timer).
    mk = lambda k, i, size, t: (k, i, "agent", "x" * size, "N/A", t)
    rows = (
        [mk("a", i, 100, f"2026-01-01 00:00:{i:02d}") for i in range(6)]
        + [mk("b", i, 100, f"2026-01-01 00:00:{i:02d}") for i in range(3)]
        + [mk("b", 3, 240, "2026-01-01 00:00:03")]
        + [mk("__flush__", 0, 1, "2026-01-02 00:00:00")]
    )
    d = _write_stream_input(spark, tmp_path, rows)
    stream = jobs.read_transcript_stream(spark, d)
    out = stateful.batched_requests(
        stream, max_batch_bytes=250, flush_gap_ms=10_000, watermark="1 second"
    )
    got = _run_stream(spark, out, "batches_t1")
    sizes = {}
    for r in got.filter("key <> '__flush__'").collect():
        sizes.setdefault(r.key, []).append(r.n_rows)
    assert sorted(sizes["a"]) == [2, 2, 2]
    assert sorted(sizes["b"]) == [1, 1, 2]
    # byte budget respected
    assert got.filter("n_bytes > 250").count() == 0


def test_batched_requests_oversize_row_gets_own_batch(spark, tmp_path):
    rows = [
        ("k", 0, "agent", "y" * 900, "N/A", "2026-01-01 00:00:00"),
        ("k", 1, "agent", "z" * 10, "N/A", "2026-01-01 00:00:01"),
        ("__flush__", 0, "agent", "f", "N/A", "2026-01-02 00:00:00"),
    ]
    d = _write_stream_input(spark, tmp_path, rows)
    out = stateful.batched_requests(
        jobs.read_transcript_stream(spark, d),
        max_batch_bytes=500,
        watermark="1 second",
    )
    got = {r.batch_seq: (r.n_rows, r.n_bytes) for r in _run_stream(spark, out, "batches_t2").filter("key = 'k'").collect()}
    # oversize row emitted alone (cap enforced between rows, like the
    # reference's hard 524000B cap per request), remainder in next batch
    assert got == {0: (1, 900), 1: (1, 10)}


def test_conversation_assembler_stream_equals_batch_sessions(spark, tmp_path):
    from dlp_dataflow_deidentification_spark.sources.transcripts import synthesize_transcripts

    tdf = synthesize_transcripts(spark, 2000, n_conversations=40)
    d = str(tmp_path / "conv_in")
    tdf.coalesce(2).write.mode("append").parquet(d)
    flush = spark.createDataFrame(
        [("__flush__", 0, "agent", "x", "N/A", "2027-01-01 00:00:00")],
        "conv_id string, turn_idx int, role string, text string, tool string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    flush.write.mode("append").parquet(d)

    stream = jobs.read_transcript_stream(spark, d)
    out = stateful.conversation_assembler(stream, gap_ms=300_000, watermark="1 minute")
    got = {
        (r.conv_id, r.first_ms): r.n_turns
        for r in _run_stream(spark, out, "conv_asm").filter("conv_id <> '__flush__'").collect()
    }
    # batch oracle: gap sessions (same rule: new session when diff >= gap)
    from pyspark.sql import Window as W

    w = W.partitionBy("conv_id").orderBy("ts", "turn_idx")
    us = (F.unix_micros(F.col("ts")) / 1000).cast("long")
    gap = us - F.lag(us).over(w)
    sess = (
        tdf.withColumn(
            "new_s", F.when(gap.isNull() | (gap < 300_000), F.lit(0)).otherwise(F.lit(1))
        )
        .withColumn("sid", F.sum("new_s").over(w.rowsBetween(W.unboundedPreceding, 0)))
        .groupBy("conv_id", "sid")
        .agg(F.count("*").alias("n"), F.min(us).alias("first_ms"))
    )
    want = {(r.conv_id, r.first_ms): r.n for r in sess.collect()}
    assert got == want and len(want) >= 30

    # the batch form (every session incl. each conversation's last one)
    # produces the SAME session set as the stream
    batch_got = {
        (r.conv_id, r.first_ms): r.n_turns
        for r in stateful.conversation_assembler(tdf, gap_ms=300_000).collect()
    }
    assert batch_got == want


def test_batched_requests_budget_counts_utf8_bytes(spark, tmp_path):
    # "é" is 1 codepoint / 2 UTF-8 bytes; "😀" is 1 codepoint (as Python
    # sees it) / 4 bytes. The reference budgets Table.Row.getSerializedSize()
    # — serialized UTF-8 bytes (beam/BatchRequestForDLP.java:62-66) — so a
    # codepoint count would pack 2x-4x over budget on non-ASCII payloads.
    rows = [
        ("k", 0, "agent", "é" * 100, "N/A", "2026-01-01 00:00:00"),  # 200 B
        ("k", 1, "agent", "é" * 100, "N/A", "2026-01-01 00:00:01"),  # 200 B
        ("k", 2, "agent", "😀" * 30, "N/A", "2026-01-01 00:00:02"),  # 120 B
        ("__flush__", 0, "agent", "f", "N/A", "2026-01-02 00:00:00"),
    ]
    d = _write_stream_input(spark, tmp_path, rows)
    out = stateful.batched_requests(
        jobs.read_transcript_stream(spark, d),
        max_batch_bytes=450,
        watermark="1 second",
    )
    got = {
        r.batch_seq: (r.n_rows, r.n_bytes)
        for r in _run_stream(spark, out, "batches_utf8").filter("key = 'k'").collect()
    }
    # byte-sized: 200+200=400 fits, +120 would overshoot 450 → [2 rows/400 B,
    # 1 row/120 B]. A codepoint count (100+100+30=230) would emit ONE batch.
    assert got == {0: (2, 400), 1: (1, 120)}


def test_conversation_assembler_pre_epoch_timestamps(spark):
    # negative-ms event times: last_ms must track the session's own max,
    # not be pinned to the 0 initializer (which would also corrupt gap
    # splits against later turns)
    rows = [
        ("c", 0, "agent", "hello", "N/A", "1969-12-31 22:00:00"),
        ("c", 1, "agent", "world", "N/A", "1969-12-31 22:01:00"),
        # > 5 min gap → second session, still pre-epoch
        ("c", 2, "agent", "again", "N/A", "1969-12-31 22:30:00"),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = sorted(
        (r.first_ms, r.last_ms, r.n_turns)
        for r in stateful.conversation_assembler(df, gap_ms=300_000).collect()
    )
    h22 = -7200_000  # 1969-12-31 22:00:00 UTC in ms
    assert out == [
        (h22, h22 + 60_000, 2),
        (h22 + 1800_000, h22 + 1800_000, 1),
    ]


def test_deid_sessions_single_query_stream(spark, tmp_path):
    """Round-4 composition: deid → conversation assembler chained in ONE
    streaming query (stateless tokenization projection under the stateful
    session aggregate). Asserts (a) exactly one state operator ran and no
    Python evaluation node is in the plan, (b) the output equals the batch
    composition deidentify→assembler, (c) the PII counts are non-trivial
    (the deid stage really minted surrogates before the stateful stage
    consumed them)."""
    import os

    import dlp_dataflow_deidentification_spark as dds
    from dlp_dataflow_deidentification_spark.sources.transcripts import (
        synthesize_transcripts,
    )

    tdf = synthesize_transcripts(spark, 2000, n_conversations=40)
    d = str(tmp_path / "deid_sess_in")
    tdf.coalesce(2).write.mode("append").parquet(d)
    flush = spark.createDataFrame(
        [("__flush__", 0, "agent", "x", "N/A", "2027-01-01 00:00:00")],
        "conv_id string, turn_idx int, role string, text string, tool string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    flush.write.mode("append").parquet(d)

    template = dds.DeidTemplate.from_file(
        os.path.join(os.path.dirname(__file__), "..", "configs/deid_transcripts.json"),
        crypto_key="0123456789abcdef",
    )
    out = jobs.deid_sessions_stream(
        spark, template, d, gap_ms=300_000, watermark="1 minute"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("deid_sess")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r.conv_id, r.first_ms): (r.n_turns, r.n_pii_turns)
        for r in spark.table("deid_sess").filter("conv_id <> '__flush__'").collect()
    }
    # exactly ONE state operator in the query (the session aggregate); the
    # deid stage fused in as a stateless projection, no Python worker
    _assert_one_native_state_op(q)

    want = {
        (r.conv_id, r.first_ms): (r.n_turns, r.n_pii_turns)
        for r in stateful.conversation_assembler(
            dds.deidentify(tdf, template), gap_ms=300_000
        ).collect()
    }
    assert got == want and len(want) >= 30
    assert sum(v[1] for v in want.values()) > 0  # surrogates actually minted


def test_stateful_ops_survive_multi_batch_catchup(spark, tmp_path):
    """Catch-up processing regression (found by the bench's chained
    deid->sessions leg): with maxFilesPerTrigger over files whose event
    times are NOT time-ordered, the watermark races ahead of many
    conversations' event times between micro-batches, and the stateful
    operators used to register a timeout EARLIER than the current
    watermark — Spark kills the query with INVALID_TIMEOUT_TIMESTAMP.
    Timeouts are now clamped to just past the current watermark (past-due
    state flushes at the next tick)."""
    from dlp_dataflow_deidentification_spark.sources.transcripts import (
        synthesize_transcripts,
    )

    tdf = synthesize_transcripts(spark, 5000, n_conversations=120)
    d = str(tmp_path / "catchup_in")
    # 8 files, each containing a random slice of the FULL event-time range
    tdf.repartition(8).write.mode("append").parquet(d)
    import time as _time

    _time.sleep(1.1)  # flush sentinel gets the newest mtime -> last batch
    flush = spark.createDataFrame(
        [("__flush__", 0, "agent", "x", "N/A", "2027-01-01 00:00:00")],
        "conv_id string, turn_idx int, role string, text string, tool string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    flush.coalesce(1).write.mode("append").parquet(d)

    stream = jobs.read_transcript_stream(spark, d, max_files_per_trigger=2)
    out = stateful.conversation_assembler(stream, gap_ms=1_800_000, watermark="1 minute")
    got = _run_stream(spark, out, "catchup_conv").filter("conv_id <> '__flush__'")
    # completes (no INVALID_TIMEOUT_TIMESTAMP) and flushes sessions for the
    # bulk of the conversations once the sentinel advances the watermark
    assert got.select("conv_id").distinct().count() >= 100

    stream2 = jobs.read_transcript_stream(spark, d, max_files_per_trigger=2)
    out2 = stateful.batched_requests(
        stream2, max_batch_bytes=2_000, flush_gap_ms=60_000, watermark="1 minute"
    )
    got2 = _run_stream(spark, out2, "catchup_batches").filter("key <> '__flush__'")
    assert got2.select("key").distinct().count() >= 100


def test_assembler_stream_and_batch_equal_gap_oracle(spark, tmp_path):
    """Full session records (turns, PII-marker turns, first and last ms)
    from the stream and from the batch form both equal a Spark
    window-function gap oracle."""
    from pyspark.sql import Window as W

    from dlp_dataflow_deidentification_spark.sources.transcripts import (
        synthesize_transcripts,
    )

    tdf = synthesize_transcripts(spark, 3000, n_conversations=60)
    d = str(tmp_path / "bkt_in")
    tdf.coalesce(2).write.mode("append").parquet(d)
    flush = spark.createDataFrame(
        [("__flush__", 0, "agent", "x", "N/A", "2027-01-01 00:00:00")],
        "conv_id string, turn_idx int, role string, text string, tool string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    flush.write.mode("append").parquet(d)

    def sessions(rows):
        return {
            (r.conv_id, r.first_ms): (r.n_turns, r.n_pii_turns, r.last_ms)
            for r in rows
        }

    stream = stateful.conversation_assembler(
        jobs.read_transcript_stream(spark, d), gap_ms=300_000, watermark="1 minute"
    )
    got = sessions(
        _run_stream(spark, stream, "gap_oracle").filter("conv_id <> '__flush__'").collect()
    )
    batch = sessions(stateful.conversation_assembler(tdf, gap_ms=300_000).collect())

    # oracle: new session when the gap to the previous turn is >= gap_ms
    w = W.partitionBy("conv_id").orderBy("ts", "turn_idx")
    ms = (F.unix_micros(F.col("ts")) / 1000).cast("long")
    gap = ms - F.lag(ms).over(w)
    want = sessions(
        tdf.withColumn("new_s", (gap.isNotNull() & (gap >= 300_000)).cast("int"))
        .withColumn("sid", F.sum("new_s").over(w.rowsBetween(W.unboundedPreceding, 0)))
        .groupBy("conv_id", "sid")
        .agg(
            F.count("*").alias("n_turns"),
            F.sum(F.col("text").rlike(r"\[[A-Z_]+\]").cast("int")).alias("n_pii_turns"),
            F.min(ms).alias("first_ms"),
            F.max(ms).alias("last_ms"),
        )
        .collect()
    )
    assert len(want) >= 50
    assert got == batch == want


def test_bucketed_assembler_pre_epoch_and_late_rows(spark):
    """Batch form: pre-epoch (negative-ms) conversations split and count
    PII-marker turns per session next to a post-epoch one."""
    rows = [
        ("c", 0, "agent", "hello [EMAIL]", "N/A", "1969-12-31 22:00:00"),
        ("c", 1, "agent", "world", "N/A", "1969-12-31 22:01:00"),
        ("c", 2, "agent", "again", "N/A", "1969-12-31 22:30:00"),
        ("d", 0, "agent", "solo", "N/A", "1970-01-01 05:00:00"),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = sorted(
        (r.conv_id, r.first_ms, r.last_ms, r.n_turns, r.n_pii_turns)
        for r in stateful.conversation_assembler(df, gap_ms=300_000).collect()
    )
    h22 = -7200_000
    assert got == [
        ("c", h22, h22 + 60_000, 2, 1),
        ("c", h22 + 1800_000, h22 + 1800_000, 1, 0),
        ("d", 18_000_000, 18_000_000, 1, 0),
    ]


def test_deid_sessions_bucketed_single_query_stream(spark, tmp_path):
    """The bench's production call — deid → session assembly in ONE
    streaming query, with the (ignored) ``n_buckets`` the bench passes —
    equals the batch composition, with exactly one state operator and no
    Python evaluation node in the plan."""
    import dlp_dataflow_deidentification_spark as dds
    from dlp_dataflow_deidentification_spark.sources.transcripts import (
        synthesize_transcripts,
    )

    tdf = synthesize_transcripts(spark, 2000, n_conversations=40)
    d = str(tmp_path / "deid_sess_bkt_in")
    tdf.coalesce(2).write.mode("append").parquet(d)
    flush = spark.createDataFrame(
        [("__flush__", 0, "agent", "x", "N/A", "2027-01-01 00:00:00")],
        "conv_id string, turn_idx int, role string, text string, tool string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    flush.write.mode("append").parquet(d)

    template = dds.DeidTemplate.from_file(
        os.path.join(os.path.dirname(__file__), "..", "configs/deid_transcripts.json"),
        crypto_key="0123456789abcdef",
    )
    out = jobs.deid_sessions_stream(
        spark, template, d, gap_ms=300_000, watermark="1 minute", n_buckets=5
    )
    q = (
        out.writeStream.format("memory")
        .queryName("deid_sess_bkt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r.conv_id, r.first_ms): (r.n_turns, r.n_pii_turns)
        for r in spark.table("deid_sess_bkt").filter("conv_id <> '__flush__'").collect()
    }
    _assert_one_native_state_op(q)

    want = {
        (r.conv_id, r.first_ms): (r.n_turns, r.n_pii_turns)
        for r in stateful.conversation_assembler(
            dds.deidentify(tdf, template), gap_ms=300_000
        ).collect()
    }
    assert got == want and len(want) >= 30
    assert sum(v[1] for v in want.values()) > 0


def test_batched_requests_invariant_to_bucket_count(spark, tmp_path):
    """The multiset of (key, n_rows, n_bytes) batches does not depend on the
    bucket count: 1, 7 and the default give the same batches from the
    streaming state machine and from the batch form, and all of them equal a
    scalar greedy packer run per key over the rows in turn order."""
    from dlp_dataflow_deidentification_spark.sources.transcripts import (
        synthesize_transcripts,
    )

    tdf = synthesize_transcripts(spark, 3000, n_conversations=60)
    d = str(tmp_path / "bktbr_in")
    tdf.coalesce(2).write.mode("append").parquet(d)
    flush = spark.createDataFrame(
        [("__flush__", 0, "agent", "x", "N/A", "2027-01-01 00:00:00")],
        "conv_id string, turn_idx int, role string, text string, tool string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    flush.write.mode("append").parquet(d)

    def multiset(rows):
        sizes = {}
        for r in rows:
            sizes.setdefault(r.key, []).append((r.n_rows, r.n_bytes))
        return {k: sorted(v) for k, v in sizes.items()}

    def run(n_buckets, name):
        stream = jobs.read_transcript_stream(spark, d)
        out = stateful.batched_requests(
            stream,
            max_batch_bytes=2_000,
            flush_gap_ms=60_000,
            watermark="1 minute",
            order_col="turn_idx",
            n_buckets=n_buckets,
        )
        return multiset(
            _run_stream(spark, out, name).filter("key <> '__flush__'").collect()
        )

    def run_batch(n_buckets):
        out = stateful.batched_requests(
            tdf, max_batch_bytes=2_000, order_col="turn_idx", n_buckets=n_buckets
        )
        return multiset(out.collect())

    # oracle: flush before a row that would overflow a non-empty buffer
    by_key = {}
    for r in tdf.select("conv_id", "turn_idx", "text").collect():
        by_key.setdefault(r.conv_id, []).append((r.turn_idx, r.text))
    want = {}
    for key, rows in by_key.items():
        batches, buf_r, buf_b = [], 0, 0
        for _, text in sorted(rows, key=lambda t: t[0]):
            n = len((text or "").encode("utf-8"))
            if buf_r and buf_b + n > 2_000:
                batches.append((buf_r, buf_b))
                buf_r, buf_b = 0, 0
            buf_r, buf_b = buf_r + 1, buf_b + n
        want[key] = sorted(batches + [(buf_r, buf_b)])
    assert len(want) >= 50
    assert run(1, "bktbr_one") == want
    assert run(7, "bktbr_seven") == want
    assert run(None, "bktbr_default") == want
    assert run_batch(1) == run_batch(7) == run_batch(None) == want


def test_bucketed_batched_requests_multi_batch_catchup(spark, tmp_path):
    """Bucketed batched_requests survives watermark catch-up over
    time-unordered files and flushes remainders for every key."""
    from dlp_dataflow_deidentification_spark.sources.transcripts import (
        synthesize_transcripts,
    )

    tdf = synthesize_transcripts(spark, 5000, n_conversations=120)
    d = str(tmp_path / "bktbr_catchup_in")
    tdf.repartition(8).write.mode("append").parquet(d)
    import time as _time

    _time.sleep(1.1)
    flush = spark.createDataFrame(
        [("__flush__", 0, "agent", "x", "N/A", "2027-01-01 00:00:00")],
        "conv_id string, turn_idx int, role string, text string, tool string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    flush.coalesce(1).write.mode("append").parquet(d)

    stream = jobs.read_transcript_stream(spark, d, max_files_per_trigger=2)
    out = stateful.batched_requests(
        stream,
        max_batch_bytes=2_000,
        flush_gap_ms=60_000,
        watermark="1 minute",
        n_buckets=16,
    )
    got = _run_stream(spark, out, "bktbr_catchup").filter("key <> '__flush__'")
    assert got.select("key").distinct().count() >= 100


def test_null_key_rows_invariant_to_bucket_count(spark, tmp_path):
    """A null key is one group (Spark groupBy semantics). The packer's pandas
    fold must not drop its rows (pandas groupby dropna default) or split
    them per row (NaN != NaN), whatever the bucket count. The assembler
    keeps the null conversation as one key with its own gap sessions, in
    the batch form and in a stream (maxFilesPerTrigger=1) where the null
    session stays open across micro-batches until the watermark passes
    it."""
    rows = [
        (None, 0, "agent", "hello [EMAIL]", "N/A", "2026-01-01 10:00:00"),
        (None, 1, "agent", "world", "N/A", "2026-01-01 10:01:00"),
        (None, 2, "agent", "later session", "N/A", "2026-01-01 11:00:00"),
        ("c", 0, "agent", "x", "N/A", "2026-01-01 10:00:30"),
        ("c", 1, "agent", "y [PHONE]", "N/A", "2026-01-01 10:02:30"),
    ]
    df = spark.createDataFrame(rows, _SCHEMA).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )

    def sess_set(out_df):
        return sorted(
            (
                (r.conv_id, r.first_ms, r.last_ms, r.n_turns, r.n_pii_turns)
                for r in out_df.collect()
            ),
            key=lambda t: (t[0] is not None, t[0] or "", t[1]),
        )

    h10 = 1_767_261_600_000  # 2026-01-01 10:00:00 UTC in ms
    batch = sess_set(stateful.conversation_assembler(df, gap_ms=300_000))
    assert batch == [
        (None, h10, h10 + 60_000, 2, 1),
        (None, h10 + 3_600_000, h10 + 3_600_000, 1, 0),
        ("c", h10 + 30_000, h10 + 150_000, 2, 1),
    ]

    def batch_multiset(n_buckets):
        out = stateful.batched_requests(
            df, max_batch_bytes=8, order_col="turn_idx", n_buckets=n_buckets
        )
        sizes = {}
        for r in out.collect():
            sizes.setdefault(r.key, []).append((r.n_rows, r.n_bytes))
        return {k: sorted(v) for k, v in sizes.items()}

    pk = batch_multiset(1)
    assert batch_multiset(2) == batch_multiset(None) == pk and None in pk

    # streaming: null rows in the FIRST file, flush sentinel in the second →
    # the null sessions stay in the state store until the sentinel's
    # watermark passes them
    d = str(tmp_path / "nullkey_in")
    df.coalesce(1).write.mode("append").parquet(d)
    time.sleep(1.1)
    flush = spark.createDataFrame(
        [("__flush__", 0, "agent", "x", "N/A", "2027-01-01 00:00:00")], _SCHEMA
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    flush.coalesce(1).write.mode("append").parquet(d)

    stream = jobs.read_transcript_stream(spark, d, max_files_per_trigger=1)
    out = stateful.conversation_assembler(stream, gap_ms=300_000, watermark="1 minute")
    got = sess_set(
        _run_stream(spark, out, "nullkey").filter("conv_id is null or conv_id <> '__flush__'")
    )
    assert got == batch


def test_busy_bucket_flushes_due_key_on_data_path(spark, tmp_path):
    """An idle conversation is emitted in the first micro-batch whose
    watermark passes its last turn + gap, while another conversation gets
    rows in every batch. One file per micro-batch: conversation A has one
    turn at t=0, conversation B one turn per hour for 10 h. A is due once
    the watermark passes 0 + gap, which happens in batch 2 — not in the
    final no-data batch."""
    turns = [[("A", 0, "2026-01-01 00:00:00")]] + [
        [("B", h, f"2026-01-01 {h:02d}:00:00")] for h in range(1, 11)
    ]
    d = _one_file_per_batch(spark, tmp_path / "busy_in", turns)

    emitted = []
    stream = jobs.read_transcript_stream(spark, d, max_files_per_trigger=1)
    out = stateful.conversation_assembler(stream, gap_ms=1_800_000, watermark="1 minute")
    q = (
        out.writeStream.foreachBatch(
            lambda bdf, bid: emitted.extend((bid, r.conv_id) for r in bdf.collect())
        )
        .option("checkpointLocation", str(tmp_path / "busy_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert [bid for bid, conv in emitted if conv == "A"] == [2]
    # B's 10 h turn is still open when the input ends (watermark 9:59)
    assert sorted(conv for _, conv in emitted) == ["A"] + ["B"] * 9


def test_assembler_stream_splits_late_turn_exactly_gap_before_open_session(
    spark, tmp_path
):
    """Declared semantics: a late turn exactly ``gap`` before a session
    still open in the state store starts its own session in the stream, as
    in the batch form and the conv_sessions oracle (a gap of >= ``gap``
    splits). The watermark (10 min) is wider than the gap (5 min), so the
    late turn is not dropped."""
    batches = [
        [("c", 1, "2026-01-01 10:00:00"), ("c", 2, "2026-01-01 10:02:00")],
        [("c", 0, "2026-01-01 09:55:00")],
        [("__flush__", 0, "2027-01-01 00:00:00")],
    ]
    d = _one_file_per_batch(spark, tmp_path / "late_in", batches)
    stream = jobs.read_transcript_stream(spark, d, max_files_per_trigger=1)
    out = stateful.conversation_assembler(stream, gap_ms=300_000, watermark="10 minutes")

    def sessions(df):
        return sorted(
            (r.first_ms, r.last_ms, r.n_turns)
            for r in df.filter("conv_id <> '__flush__'").collect()
        )

    got = sessions(_run_stream(spark, out, "late_gap"))
    batch = sessions(
        stateful.conversation_assembler(spark.read.parquet(d), gap_ms=300_000)
    )
    h10 = 1_767_261_600_000  # 2026-01-01 10:00:00 UTC in ms
    assert got == batch == [
        (h10 - 300_000, h10 - 300_000, 1),
        (h10, h10 + 120_000, 2),
    ]
