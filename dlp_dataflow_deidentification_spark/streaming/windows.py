"""Event-time windowed aggregates + session windows over the transcript stream.

The reference only uses fixed processing-time-ish windows to bound its
state/timer batching (V2: 3 s, DLPTextToBigQueryStreamingV2.java:73-74,156;
V1: 10 s with AfterProcessingTime trigger and allowedLateness(0),
DLPTextToBigQueryStreaming.java:228-234). The north_rule adds true event-time
semantics: tumbling/sliding per-window infoType-hit aggregates and gap
session windows keyed by conv_id, both under watermarks on ``ts`` (late data
beyond the watermark dropped — the allowedLateness(0) analogue).

Every function takes and returns DataFrames and works identically on a batch
or streaming input (unbounded semantics come from readStream + trigger).
"""
from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.infotypes import InfoType, resolve


def _hits(df: DataFrame, detectors: Iterable["str | InfoType"], text_col: str) -> DataFrame:
    """Per-row per-detector hit counts as a single narrow projection:
    stack(detector → size(regexp_extract_all)) — one pass over the text,
    JVM-side, no shuffle, streaming-safe (no union of N scans, which would
    re-read the source N times per micro-batch)."""
    dets = [resolve(d) for d in detectors]
    pairs = []
    for it in dets:
        pattern_sql = it.pattern.replace("\\", "\\\\").replace("'", "\\'")
        pairs.append(
            f"'{it.name}', size(regexp_extract_all({text_col}, '{pattern_sql}', 0))"
        )
    stack = f"stack({len(dets)}, {', '.join(pairs)}) AS (info_type_name, n_hits)"
    return df.selectExpr("*", stack).filter(F.col("n_hits") > 0)


def windowed_infotype_hits(
    df: DataFrame,
    detectors: Sequence["str | InfoType"],
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Tumbling (or sliding when ``slide`` given) per-window infoType-hit
    aggregate with an event-time watermark. Output:
    window_start, window_end, info_type_name, n_hits."""
    wdf = df.withColumn(ts_col, F.col(ts_col).cast("timestamp")).withWatermark(
        ts_col, watermark
    )
    hits = _hits(wdf, detectors, "text")
    win = F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    return (
        hits.groupBy(win.alias("w"), "info_type_name")
        .agg(F.sum("n_hits").alias("n_hits"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "info_type_name",
            "n_hits",
        )
    )


def gap_session_window(ts: Column, gap: str) -> Column:
    """Spark's native ``session_window`` under the engine's one gap rule: a
    turn ``gap`` or more after its session's latest turn opens a new session
    — the split the batch oracles make (``us - pus < gap`` keeps the
    session) and Beam's half-open Sessions. Spark's own operator still
    merges a turn exactly ``gap`` later, so the gap is shrunk by one
    microsecond, the timestamp resolution. The window ``end`` is therefore
    the latest turn + ``gap`` − 1 µs, and in append mode a session is
    emitted once the watermark reaches that end."""
    return F.session_window(ts, f"{gap} -1 microseconds")


def session_window_stats(
    df: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Gap session windows keyed by conv_id (north_rule). Built on the native
    ``session_window`` operator (RocksDB/HDFS state store in streaming mode)
    under ``gap_session_window``'s split rule; the batch form of the same
    call gives identical sessions for equality tests. Output: conv_id,
    session_start (first turn), session_end (latest turn + ``gap``),
    n_turns, n_agent, n_tool."""
    wdf = df.withColumn(ts_col, F.col(ts_col).cast("timestamp")).withWatermark(
        ts_col, watermark
    )
    return (
        wdf.groupBy(gap_session_window(F.col(ts_col), gap).alias("sw"), "conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.when(F.col("role") == "agent", 1).otherwise(0)).alias("n_agent"),
            F.sum(F.when(F.col("role") == "tool", 1).otherwise(0)).alias("n_tool"),
        )
        .select(
            "conv_id",
            F.col("sw.start").alias("session_start"),
            (F.col("sw.end") + F.expr("INTERVAL 1 MICROSECOND")).alias("session_end"),
            "n_turns",
            "n_agent",
            "n_tool",
        )
    )


def streaming_exact_dedup(
    df: DataFrame,
    key_cols: "Sequence[str]" = ("conv_id", "turn_idx"),
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Exactly-once record dedup ACROSS micro-batches: native
    ``dropDuplicatesWithinWatermark`` keyed on ``key_cols`` — redelivered or
    replayed rows whose key was already seen inside the watermark horizon
    are dropped by the state store, and state for keys older than the
    watermark is evicted (bounded state at 10^12-turn scale; the reference's
    redelivery dedup is the keep-one combiner + insertId,
    common/ResolveDuplicatesCombineFn.java:21-43). Batch input degrades to
    plain dropDuplicates for equality tests."""
    wdf = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    if not wdf.isStreaming:
        return wdf.dropDuplicates(list(key_cols))
    return wdf.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )
