"""Custom stateful operators over the RocksDB/HDFS state store.

``batched_requests`` is the direct re-expression of the reference's
ShardRows → BagState + event-time-timer batcher
(beam/ShardRows.java:66-81 shards rows, then beam/BatchRequestForDLP.java:44-106
buffers rows per sharded key, fires at the window end and greedily packs
≤ batchSizeBytes bags; V1 equivalent DLPTextToBigQueryStreaming.java:604-668;
unit-test contract BatchRequestForDLPTest.java:59-121 asserts the multiset of
emitted batch sizes per key). Greedy byte-packing has no native Spark form,
so it runs on the bucketed pandas shell ``_bucketed``: rows are grouped by
``pmod(xxhash64(key), n_buckets)``, each bucket holds ONE state row (a JSON
map of per-key carries, keyed by bucket — so ``n_buckets`` must not change
across a checkpoint restart) and gets ONE vectorized pandas fold per
micro-batch. Streaming input runs ``applyInPandasWithState`` with a
watermark-driven event-time timeout (the Beam timer analogue); the due keys
flush on a timeout and after every fold; batch input runs the same fold under ``applyInPandas`` with an
empty carry and flushes every key at the end (the oracle-testable form).

``conversation_assembler`` (per-conv_id gap sessions: turn count, PII-marker
count, first/last ms) stays inside built-in semantics, so it is Spark's
native ``session_window`` aggregate (``windows.gap_session_window``): no
Python worker in the sessions stream.
"""
from __future__ import annotations

import json
from typing import Callable, Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .windows import gap_session_window

BATCH_OUTPUT_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("batch_seq", IntegerType()),
        StructField("n_rows", IntegerType()),
        StructField("n_bytes", LongType()),
    ]
)

CONV_OUTPUT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("n_turns", IntegerType()),
        StructField("n_pii_turns", IntegerType()),
        StructField("first_ms", LongType()),
        StructField("last_ms", LongType()),
    ]
)

# ONE state row per bucket: the JSON map of its keys' carries
_STATE_SCHEMA = StructType([StructField("packed", StringType())])

# Bucket count when the caller passes none. Fixed, not derived from conf:
# carried state is keyed by bucket, so the count must be stable across
# checkpoint restarts.
DEFAULT_N_BUCKETS = 64

_PII_RE = r"\[[A-Z_]+\]"
_SESS_COLS = CONV_OUTPUT_SCHEMA.fieldNames()
_BATCH_COLS = BATCH_OUTPUT_SCHEMA.fieldNames()

# The packer fold runs in pandas, where groupby drops null keys and the packed-state
# JSON map cannot hold a null key — but Spark's groupBy semantics keep a
# null-key group. Null keys are therefore encoded as this reserved sentinel
# inside the fold/state and decoded back to null at every emit point. Control
# chars cannot appear in any realistically sourced key (file names, table
# keys, conversation ids); NUL itself is avoided — numpy's fixed-width
# unicode storage strips trailing NUL bytes, so a bare "\\x00" silently
# becomes "" through pandas fillna/groupby.
_NULL_KEY = "\x01__null_key__\x01"


def pack_greedy(
    sizes, buf_bytes: int, buf_rows: int, next_seq: int, max_batch_bytes: int
):
    """Vectorized greedy byte-packing (cumsum + one searchsorted per emitted
    batch). Semantics identical to the scalar rule the reference's
    BatchRequestForDLP implements per bag: flush when adding the next row
    would exceed the budget and the buffer is non-empty; a single oversized
    row forms its own batch. Returns (emitted [(seq, n_rows, n_bytes)...],
    (buf_bytes, buf_rows, next_seq))."""
    out: list[tuple] = []
    sizes = np.asarray(sizes, dtype=np.int64)
    if not len(sizes):
        return out, (buf_bytes, buf_rows, next_seq)
    cs = np.cumsum(sizes)
    start, n_in = 0, len(sizes)
    while start < n_in:
        base = int(cs[start - 1]) if start else 0
        budget = max_batch_bytes - buf_bytes if buf_rows else max_batch_bytes
        j = int(np.searchsorted(cs, base + budget, side="right")) - 1
        if j < start:
            if buf_rows:  # next row overflows the carry → flush it
                out.append((next_seq, buf_rows, buf_bytes))
                next_seq += 1
                buf_bytes, buf_rows = 0, 0
                continue
            j = start  # oversized single row: its own buffer
        buf_bytes += int(cs[j]) - base
        buf_rows += j - start + 1
        start = j + 1
        if start < n_in:  # row j+1 overflowed → emit now
            out.append((next_seq, buf_rows, buf_bytes))
            next_seq += 1
            buf_bytes, buf_rows = 0, 0
    return out, (buf_bytes, buf_rows, next_seq)


def _payload_sizes(
    pdf: pd.DataFrame, payload_col: str, order_col: "str | None"
) -> "np.ndarray":
    """Per-row payload size in packing order. fillna BEFORE astype(str):
    astype would turn None into the literal 4-char string "None", charging
    null payloads 4 bytes. Size = UTF-8 BYTES, not codepoints: the reference
    budgets Table.Row.getSerializedSize()
    (beam/BatchRequestForDLP.java:62-66), which is proto-serialized UTF-8 —
    a codepoint count would under-charge non-ASCII payloads up to 4x and
    overshoot max_batch_bytes."""
    if order_col is not None:
        pdf = pdf.sort_values(order_col, kind="mergesort")
    return (
        pdf[payload_col]
        .fillna("")
        .astype(str)
        .str.encode("utf-8")
        .str.len()
        .astype("int64")
        .to_numpy()
    )


def _decode_null_key(df: pd.DataFrame, col: str) -> pd.DataFrame:
    mask = df[col] == _NULL_KEY
    if mask.any():
        df = df.copy()
        df.loc[mask, col] = None
    return df


def _pack_bucket(
    pdf: pd.DataFrame,
    carried: dict,
    key_col: str,
    payload_col: str,
    ts_col: str,
    order_col: "str | None",
    max_batch_bytes: int,
):
    """Per-key ``pack_greedy`` over one bucket's delivered rows, seeded with
    the carried buffers ``{key: [buf_bytes, buf_rows, next_seq,
    max_event_ms]}`` (updated in place; every key seen keeps an entry so its
    batch_seq continues across micro-batches). A key's rows are packed in
    ``order_col`` order across the whole delivered micro-batch, else in
    arrival order. ``dropna=False`` + sentinel: null keys form one group
    (Spark groupBy semantics), carried under ``_NULL_KEY``. Returns
    (emitted batch rows with sentinel-encoded keys, carried)."""
    out: list[tuple] = []
    ms_all = pdf[ts_col].astype("int64") // 1_000_000
    for key, kdf in pdf.groupby(key_col, sort=False, dropna=False):
        k = _NULL_KEY if pd.isna(key) else key
        k_ms = int(ms_all.loc[kdf.index].max())
        # a new key's max starts at its own rows, not 0: pre-epoch keys
        # would otherwise get a deadline pinned at 0 + gap
        buf_bytes, buf_rows, next_seq, max_ms = carried.get(k, (0, 0, 0, k_ms))
        max_ms = max(max_ms, k_ms)
        emitted, (buf_bytes, buf_rows, next_seq) = pack_greedy(
            _payload_sizes(kdf, payload_col, order_col),
            buf_bytes,
            buf_rows,
            next_seq,
            max_batch_bytes,
        )
        out.extend((k, seq, n, b) for seq, n, b in emitted)
        carried[k] = [int(buf_bytes), int(buf_rows), int(next_seq), int(max_ms)]
    return pd.DataFrame(out, columns=_BATCH_COLS), carried


def _bucketed(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    watermark: str,
    gap_ms: int,
    n_buckets: "int | None",
    schema: StructType,
    fold: Callable[[pd.DataFrame, dict], "tuple[pd.DataFrame, dict]"],
    flush_row: Callable[[str, list], "tuple | None"],
) -> DataFrame:
    """The bucketed pandas shell under ``batched_requests``.
    ``fold(pdf, carried) -> (rows, carried)`` folds one bucket's rows into
    its carried per-key values (a JSON-able
    list whose ``v[3]`` is the key's last event ms); ``flush_row(key, v)``
    is the output row a carried key emits when flushed (None: nothing to
    emit). Keys are sentinel-encoded inside; decoded on emit.

    Streaming: the bucket's event-time timeout is armed at the EARLIEST
    carried deadline ``v[3] + gap_ms``, clamped to just past the current
    watermark — during multi-batch catch-up the watermark can already be
    beyond an old key's event times, and Spark rejects a timeout earlier
    than the watermark (INVALID_TIMEOUT_TIMESTAMP); a past-due key simply
    flushes at the next tick. A firing — and every fold, since a bucket fed
    in every batch never times out — flushes exactly the due keys
    (``v[3] + gap_ms <= watermark``) and re-arms for the rest."""
    cols = schema.fieldNames()
    wdf = df.withColumn(ts_col, F.col(ts_col).cast("timestamp")).withColumn(
        "__bucket",
        F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets or DEFAULT_N_BUCKETS)),
    )

    def flush(items: Iterable) -> pd.DataFrame:
        rows = (flush_row(k, v) for k, v in items)
        return pd.DataFrame([r for r in rows if r is not None], columns=cols)

    if not wdf.isStreaming:

        def bfn(pdf: pd.DataFrame) -> pd.DataFrame:
            # full flush: every carried key's remainder is a final record
            rows, carried = fold(pdf, {})
            parts = [f for f in (rows, flush(carried.items())) if len(f)]
            out = pd.concat(parts, ignore_index=True) if parts else rows
            return _decode_null_key(out, cols[0])

        return wdf.groupBy("__bucket").applyInPandas(bfn, schema)

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        carried: dict = json.loads(state.get[0]) if state.exists else {}
        wm = state.getCurrentWatermarkMs()
        out = []
        if not state.hasTimedOut:
            rows, carried = fold(pd.concat(list(pdfs), ignore_index=True), carried)
            out.append(rows)
        # due keys flush on the data path too: a bucket that gets rows every
        # batch never times out, so an idle key in it would otherwise wait
        # for the stream's end
        due = [k for k, v in carried.items() if v[3] + gap_ms <= wm]
        if due:
            out.append(flush((k, carried.pop(k)) for k in due))
        if carried:
            state.update((json.dumps(carried),))
            state.setTimeoutTimestamp(
                max(min(v[3] + gap_ms for v in carried.values()), wm + 1)
            )
        else:
            state.remove()
        parts = [f for f in out if len(f)]
        if parts:
            yield _decode_null_key(pd.concat(parts, ignore_index=True), cols[0])

    return (
        wdf.withWatermark(ts_col, watermark)
        .groupBy("__bucket")
        .applyInPandasWithState(
            fn, schema, _STATE_SCHEMA, "append", GroupStateTimeout.EventTimeTimeout
        )
    )


def batched_requests(
    df: DataFrame,
    key_col: str = "conv_id",
    payload_col: str = "text",
    ts_col: str = "ts",
    max_batch_bytes: int = 500_000,
    flush_gap_ms: int = 10_000,
    watermark: str = "10 seconds",
    order_col: "str | None" = None,
    n_buckets: "int | None" = None,
) -> DataFrame:
    """Greedy UTF-8-byte-budget batching per key with event-time flush.

    Every time a key's buffer fills ``max_batch_bytes`` a batch row
    (key, batch_seq, n_rows, n_bytes) is emitted; the remainder is flushed
    when the watermark passes the key's last event + ``flush_gap_ms``
    (streaming) or at the end (batch input). ``order_col``: pack each key's
    rows in this deterministic order instead of arrival order (required for
    the batch oracle; in streaming it orders a key's rows within each
    micro-batch — arrival order across micro-batches is the semantic, as in
    the reference's BagState).

    ``n_buckets`` (default ``DEFAULT_N_BUCKETS``): keys share
    ``pmod(xxhash64(key), n_buckets)`` buckets, one state row and one pandas
    dispatch per bucket, ``pack_greedy`` still applied per key inside it —
    the reference's ShardRows→BatchRequestForDLP shape. It must not change
    across a checkpoint restart: carried buffers are keyed by bucket.
    """
    return _bucketed(
        df,
        key_col,
        ts_col,
        watermark,
        flush_gap_ms,
        n_buckets,
        BATCH_OUTPUT_SCHEMA,
        lambda pdf, carried: _pack_bucket(
            pdf, carried, key_col, payload_col, ts_col, order_col, max_batch_bytes
        ),
        # a buffered remainder is the key's final batch; an empty one emits nothing
        lambda k, v: (k, v[2], v[1], v[0]) if v[1] else None,
    )


def conversation_assembler(
    df: DataFrame,
    gap_ms: int = 1_800_000,
    watermark: str = "30 minutes",
    n_buckets: "int | None" = None,
) -> DataFrame:
    """Per-conv_id gap-session assembly: one record (conv_id, n_turns,
    n_pii_turns, first_ms, last_ms) per session, a session closing when the
    next turn is ``gap_ms`` or more after its latest turn. Event times are
    floored to the millisecond first, so the split is on whole ms; a NULL
    conv_id is one conversation and a NULL text counts as no PII marker.

    Spark's native ``session_window`` aggregate under the engine's gap rule
    (``windows.gap_session_window``), for batch and stream input alike: no
    Python worker, one state-store row per open session. Streaming input
    (watermarked on the floored ``ts``) emits a session once the watermark
    reaches its last turn + ``gap_ms``; a turn that is late but inside the
    watermark merges into, or splits from, the stored sessions by the same
    rule, so the stream emits exactly the batch form's sessions (turns
    already behind the watermark are dropped, as by every watermarked
    operator). Batch input emits every session, including each
    conversation's last one.

    ``n_buckets`` is ignored: it is accepted so callers of the earlier
    bucketed pandas fold keep working. That fold's ``applyInPandasWithState``
    checkpoint cannot be resumed by this operator; restart such a stream
    from a fresh checkpoint."""
    wdf = df.withColumn(
        "ts", F.timestamp_millis(F.unix_millis(F.col("ts").cast("timestamp")))
    ).withWatermark("ts", watermark)
    ms = F.unix_millis(F.col("ts"))
    pii = F.coalesce(F.col("text").rlike(_PII_RE), F.lit(False)).cast("int")
    return wdf.groupBy(
        "conv_id", gap_session_window(F.col("ts"), f"{gap_ms} milliseconds")
    ).agg(
        F.count(F.lit(1)).cast("int").alias("n_turns"),
        F.sum(pii).cast("int").alias("n_pii_turns"),
        F.min(ms).alias("first_ms"),
        F.max(ms).alias("last_ms"),
    ).select(*_SESS_COLS)
