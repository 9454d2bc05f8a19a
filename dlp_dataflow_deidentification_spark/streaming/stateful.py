"""Custom stateful operators over the RocksDB/HDFS state store.

``batched_requests`` is the direct re-expression of the reference's
ShardRows → BagState + event-time-timer batcher
(beam/ShardRows.java:66-81 shards rows, then beam/BatchRequestForDLP.java:44-106
buffers rows per sharded key, fires at the window end and greedily packs
≤ batchSizeBytes bags; V1 equivalent DLPTextToBigQueryStreaming.java:604-668;
unit-test contract BatchRequestForDLPTest.java:59-121 asserts the multiset of
emitted batch sizes per key). ``conversation_assembler`` applies the same
machinery to the transcript payload: per-conv_id turn accumulation emitted
when the conversation goes idle past the gap (the stateful upgrade of
session_window when per-session custom logic is needed).

Both operators run on ONE shell (``_bucketed``): rows are grouped by
``pmod(xxhash64(key), n_buckets)``, each bucket holds ONE state row (a JSON
map of per-key carries, keyed by bucket — so ``n_buckets`` must not change
across a checkpoint restart) and gets ONE vectorized pandas fold per
micro-batch. Streaming input runs ``applyInPandasWithState`` with a
watermark-driven event-time timeout (the Beam timer analogue); the due keys
flush on a timeout and after every fold; batch input runs the same fold under ``applyInPandas`` with an
empty carry and flushes every key at the end (the oracle-testable form).
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

# The folds run in pandas, where groupby drops null keys and the packed-state
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


def _fold_bucket(pdf: pd.DataFrame, carried: dict, gap_ms: int):
    """Vectorized gap-session fold over ALL conversations in one bucket.

    Semantically identical to a per-conversation scalar fold (split when
    ``ts - running_max_last >= gap_ms``, min/max first/last merge against
    the carried open session), but one pandas pass per BUCKET instead of one
    Python dispatch per conversation — the ShardRows-style batching that
    amortizes per-key overhead (beam/ShardRows.java:66-81).

    Two cumsum passes:
      1. rows sorted by (conv, ts): session breaks where the gap to the
         previous row (== running max, rows ascending) >= gap_ms → chunk
         sessions aggregated in one groupby;
      2. chunk sessions ∪ carried open sessions sorted by (conv, first):
         re-merge with the same rule against a per-conv running-max
         ``last`` (cummax) — a carried session can overlap/bridge chunk
         sessions arbitrarily, which running-max handles exactly like the
         scalar fold does.

    Returns ``(sessions, is_open)``: per-conv time-ordered session records
    (columns ``_SESS_COLS``) and a bool mask marking each conversation's
    trailing (still-open) session.
    """
    ms = (pdf["ts"].astype("int64") // 1_000_000).to_numpy()
    pii = (
        pdf["text"].str.contains(_PII_RE, regex=True, na=False).to_numpy().astype("int64")
    )
    conv_in = pdf["conv_id"]
    if conv_in.isna().any():
        # null-key group: encoded as the sentinel for the whole fold (and in
        # the carried state map); decoded back to null by the callers
        conv_in = conv_in.fillna(_NULL_KEY)
    rf = pd.DataFrame({"conv": conv_in.to_numpy(), "ms": ms, "pii": pii})
    rf = rf.sort_values(["conv", "ms"], kind="mergesort", ignore_index=True)
    new_conv = rf["conv"].ne(rf["conv"].shift())
    brk = new_conv | (rf["ms"] - rf["ms"].shift() >= gap_ms)
    rf["sid"] = brk.cumsum()
    sess = rf.groupby("sid", sort=False).agg(
        conv=("conv", "first"),
        n=("pii", "size"),
        npii=("pii", "sum"),
        first=("ms", "min"),
        last=("ms", "max"),
    )
    # the carried open session SEEDS the fold (rank 0, BEFORE every chunk
    # session regardless of its own timestamps): the scalar per-key rule
    # splits only on a FORWARD gap (ms - running_last >= gap), so a late
    # chunk session entirely EARLIER than the carried one still merges into
    # it — sorting carried into timestamp position would wrongly close it
    # (found by test_fold_bucket_equals_scalar_fold_property)
    sess["_rank"] = 1
    if carried:
        cf = pd.DataFrame(
            [(c, v[0], v[1], v[2], v[3], 0) for c, v in carried.items()],
            columns=["conv", "n", "npii", "first", "last", "_rank"],
        )
        sess = pd.concat([sess, cf], ignore_index=True)
    sess = sess.sort_values(
        ["conv", "_rank", "first"], kind="mergesort", ignore_index=True
    )
    new_conv2 = sess["conv"].ne(sess["conv"].shift())
    # running max of `last` within the conv: a carried session can span
    # several chunk sessions; shift() crossing a conv boundary is masked
    # off by new_conv2
    cm = sess.groupby("conv", sort=False)["last"].cummax()
    brk2 = new_conv2 | (sess["first"] - cm.shift() >= gap_ms)
    sess["sid2"] = brk2.cumsum()
    merged = (
        sess.groupby("sid2", sort=False)
        .agg(
            conv=("conv", "first"),
            n=("n", "sum"),
            npii=("npii", "sum"),
            first=("first", "min"),
            last=("last", "max"),
        )
        .reset_index(drop=True)
    )
    merged.columns = pd.Index(_SESS_COLS)
    is_open = merged["conv_id"].ne(merged["conv_id"].shift(-1)).to_numpy()
    return merged, is_open


def _close_sessions(pdf: pd.DataFrame, carried: dict, gap_ms: int):
    """``_fold_bucket`` in the shell's fold shape: (closed sessions, carried
    ``{conv_id: [n, npii, first_ms, last_ms]}`` of the open ones)."""
    sessions, is_open = _fold_bucket(pdf, carried, gap_ms)
    carried = {
        r.conv_id: [int(r.n_turns), int(r.n_pii_turns), int(r.first_ms), int(r.last_ms)]
        for r in sessions[is_open].itertuples()
    }
    return sessions[~is_open], carried


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
    """The one stateful shell. ``fold(pdf, carried) -> (rows, carried)``
    folds one bucket's rows into its carried per-key values (a JSON-able
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
    next turn is ``gap_ms`` or more after it. Streaming input emits a session
    once the conversation idles past ``gap_ms`` (event-time timeout); batch
    input emits every session including each conversation's last one.

    ``n_buckets`` (default ``DEFAULT_N_BUCKETS``): conversations share
    ``pmod(xxhash64(conv_id), n_buckets)`` buckets, one state row and ONE
    vectorized pandas fold per bucket (``_fold_bucket``) — the ShardRows
    batching analogue (beam/ShardRows.java:66-81): at millions of small
    conversations per-group Arrow/pandas dispatch would dominate. It must
    not change across a checkpoint restart: carried sessions are keyed by
    bucket. Sizing: open conversations per bucket ≈ live_keys / n_buckets;
    keep the packed state row well under the state store's value-size
    comfort zone (a few MB) — e.g. 1e8 live conversations → n_buckets ≈
    1e5–1e6 spread over executors."""
    return _bucketed(
        df,
        "conv_id",
        "ts",
        watermark,
        gap_ms,
        n_buckets,
        CONV_OUTPUT_SCHEMA,
        lambda pdf, carried: _close_sessions(pdf, carried, gap_ms),
        lambda k, v: (k, *v),
    )
