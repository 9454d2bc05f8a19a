"""Seeded input generators for the benchmark (pyarrow + numpy, no Spark).

Transcripts follow the engine's ``TRANSCRIPT_SCHEMA`` (conv_id, turn_idx,
role, text, tool, ts). The knobs the engine's behaviour depends on are
explicit: hot-key share (salting / skew), out-of-order share (watermarks),
NULL-text share (dead-letter leg) and conversation count (state size).

Every file is written under a dot-prefixed temporary name and renamed into
place; Spark's file sources ignore dot-files, so a reader never sees a
partial file. Modification times are set strictly increasing in row order,
because the file stream source orders new files by modification time and a
time-ordered stream keeps every row inside the watermark.

The batch tables (events, documents, embeddings) mirror the shapes the
package's queries read: events feed the transcript view, documents the
dedup/similarity operators, embeddings the vector search.
"""
from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TRANSCRIPT_ARROW_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        # UTC-adjusted so Spark reads it as TimestampType (not TIMESTAMP_NTZ)
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)

BASE_TS_US = 1_767_225_600_000_000  # 2026-01-01T00:00:00Z
# file modification times: far enough in the past that a freshly written
# file never sorts before them
BASE_MTIME = 1_600_000_000


@dataclass(frozen=True)
class TranscriptShape:
    n_turns: int
    n_files: int
    n_conversations: int
    hot_share: float = 0.08
    out_of_order_share: float = 0.05
    null_text_share: float = 0.01
    # global event-time step between consecutive turns; with ~18k
    # conversations a conversation sees a turn every ~15 min on average, so
    # the 30-minute session gap both joins and splits sessions
    step_ms: int = 50
    # out-of-order rows move this far back in event time (inside the
    # sessions workload's 1-minute watermark)
    late_ms: int = 30_000


def _pii_piece(mask: np.ndarray, prefix: str, numbers: np.ndarray | None = None,
               width: int = 0, suffix: str = "") -> pa.Array:
    """``prefix + zero-padded number + suffix`` where ``mask``, else ''."""
    if numbers is None:
        body = pa.array(np.full(len(mask), prefix + suffix, dtype=object), pa.string())
    else:
        digits = pc.utf8_lpad(pa.array(numbers).cast(pa.string()), width, "0")
        body = pc.binary_join_element_wise(prefix, digits, suffix, "")
    return pc.if_else(pa.array(mask), body, "")


def transcript_table(shape: TranscriptShape, seed: int) -> pa.Table:
    """All turns of one workload, in event-time order (before the
    out-of-order displacement)."""
    rng = np.random.default_rng(seed)
    n = shape.n_turns
    i = np.arange(n, dtype=np.int64)
    hot = rng.random(n) < shape.hot_share
    conv_num = rng.integers(0, shape.n_conversations, n)
    conv_id = pc.if_else(
        pa.array(hot),
        "conv-hot",
        pc.binary_join_element_wise(
            "conv-", pc.utf8_lpad(pa.array(conv_num).cast(pa.string()), 6, "0"), ""
        ),
    )
    # turn_idx: 0-based and contiguous per conversation, in generation order
    key = np.where(hot, -1, conv_num)
    order = np.argsort(key, kind="stable")
    sorted_key = key[order]
    starts = np.r_[0, np.flatnonzero(sorted_key[1:] != sorted_key[:-1]) + 1]
    run_len = np.diff(np.r_[starts, n])
    rank = np.arange(n) - np.repeat(starts, run_len)
    turn_idx = np.empty(n, dtype=np.int32)
    turn_idx[order] = rank

    u = rng.random((6, n))
    ids = rng.integers(0, 10**16, n)
    pieces = [
        pc.binary_join_element_wise("turn ", pa.array(i).cast(pa.string()), ""),
        _pii_piece(u[0] < 1 / 3, " email user", i % 100_000, 1, "@example.com"),
        _pii_piece(u[1] < 1 / 4, " call 415-555-", i % 10_000, 4),
        _pii_piece(u[2] < 1 / 5, " iban DE44 5001 0517 5407 3249 31 on file"),
        _pii_piece(u[3] < 1 / 7, " ssn 552-09-", i % 10_000, 4),
        _pii_piece(u[4] < 1 / 11, " user name:", ids, 16),
        _pii_piece(u[5] < 1 / 6, " card 4111 1111 1111 1111 expires soon"),
    ]
    text = pc.binary_join_element_wise(*pieces, "")
    null_text = rng.random(n) < shape.null_text_share
    text = pc.if_else(pa.array(null_text), pa.scalar(None, pa.string()), text)

    r = rng.random(n)
    role = np.where(r < 1 / 9, "tool", np.where(r < 5 / 9, "agent", "customer"))
    tool = np.where(role == "tool", "web_search", "N/A")
    late = rng.random(n) < shape.out_of_order_share
    ts = BASE_TS_US + i * shape.step_ms * 1000 - late * shape.late_ms * 1000
    return pa.table(
        [
            conv_id,
            pa.array(turn_idx),
            pa.array(role, pa.string()),
            text,
            pa.array(tool, pa.string()),
            pa.array(ts, pa.timestamp("us", tz="UTC")),
        ],
        schema=TRANSCRIPT_ARROW_SCHEMA,
    )


def flush_table() -> pa.Table:
    """One turn of a ``__flush__`` conversation far after every generated
    turn: appended last to a stream, it moves the watermark past every open
    session so the stream emits every session."""
    return pa.table(
        {
            "conv_id": ["__flush__"],
            "turn_idx": pa.array([0], pa.int32()),
            "role": ["agent"],
            "text": ["x"],
            "tool": ["N/A"],
            "ts": pa.array([BASE_TS_US + 10**13], pa.timestamp("us", tz="UTC")),
        },
        schema=TRANSCRIPT_ARROW_SCHEMA,
    )


def write_atomic(table: pa.Table, path: str, mtime: float | None = None) -> None:
    """Write ``table`` to a dot-prefixed sibling and rename it into place."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.tmp")
    pq.write_table(table, tmp)
    if mtime is not None:
        os.utime(tmp, (mtime, mtime))
    os.replace(tmp, path)


def write_transcript_files(shape: TranscriptShape, seed: int, out_dir: str,
                           first_mtime: float = BASE_MTIME) -> list[str]:
    """Split the transcript table into ``n_files`` equal, time-ordered
    parquet files; returns their paths in order."""
    os.makedirs(out_dir, exist_ok=True)
    table = transcript_table(shape, seed)
    per = -(-shape.n_turns // shape.n_files)
    paths = []
    for k in range(shape.n_files):
        path = os.path.join(out_dir, f"part-{k:05d}.parquet")
        write_atomic(table.slice(k * per, per), path, mtime=first_mtime + k)
        paths.append(path)
    return paths


# ---------------------------------------------------------------------------
# batch tables

EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]


def batch_tables(scale: float, seed: int) -> dict[str, pa.Table]:
    """events / documents / embeddings at ``scale`` (1.0 = 1M events, 50k
    documents, 20k vectors) with the column types the package's queries
    expect. Documents carry planted near-duplicate families (a base text
    plus one or more ' dup' suffixes) so the dedup operators find pairs."""
    rng = np.random.default_rng(seed)
    n_ev = int(1_000_000 * scale)
    ts = np.sort(rng.choice(30 * 86_400 * 1_000_000, n_ev, replace=False))
    events = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": pa.array(1_704_067_200_000_000 + ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(1, int(15_000 * scale)), n_ev)),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)]),
            "value": pa.array(np.round(rng.random(n_ev) * 560.21, 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )

    n_doc = int(50_000 * scale)
    lengths = rng.integers(8, 100, n_doc)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lengths.sum()))]
    bounds = np.r_[0, np.cumsum(lengths)]
    texts = [" ".join(words[bounds[k]:bounds[k + 1]]) for k in range(n_doc)]
    # ~4.7% of documents are near-duplicates of an earlier one
    for k in np.flatnonzero(rng.random(n_doc) < 0.047):
        if k:
            copies = int(rng.choice([1, 2, 3], p=[0.984, 0.012, 0.004]))
            texts[k] = texts[rng.integers(0, k)] + " dup" * copies
    documents = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)]),
            "source": pa.array([f"src{k % 20}" for k in range(n_doc)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )

    n_vec = int(20_000 * scale)
    v = rng.standard_normal((n_vec, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    embeddings = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vec).astype(np.int32)),
        }
    )
    return {"events": events, "documents": documents, "embeddings": embeddings}


def write_batch_tables(scale: float, seed: int, out_dir: str) -> None:
    """One parquet file with one row group per table, like the package's
    test tables."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in batch_tables(scale, seed).items():
        write_atomic(table, os.path.join(out_dir, f"{name}.parquet"))
