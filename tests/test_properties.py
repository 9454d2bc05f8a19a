"""Property-based tests (hypothesis): invariants the reference's CI never
checks but our engine guarantees. One shared Spark round-trip helper batches
each property's examples into a single job to keep runtime sane."""
import re
import string

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from dlp_dataflow_deidentification_spark.functions import infotypes, transforms

KEY = "0123456789abcdef"

# printable-ish text including PII-like fragments
TEXT = st.text(
    alphabet=string.ascii_letters + string.digits + " .-@:()[]+",
    min_size=0,
    max_size=120,
)


def run_col(spark, values, expr_fn):
    df = spark.createDataFrame([(v,) for v in values], "v string")
    return [r[0] for r in df.select(expr_fn(F.col("v")).alias("o")).collect()]


@settings(max_examples=20, deadline=None)
@given(st.lists(TEXT, min_size=1, max_size=8))
def test_crypto_roundtrip_property(spark, values):
    toks = run_col(
        spark, values, lambda c: transforms.crypto_deterministic(c, KEY)
    )
    back = run_col(
        spark,
        toks,
        lambda c: transforms.crypto_reidentify(c, KEY),
    )
    assert back == values
    # determinism: equal plaintexts ⇒ equal tokens, and vice versa
    for v, t in zip(values, toks):
        for v2, t2 in zip(values, toks):
            assert (v == v2) == (t == t2)


@settings(max_examples=20, deadline=None)
@given(st.lists(TEXT, min_size=1, max_size=8))
def test_replace_with_infotype_matches_python_re(spark, values):
    dets = [infotypes.resolve(n) for n in infotypes.DEFAULT_DETECTOR_ORDER]
    got = run_col(spark, values, lambda c: transforms.replace_with_infotype(c, dets))
    for v, g in zip(values, got):
        expect = v
        for it in dets:
            expect = re.sub(it.pattern, f"[{it.name}]", expect)
        assert g == expect


@settings(max_examples=15, deadline=None)
@given(
    st.lists(st.text(alphabet=string.ascii_letters + "-", min_size=0, max_size=30), min_size=1, max_size=8),
    st.integers(min_value=1, max_value=8),
)
def test_character_mask_invariants(spark, values, n):
    got = run_col(
        spark, values, lambda c: transforms.character_mask(c, "*", n, False, "-")
    )
    for v, g in zip(values, got):
        assert len(g) == len(v)  # masking never changes length
        # skip chars preserved in place
        for i, ch in enumerate(v):
            if ch == "-":
                assert g[i] == "-"
        # number of masked positions == min(n, maskable count)
        maskable = sum(1 for ch in v if ch != "-")
        n_masked = sum(1 for b in g if b == "*")
        assert n_masked == min(n, maskable)


@settings(max_examples=15, deadline=None)
@given(st.lists(st.floats(min_value=-1000, max_value=1000, allow_nan=False), min_size=1, max_size=8))
def test_fixed_size_bucketing_total(spark, values):
    df = spark.createDataFrame([(float(v),) for v in values], "v double")
    got = [
        r[0]
        for r in df.select(
            transforms.fixed_size_bucketing(F.col("v"), 0, 100, 10).alias("o")
        ).collect()
    ]
    for v, g in zip(values, got):
        if v < 0:
            assert g == "<0.0"
        elif v >= 100:
            assert g == ">=100.0"
        else:
            lo = (int(v) // 10) * 10
            assert g == f"{float(lo)}-{float(lo+10)}"


@settings(max_examples=10, deadline=None)
@given(st.lists(TEXT, min_size=1, max_size=6))
def test_inspect_quotes_substring_property(spark, values):
    from dlp_dataflow_deidentification_spark.operators.inspect import inspect

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(values)], "rid int, text string"
    )
    rows = inspect(df, infotypes.DEFAULT_DETECTOR_ORDER, ["text"], ["rid"]).collect()
    for r in rows:
        assert r.quote in values[r.rid]  # every finding is a real substring


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=300, deadline=None)
@given(
    sizes=st.lists(st.integers(min_value=0, max_value=2000), max_size=60),
    carry_bytes=st.integers(min_value=0, max_value=3000),
    carry_rows=st.integers(min_value=0, max_value=5),
    max_bytes=st.integers(min_value=1, max_value=1500),
)
def test_vectorized_packer_equals_scalar_greedy(sizes, carry_bytes, carry_rows, max_bytes):
    """pack_greedy (cumsum+searchsorted) must reproduce the scalar greedy
    rule exactly for any size sequence and any carried-in buffer state
    (the BatchRequestForDLP bag-packing contract)."""
    from dlp_dataflow_deidentification_spark.streaming.stateful import pack_greedy

    if carry_rows == 0:
        carry_bytes = 0
    elif carry_bytes == 0:
        carry_rows = 0

    def scalar():
        buf_b, buf_r, seq, out = carry_bytes, carry_rows, 7, []
        for n in sizes:
            if buf_r and buf_b + n > max_bytes:
                out.append((seq, buf_r, buf_b))
                seq += 1
                buf_b = buf_r = 0
            buf_b += n
            buf_r += 1
        return out, (buf_b, buf_r, seq)

    got = pack_greedy(sizes, carry_bytes, carry_rows, 7, max_bytes)
    want = scalar()
    assert (got[0], tuple(got[1])) == (want[0], tuple(want[1]))


# ---------------------------------------------------------------------------
# native session assembler ≡ per-conversation scalar fold: ties, negative and
# sub-ms timestamps (floored to ms), exact-gap steps, a NULL conversation id
# and NULL text. Each hypothesis example is a batch of generated cases run
# as ONE Spark job: a case's id is folded into its conversation keys, and
# every case sits in its own time band (1 s apart, gap 10 ms) so the cases'
# NULL-key turns never share a session.
# ---------------------------------------------------------------------------


def _scalar_fold(rows_ms_pii, gap_ms):
    """The per-conversation reference session fold in plain Python: rows
    sorted by ms, a new session when ms - last >= gap, else merged into the
    current one. Returns [(n, npii, first, last), ...]."""
    out = []
    for ms, pii in sorted(rows_ms_pii):
        if out and ms - out[-1][3] < gap_ms:
            n, npii, first, _ = out[-1]
            out[-1] = (n + 1, npii + pii, first, ms)
        else:
            out.append((1, pii, ms, ms))
    return out


_CASE = st.lists(
    st.tuples(
        # conv id (few keys → several turns per conversation; None → NULL key)
        st.one_of(st.none(), st.integers(min_value=0, max_value=3)),
        st.integers(min_value=-50, max_value=50),  # ms (small range → ties, gaps)
        st.sampled_from([0, 0, 0, 1, 500, 999]),  # sub-ms µs part
        st.sampled_from([None, "x", "[PII] y", "a [EMAIL_ADDRESS]"]),  # text
    ),
    min_size=1,
    max_size=20,
)


@settings(max_examples=8, deadline=None)
@given(st.lists(_CASE, min_size=5, max_size=20))
def test_assembler_equals_scalar_fold_property(spark, cases):
    from dlp_dataflow_deidentification_spark.streaming.stateful import (
        conversation_assembler,
    )

    GAP = 10
    band_ms = 1000
    rows, want = [], []
    for i, case in enumerate(cases):
        off = (i - len(cases) // 2) * band_ms  # half the cases before 1970
        per_conv = {}
        for c, ms, frac_us, text in case:
            conv = None if c is None else f"{i}:{c}"
            us = (off + ms) * 1000 + frac_us
            rows.append((conv, us, text))
            pii = int(text is not None and re.search(r"\[[A-Z_]+\]", text) is not None)
            per_conv.setdefault(conv, []).append((us // 1000, pii))
        for conv, conv_rows in per_conv.items():
            want.extend((conv, *sess) for sess in _scalar_fold(conv_rows, GAP))
    df = spark.createDataFrame(rows, "conv_id string, us long, text string").select(
        "conv_id", F.timestamp_micros("us").alias("ts"), "text"
    )
    got = [
        (r.conv_id, r.n_turns, r.n_pii_turns, r.first_ms, r.last_ms)
        for r in conversation_assembler(df, gap_ms=GAP).collect()
    ]

    def key(t):
        return (t[0] is not None, t[0] or "", t[3])

    assert sorted(got, key=key) == sorted(want, key=key)


# ---------------------------------------------------------------------------
# bucketed packer fold ≡ per-key scalar greedy packer (pure pandas, no Spark
# job): ``_pack_bucket`` over several delivered chunks, its carry round-
# tripped through JSON like the state row, must emit the batches and leave
# the buffers a per-key scalar packer would — null keys, UTF-8 sizing, null
# payloads, and order_col sorting within each chunk included.
# ---------------------------------------------------------------------------


@settings(max_examples=300, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(min_value=0, max_value=3)),  # key
            st.one_of(st.none(), st.text(alphabet="ab\u00e9\U0001F600", max_size=8)),
            st.integers(min_value=-50, max_value=50),  # event ms
            st.integers(min_value=0, max_value=5),  # order_col value (ties)
        ),
        min_size=2,
        max_size=40,
    ),
    st.lists(st.integers(min_value=1, max_value=39), max_size=2),  # extra cuts
    st.integers(min_value=1, max_value=30),  # max_batch_bytes
    st.booleans(),  # pack in order_col order
)
def test_pack_bucket_equals_scalar_per_key_packer_property(
    rows, cuts, max_bytes, ordered
):
    import json

    import pandas as pd

    from dlp_dataflow_deidentification_spark.streaming.stateful import (
        _NULL_KEY,
        _pack_bucket,
    )

    # at least two delivered chunks, so the carry is exercised
    bounds = sorted({0, len(rows) // 2, len(rows)} | {c for c in cuts if c < len(rows)})
    chunks = [rows[a:b] for a, b in zip(bounds, bounds[1:])]

    carried, got = {}, []
    for chunk in chunks:
        pdf = pd.DataFrame(
            {
                "conv_id": [None if k is None else f"k{k}" for k, _, _, _ in chunk],
                "text": [t for _, t, _, _ in chunk],
                "ts": pd.to_datetime([ms * 1_000_000 for _, _, ms, _ in chunk], unit="ns"),
                "turn_idx": [o for _, _, _, o in chunk],
            }
        )
        out, carried = _pack_bucket(
            pdf, carried, "conv_id", "text", "ts", "turn_idx" if ordered else None, max_bytes
        )
        got.extend(out.itertuples(index=False, name=None))
        carried = json.loads(json.dumps(carried))  # the state-row round trip

    want, state = [], {}
    for chunk in chunks:
        per_key = {}
        for k, text, ms, order in chunk:
            key = _NULL_KEY if k is None else f"k{k}"
            per_key.setdefault(key, []).append((order, text, ms))
        for key, krows in per_key.items():
            if ordered:
                krows = sorted(krows, key=lambda r: r[0])  # stable, like mergesort
            bb, br, seq, max_ms = state.get(key, (0, 0, 0, None))
            for _, text, ms in krows:
                n = len((text or "").encode("utf-8"))
                if br and bb + n > max_bytes:
                    want.append((key, seq, br, bb))
                    seq += 1
                    bb, br = 0, 0
                bb, br = bb + n, br + 1
                max_ms = ms if max_ms is None else max(max_ms, ms)
            state[key] = [bb, br, seq, max_ms]

    assert sorted(got) == sorted(want)
    assert carried == state
