"""Tests of the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import feeder  # noqa: E402
import gen  # noqa: E402

SHAPE = gen.TranscriptShape(n_turns=4_000, n_files=8, n_conversations=300)


def test_generator_is_deterministic_per_seed(tmp_path):
    a = gen.write_transcript_files(SHAPE, 7, str(tmp_path / "a"))
    b = gen.write_transcript_files(SHAPE, 7, str(tmp_path / "b"))
    c = gen.write_transcript_files(SHAPE, 8, str(tmp_path / "c"))
    read = lambda paths: pa.concat_tables(pq.read_table(p) for p in paths)  # noqa: E731
    assert read(a).equals(read(b))
    assert not read(a).equals(read(c))
    assert [checks.file_checksum(p) for p in a] == [checks.file_checksum(p) for p in b]


def test_generator_shape_knobs(tmp_path):
    t = gen.transcript_table(SHAPE, 3)
    assert t.schema == gen.TRANSCRIPT_ARROW_SCHEMA
    n = SHAPE.n_turns
    conv = t.column("conv_id").to_numpy(zero_copy_only=False)
    hot = (conv == "conv-hot").mean()
    nulls = t.column("text").null_count / n
    assert abs(hot - SHAPE.hot_share) < 0.02
    assert 0.002 < nulls < 0.03
    ts = t.column("ts").cast(pa.int64()).to_numpy()
    assert 0.02 < (np.diff(ts) < 0).mean() < 0.08  # out-of-order share
    # turn_idx is 0..k-1 within each conversation
    for cid in ("conv-hot", conv[1]):
        idx = np.sort(t.column("turn_idx").to_numpy()[conv == cid])
        assert (idx == np.arange(len(idx))).all()


def test_files_are_renamed_into_place_with_increasing_mtimes(tmp_path):
    paths = gen.write_transcript_files(SHAPE, 1, str(tmp_path))
    assert sorted(os.listdir(tmp_path)) == [os.path.basename(p) for p in paths]
    mtimes = [os.stat(p).st_mtime for p in paths]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)


class FakeClock:
    """A clock that only ``sleep`` (or a test) advances."""

    def __init__(self, t0):
        self.t = t0

    def __call__(self):
        return self.t

    def sleep(self, s):
        self.t += s


def test_feeder_releases_on_schedule_and_records_lag(tmp_path):
    src, dst = tmp_path / "src", tmp_path / "dst"
    src.mkdir()
    dst.mkdir()
    for k in range(5):
        (src / f"f{k}").write_text("x")
    (src / ".hidden").write_text("x")
    clock = FakeClock(100.0)
    real_replace = os.replace

    def slow_replace(a, b):
        # the third release stalls the feeder for 0.35 s
        if b.endswith("f2"):
            clock.t += 0.35
        real_replace(a, b)

    os.replace = slow_replace
    try:
        log = feeder.release(str(src), str(dst), 100.0, 0.1, clock=clock, sleep=clock.sleep)
    finally:
        os.replace = real_replace
    assert [r["file"] for r in log] == [f"f{k}" for k in range(5)]
    assert [r["due"] for r in log] == feeder.schedule(100.0, 5, 0.1)
    assert sorted(os.listdir(dst)) == [f"f{k}" for k in range(5)]
    lag = feeder.lag_ms(log)
    # the schedule does not slip after a stall: f3 and f4 keep their due
    # times and are released as soon as the feeder catches up
    assert lag[0] == 0 and lag[1] == 0
    assert abs(lag[2] - 350) < 1e-6
    assert abs(lag[3] - 250) < 1e-6 and abs(lag[4] - 150) < 1e-6


def test_percentile_needs_ten_samples_beyond():
    assert checks.samples_beyond(200, 95) == 10
    assert checks.percentile_supported(200, 95)
    assert not checks.percentile_supported(199, 95)
    assert checks.percentile_supported(20, 50)
    assert not checks.percentile_supported(100, 99)


def test_backlog_growth_is_detected():
    steady = [100.0 + (k % 7) for k in range(200)]
    growing = [100.0 + 40 * k for k in range(200)]
    assert not checks.backlog_grew(steady)
    assert checks.backlog_grew(growing)


def test_digest_catches_a_one_row_difference():
    base = pa.table({"conv_id": ["a", "b", "b", "c"], "turn_idx": [0, 0, 1, 0],
                     "text": ["x", "y", "y", None]})
    shuffled = base.take([3, 1, 0, 2])
    want = checks.row_hashes(base)
    assert checks.multiset_diff(want, checks.row_hashes(shuffled)) == (0, 0)
    changed = base.set_column(2, "text", pa.array(["x", "y", "z", None]))
    assert checks.multiset_diff(want, checks.row_hashes(changed)) == (1, 1)
    dropped = base.slice(0, 3)
    assert checks.multiset_diff(want, checks.row_hashes(dropped)) == (1, 0)
    duplicated = pa.concat_tables([base, base.slice(0, 1)])
    assert checks.multiset_diff(want, checks.row_hashes(duplicated)) == (0, 1)


def test_digest_is_engine_neutral():
    spark_like = pa.table({"n": pa.array([1, 2], pa.int32()), "j": [0.1234567, 0.5]})
    duck_like = pa.table({"j": [0.12345671, 0.5], "n": pa.array([1, 2], pa.int64())})
    got, want = checks.row_hashes(spark_like), checks.row_hashes(duck_like)
    assert checks.multiset_diff(want, got) == (0, 0)


def test_oracle_cache_computes_once(tmp_path):
    cache = checks.OracleCache(str(tmp_path))
    calls = []

    def compute():
        calls.append(1)
        return np.array([1, 2, 3], dtype=np.uint64)

    a = cache.get_or_compute("select 1", ["sum"], compute)
    b = cache.get_or_compute("select 1", ["sum"], compute)
    c = cache.get_or_compute("select 1", ["other"], compute)
    assert len(calls) == 2
    assert (a == b).all() and (a == c).all()
