"""Commit-interface tests: the atomic ledger behind the exactly-once sink
(streaming/commitlog.py) and the executor-side per-partition lineage the
sink records through it (no driver file I/O beyond the single ledger JSON)."""
import json
import os

import pytest

from dlp_dataflow_deidentification_spark.streaming.commitlog import (
    CommitLog,
    IcebergCommitLog,
    LocalFSCommitLog,
    LocalFSSchemaLedger,
)
from dlp_dataflow_deidentification_spark.streaming.sink import IdempotentBatchSink


def test_localfs_commitlog_roundtrip(tmp_path):
    log = LocalFSCommitLog(str(tmp_path / "ledger"))
    assert isinstance(log, CommitLog)
    assert not log.is_committed(0)
    assert log.committed_ids() == []
    log.commit(0, {"batch_id": 0, "metrics": {"n_rows": 3}})
    log.commit(2, {"batch_id": 2, "metrics": {"n_rows": 5}})
    assert log.is_committed(0) and log.is_committed(2) and not log.is_committed(1)
    assert log.committed_ids() == [0, 2]
    assert log.entry(2)["metrics"]["n_rows"] == 5
    # no stray temp files after the atomic rename
    assert not [f for f in os.listdir(tmp_path / "ledger") if f.endswith(".tmp")]


def test_schema_ledger_keep_one(tmp_path):
    led = LocalFSSchemaLedger(str(tmp_path))
    assert led.get("t") is None
    assert led.put_if_absent("t", ["a", "b"], "one.csv") == ["a", "b"]
    # second writer loses: keep-one (ResolveDuplicatesCombineFn contract)
    assert led.put_if_absent("t", ["x"], "two.csv") == ["a", "b"]
    assert led.get("t") == ["a", "b"]
    with open(tmp_path / "t" / "_schema.json") as f:
        assert json.load(f)["source"] == "one.csv"


def test_iceberg_commitlog_is_jar_gated(spark):
    # the sandbox has no Iceberg runtime: constructing the cluster impl must
    # fail loudly with provisioning instructions, not half-work
    with pytest.raises(RuntimeError, match="iceberg"):
        IcebergCommitLog(spark, "cat.db.t")


def test_sink_lineage_is_executor_side_and_reconciles(spark, tmp_path):
    """Per-partition lineage comes from the observe() pass (write-stage
    spark_partition_id buckets): entries must reconcile with n_rows, cover
    multiple partitions for a multi-partition batch, and involve no output
    re-listing (asserted by pointing the data dir at a path the driver
    could not re-list after a rename)."""
    sink = IdempotentBatchSink(str(tmp_path / "out"))
    df = spark.range(0, 1000, 1, 7).selectExpr(
        "cast(id as string) as conv_id",
        "cast(id as int) as turn_idx",
        "current_timestamp() as ts",
    )
    sink(df, 0)
    [entry] = sink.lineage()
    parts = entry["partitions"]
    assert parts and sum(p["rows"] for p in parts) == entry["metrics"]["n_rows"] == 1000
    assert len(parts) == 7  # one bucket per write-stage partition
    assert all(isinstance(p["partition"], int) for p in parts)
    # replay is a no-op (exactly-once) and does not duplicate lineage
    sink(df, 0)
    assert len(sink.lineage()) == 1


def test_sink_lineage_no_driver_listing_of_output(spark, tmp_path, monkeypatch):
    """The lineage pass must not walk the written files on the driver:
    os.walk / pyarrow footer reads under the data dir are forbidden."""
    import pyarrow.parquet as pq

    calls = []
    real_walk = os.walk
    monkeypatch.setattr(
        os, "walk", lambda *a, **k: calls.append(("walk", a)) or real_walk(*a, **k)
    )
    real_md = pq.read_metadata
    monkeypatch.setattr(
        pq,
        "read_metadata",
        lambda *a, **k: calls.append(("footer", a)) or real_md(*a, **k),
    )
    sink = IdempotentBatchSink(str(tmp_path / "out2"))
    df = spark.range(0, 100, 1, 4).selectExpr("cast(id as string) as conv_id")
    sink(df, 0)
    assert calls == []


# -- dead-letter leg: one write pass, two ledgers ---------------------------
def _split_batch(spark, n, dead_if, role="cast(id % 3 as string)"):
    """A batch in the shape the streaming job hands the sink: a boolean
    __dead flag and the error_message reason (null on good rows)."""
    from pyspark.sql import functions as F

    from dlp_dataflow_deidentification_spark.streaming.sink import DEAD_COL, ERROR_COL

    return (
        spark.range(0, n, 1, 3)
        .selectExpr(
            "cast(id as string) as conv_id",
            "cast(id as int) as turn_idx",
            f"{role} as role",
            "current_timestamp() as ts",
            f"{dead_if} as {DEAD_COL}",
        )
        .withColumn(ERROR_COL, F.when(F.col(DEAD_COL), F.lit("boom: bad row")))
    )


def _split_sinks(tmp_path, **kw):
    err = IdempotentBatchSink(str(tmp_path / "err"))
    return IdempotentBatchSink(str(tmp_path / "out"), dead_letter=err, **kw), err


def test_split_sink_legs_reconcile_and_carry_error_message(spark, tmp_path):
    main, err = _split_sinks(tmp_path)
    main(_split_batch(spark, 100, "id % 10 = 0"), 0)
    [m], [d] = main.lineage(), err.lineage()
    assert m["counters"] == d["counters"] == {"rows_in": 100, "n_rows": 90, "n_dead": 10}
    assert m["metrics"]["n_rows"] == 90 and d["metrics"]["n_rows"] == 10
    assert sum(p["rows"] for p in d["partitions"]) == 10
    good, bad = main.read_committed(spark), err.read_committed(spark)
    assert "error_message" not in good.columns and "__dead" not in good.columns
    assert sorted(r.turn_idx for r in good.collect()) == [i for i in range(100) if i % 10]
    rows = bad.collect()
    assert sorted(r.turn_idx for r in rows) == list(range(0, 100, 10))
    assert {r.error_message for r in rows} == {"boom: bad row"}
    assert not os.path.exists(tmp_path / "out" / "_staging" / "batch_id=0")


def test_split_sink_null_dead_flag_fails_before_commit(spark, tmp_path):
    """A NULL __dead belongs to neither leg: the rows_in = n_rows + n_dead
    check raises before either ledger entry is written."""
    main, err = _split_sinks(tmp_path)
    with pytest.raises(RuntimeError, match="rows_in"):
        main(_split_batch(spark, 30, "case when id = 7 then null else id % 5 = 0 end"), 0)
    assert main.committed_ids() == [] and err.committed_ids() == []


def test_split_sink_crash_between_leg_commits_replays_dead_leg_once(
    spark, tmp_path, monkeypatch
):
    main, err = _split_sinks(tmp_path)
    df = _split_batch(spark, 60, "id % 4 = 0")
    real = err.commit_log.commit

    def crash(batch_id, entry):
        raise OSError("killed between the main and dead-letter commits")

    monkeypatch.setattr(err.commit_log, "commit", crash)
    with pytest.raises(OSError):
        main(df, 0)
    assert main.committed_ids() == [0] and err.committed_ids() == []
    main_files = sorted(os.listdir(main.batch_dir(0)))

    monkeypatch.setattr(err.commit_log, "commit", real)
    main(df, 0)  # the replay
    assert main.committed_ids() == [0] and err.committed_ids() == [0]
    assert sorted(os.listdir(main.batch_dir(0))) == main_files  # main untouched
    assert main.read_committed(spark).count() == 45
    assert err.read_committed(spark).count() == 15
    main(df, 0)  # a further replay is a no-op for both legs
    assert err.read_committed(spark).count() == 15


def test_split_sink_zero_dead_batches(spark, tmp_path):
    """A batch without dead rows writes no dead-letter files but commits a
    zero-row dead entry; an error table holding only such batches reads as
    an empty frame with the dead-letter schema, and a later dead batch
    reads normally."""
    main, err = _split_sinks(tmp_path)
    main(_split_batch(spark, 20, "false"), 0)
    assert err.committed_ids() == [0]
    assert err.lineage()[0]["metrics"]["n_rows"] == 0
    assert not os.path.exists(err.batch_dir(0))
    empty = err.read_committed(spark)
    assert empty.count() == 0
    assert empty.columns == ["conv_id", "turn_idx", "role", "ts", "error_message", "batch_id"]

    main(_split_batch(spark, 20, "id < 3"), 1)
    bad = err.read_committed(spark)
    assert bad.columns == empty.columns
    assert sorted((r.batch_id, r.turn_idx) for r in bad.collect()) == [(1, 0), (1, 1), (1, 2)]
    assert main.read_committed(spark).count() == 37


def test_split_sink_partition_values_keep_their_type(spark, tmp_path):
    """With partition_col set, the good rows keep their per-value
    directories and the dead rows keep the column: numeric-looking string
    values read back as the original strings on both legs."""
    main, err = _split_sinks(tmp_path, partition_col="role")
    main(_split_batch(spark, 30, "id % 3 = 0", role="lpad(cast(id % 2 as string), 3, '0')"), 0)
    assert {"role=000", "role=001"} <= set(os.listdir(main.batch_dir(0)))
    for sink in (main, err):
        df = sink.read_committed(spark)
        assert dict(df.dtypes)["role"] == "string"
        assert {(r.turn_idx, r.role) for r in df.collect()} == {
            (i, f"{i % 2:03d}") for i in range(30) if (i % 3 == 0) == (sink is err)
        }


def test_error_table_mixes_flat_and_partitioned_layouts(spark, tmp_path):
    """Batches committed in the earlier flat dead-letter layout
    (error_message a data column, no schema in the entry) read together
    with batches of the partitioned layout."""
    from pyspark.sql import functions as F

    main, err = _split_sinks(tmp_path)
    legacy = (
        _split_batch(spark, 10, "true")
        .drop("__dead")
        .withColumn("error_message", F.lit("old reason"))
    )
    legacy.write.parquet(err.batch_dir(0))
    err.commit_log.commit(0, {"batch_id": 0, "metrics": {"n_rows": 10}})
    main(_split_batch(spark, 10, "id < 4"), 1)
    got = sorted(
        (r.batch_id, r.turn_idx, r.error_message) for r in err.read_committed(spark).collect()
    )
    assert got == [(0, i, "old reason") for i in range(10)] + [
        (1, i, "boom: bad row") for i in range(4)
    ]
