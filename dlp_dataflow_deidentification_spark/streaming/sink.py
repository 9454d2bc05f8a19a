"""Exactly-once idempotent sink with per-partition lineage + metrics.

Replaces the reference's BigQuery streaming-insert sink
(common/BigQueryDynamicWriteTransform.java:68-143; at-least-once with
ignoreInsertIds, or Storage Write API exactly-once) with a
``foreachBatch`` committer that is **idempotent per batchId**:

* each micro-batch is written ONCE (one Spark job) into a staging directory,
  then renamed to ``data/batch_id=<id>/`` (one directory per batch — the
  Iceberg analogue is an idempotent append snapshot tagged with the
  batchId);
* a ``CommitLog`` entry (streaming/commitlog.py) records the commit plus
  lineage (row count, per-partition row counts, min/max event time, wall
  time, the reconciliation counters and the leg's schema);
* a batch whose ledger entry exists is skipped entirely, so Structured
  Streaming's at-least-once ``foreachBatch`` retries and checkpoint
  replays become exactly-once end-to-end.

**Dead-letter leg.** With ``dead_letter`` set and the batch carrying the
boolean ``DEAD_COL`` plus the ``ERROR_COL`` reason (null on good rows), the
same write pass also produces the dead-letter rows — the reference's TupleTag
success/failure side outputs of ONE DoFn pass
(common/DLPTransform.java:129-154). The write partitions by ``ERROR_COL``:
the null-reason subtree is renamed to this sink's ``data/batch_id=<id>/``
and every reason subtree to the dead-letter sink's
``data/batch_id=<id>/error_message=<reason>/``; each leg then commits its
own ledger entry (a batch without dead rows commits a zero-row dead entry
and writes no dead files). A leg already committed is skipped, so a crash
between the two commits is finished by the replay without duplicates. The
dead leg keeps every other partition directory of the write (e.g.
``role=``); its ledger entry records the leg schema, and
``read_committed`` reads partition values back with their original types.

Lineage is computed EXECUTOR-SIDE in the same pass as the write: the
``observe()`` node carries, per leg, one conditional-count aggregate per
write partition (``spark_partition_id()`` buckets), plus the batch-wide
``rows_in``; the sink raises before committing unless ``rows_in = n_rows +
n_dead`` (a NULL ``DEAD_COL`` belongs to neither leg). After the write nothing
touches the output files — no directory walk, no parquet-footer reads —
beyond one listing of the staging root, whose entries are the legs.

The commit interface has two implementations (commitlog.py):
``LocalFSCommitLog`` (atomic rename; used here) and ``IcebergCommitLog``
(the object-store-safe cluster form — data + ledger entry in ONE atomic
Iceberg snapshot, jar-gated in this sandbox).
"""
from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .commitlog import CommitLog, LocalFSCommitLog

# one observe() aggregate per lineage bucket and leg, each evaluated PER ROW
# in the write pass — bounded so a wide batch (thousands of planned
# partitions) cannot turn lineage into O(partitions) CASE WHENs per row:
# above the cap, buckets are pid % cap groups (the entry records the fold)
LINEAGE_MAX_BUCKETS = 64

# dead-letter routing columns: the boolean flag the job derives per row and
# the reason string (null on good rows) the write partitions by
DEAD_COL = "__dead"
ERROR_COL = "error_message"
# Spark's directory name for a null (or empty-string) partition value
_NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def _partition_count(batch_df: DataFrame) -> int:
    """Planned partition count of the write stage (physical planning only —
    no job, no data read)."""
    try:
        return max(1, batch_df.rdd.getNumPartitions())
    except Exception:
        return 1


@dataclass
class IdempotentBatchSink:
    """foreachBatch target: exactly-once parquet append + lineage ledger,
    with an optional dead-letter leg written in the same pass."""

    output_dir: str
    event_time_col: str = "ts"
    key_cols: tuple = ("conv_id", "turn_idx")
    # dynamic destinations (BigQueryDynamicWriteTransform analogue): partition
    # each batch directory by this column so every source key gets its own
    # sub-table, while the batchId ledger still governs exactly-once
    partition_col: str | None = None
    # atomic commit point; swap for IcebergCommitLog on a cluster
    commit_log: CommitLog = field(default=None)  # type: ignore[assignment]
    # rows flagged DEAD_COL commit here, under the same batch id
    dead_letter: "IdempotentBatchSink | None" = None

    def __post_init__(self) -> None:
        if self.commit_log is None:
            self.commit_log = LocalFSCommitLog(self.ledger_dir)

    @property
    def data_dir(self) -> str:
        return os.path.join(self.output_dir, "data")

    @property
    def ledger_dir(self) -> str:
        return os.path.join(self.output_dir, "_ledger")

    def batch_dir(self, batch_id: int) -> str:
        return os.path.join(self.data_dir, f"batch_id={batch_id}")

    def is_committed(self, batch_id: int) -> bool:
        return self.commit_log.is_committed(batch_id)

    def _leg_metrics(self, pid, nparts: int, rows, cols: list, tag: str) -> list:
        """observe() aggregates over the rows of one leg (``rows``: a boolean
        column; a NULL counts in no leg)."""
        exprs = [
            F.count(F.when(rows, 1)).alias(f"{tag}n_rows"),
            # one named conditional-count aggregate per lineage bucket; the
            # modulo also absorbs planned-vs-executed drift (AQE coalesce,
            # runtime re-plan), so the total always reconciles with n_rows
            *[
                F.count(F.when(rows & (pid == i), 1)).alias(f"{tag}_p{i}")
                for i in range(nparts)
            ],
        ]
        if self.event_time_col in cols:
            et = F.when(rows, F.col(self.event_time_col).cast("timestamp"))
            exprs += [
                F.min(et).cast("string").alias(f"{tag}min_event_time"),
                F.max(et).cast("string").alias(f"{tag}max_event_time"),
            ]
        if self.key_cols and self.key_cols[0] in cols:
            exprs.append(
                F.approx_count_distinct(F.when(rows, F.col(self.key_cols[0]))).alias(
                    f"{tag}approx_keys"
                )
            )
        return exprs

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        split = self.dead_letter is not None and DEAD_COL in batch_df.columns
        # (sink, its rows, observe() name prefix) per leg
        legs = [(self, F.lit(True), "m_")]
        if split:
            dead = F.col(DEAD_COL)
            legs = [(self, ~dead, "m_"), (self.dead_letter, dead, "d_")]
        pending = [leg for leg in legs if not leg[0].is_committed(batch_id)]
        if not pending:
            # retry / replay of an already-committed batch → exactly-once no-op
            return
        t0 = time.time()
        staging = os.path.join(self.output_dir, "_staging", f"batch_id={batch_id}")

        # lineage/metrics in the same pass as the write (observe() avoids a
        # second scan of the batch; Counter/Distribution analogue of
        # beam/BatchRequestForDLP.java:37-40). Per-partition counts are
        # conditional counts over spark_partition_id() — computed on the
        # executors inside the write pass itself.
        from pyspark.sql import Observation

        planned = _partition_count(batch_df)
        nparts = min(planned, LINEAGE_MAX_BUCKETS)
        # CollectMetrics only admits nondeterministic expressions as DIRECT
        # aggregate arguments, so spark_partition_id() is materialized as a
        # column UNDER the observe node (same stage as the write — the ids
        # are the write tasks') and the metrics reference the plain attribute.
        # The helper column name is collision-proofed against user columns.
        pid_col = "_lineage_pid"
        while pid_col in batch_df.columns:
            pid_col += "_"
        batch_df = batch_df.withColumn(
            pid_col, F.spark_partition_id() % F.lit(nparts)
        )
        pid = F.col(pid_col)
        obs = Observation(f"lineage_{batch_id}")
        metrics_exprs = [F.count(F.lit(1)).alias("rows_in")]
        for leg, rows, tag in legs:
            metrics_exprs += leg._leg_metrics(pid, nparts, rows, batch_df.columns, tag)
        written = batch_df.observe(obs, *metrics_exprs).drop(pid_col)
        parts = [self.partition_col] if self.partition_col else []
        if split:
            written = written.drop(DEAD_COL)
            parts = [ERROR_COL, *parts]
        writer = written.write.mode("overwrite")
        if parts:
            writer = writer.partitionBy(*parts)
        writer.parquet(staging)

        got = dict(obs.get)
        counters = {
            "rows_in": got["rows_in"],
            "n_rows": got["m_n_rows"],
            "n_dead": got.get("d_n_rows", 0),
        }
        if counters["rows_in"] != counters["n_rows"] + counters["n_dead"]:
            raise RuntimeError(
                f"batch {batch_id}: rows_in != n_rows + n_dead {counters} "
                f"(a NULL {DEAD_COL} routes a row to neither leg)"
            )
        good = f"{ERROR_COL}={_NULL_PARTITION}"
        for leg, _, tag in pending:
            target = leg.batch_dir(batch_id)
            # drop an uncommitted leftover of an attempt that crashed
            # before its ledger commit
            shutil.rmtree(target, ignore_errors=True)
            if not split:
                moves = [(staging, target)]
            elif leg is self:  # the null-reason subtree
                moves = [(os.path.join(staging, good), target)]
            else:  # every reason subtree
                moves = [
                    (os.path.join(staging, n), os.path.join(target, n))
                    for n in os.listdir(staging)
                    if n.startswith(f"{ERROR_COL}=") and n != good
                ]
            for src, dst in moves:
                if os.path.isdir(src):
                    os.makedirs(os.path.dirname(dst), exist_ok=True)
                    shutil.move(src, dst)
            metrics = {k[len(tag):]: v for k, v in got.items() if k.startswith(tag)}
            leg_df = written.drop(ERROR_COL) if split and leg is self else written
            entry = {
                "batch_id": batch_id,
                "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                "wall_seconds": round(time.time() - t0, 3),
                "path": target,
                "metrics": {k: v for k, v in metrics.items() if not k.startswith("_p")},
                # batch-wide reconciliation, identical in both legs' entries
                "counters": counters,
                # per-partition lineage: one row-count per write-stage
                # partition (pid % bucket group when the batch is planned
                # wider than LINEAGE_MAX_BUCKETS — planned_partitions records
                # the fold), computed executor-side in the write pass
                "partitions": [
                    {"partition": i, "rows": int(n)}
                    for i in range(nparts)
                    if (n := metrics[f"_p{i}"])
                ],
                "planned_partitions": planned,
                # partition values are read back with these types
                "schema": leg_df.schema.json(),
            }
            leg.commit_log.commit(batch_id, entry)
        shutil.rmtree(staging, ignore_errors=True)

    # -- read side ---------------------------------------------------------
    def read_committed(self, spark) -> DataFrame:
        """Read back only ledger-committed batches (dirty/aborted batch
        directories without a ledger entry are invisible — snapshot-isolation
        analogue), with a ``batch_id`` column. Batches are read per recorded
        schema and unioned by name, so entries written before the schema was
        recorded (the flat dead-letter layout, ``error_message`` a data
        column) read alongside the current layout. A table whose committed
        batches all hold zero rows reads as an empty frame of the recorded
        schema."""
        ids = self.committed_ids()
        if not ids:
            raise FileNotFoundError(f"no committed batches under {self.output_dir}")
        groups: dict = {}
        for i in ids:
            e = self.commit_log.entry(i)
            paths = groups.setdefault(e.get("schema"), [])
            # a zero-row leg of the current layout has no directory
            if "schema" not in e or e["metrics"]["n_rows"]:
                paths.append(self.batch_dir(i))
        frames, empty = [], None
        for schema, paths in groups.items():
            reader = spark.read.option("basePath", self.data_dir)
            if schema is None:  # legacy entry: partition types inferred
                frames.append(reader.parquet(*paths))
                continue
            st = StructType.fromJson(json.loads(schema))
            if paths:
                frames.append(reader.schema(st).parquet(*paths).select(*st.names, "batch_id"))
            else:
                empty = spark.createDataFrame([], st).withColumn(
                    "batch_id", F.lit(None).cast("int")
                )
        if not frames:
            return empty
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f, allowMissingColumns=True)
        return out

    def committed_ids(self) -> list[int]:
        return self.commit_log.committed_ids()

    def lineage(self) -> list[dict]:
        return [self.commit_log.entry(i) for i in self.committed_ids()]
