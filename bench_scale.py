"""Recorded data-volume scale curve for the dedup family (round-3 probe,
promoted to a reproducible artifact).

Reruns the 5k/50k/500k-document measurement BASELINE.md describes and
writes ``BENCH_DEDUP_SCALE.json`` so the flat-cost claim is a measured,
re-runnable file rather than prose:

* corpus: CONSTANT-truth-density near-dup groups — every level is built
  from 10-member clusters (group text = base doc with ~1/3 of its words
  deterministically group-salted, so different groups share almost no
  5-gram shingles and land on far-apart simhash fingerprints; within a
  group only trailing marker tokens differ → Jaccard ~0.85). True-pair
  count grows LINEARLY with docs (4.5 pairs/doc at every level), so the
  wall-clock curve measures per-row infrastructure cost, not output
  growth;
* each level's corpus is WRITTEN TO PARQUET first and every operator reads
  from that scan (realistic split planning), timed end-to-end via count();
* operators: exact_dedup (hash-groupBy), minhash_dedup_pairs (96/48 LSH +
  full exact-Jaccard verify, threshold 0.5), simhash_pairs (pigeonhole
  chunks, hamming<=3), plus the text-quality scorer as the linear per-row
  baseline;
* SPARK_GRAFT_SCALE_ADVERSARIAL=1 instead runs the round-3 hostile shape
  at 500k docs — ONE 100-member near-dup cluster per base doc (~50 true
  pairs/doc, ~25M-pair truth, heavy fingerprint bias) — the corpus that
  exposed the round-3 OOM/join-duplication scale bugs; the claim there is
  "completes memory-flat", not a cost curve.

Env knobs: SPARK_GRAFT_SCALE_LEVELS (default "5000,50000,500000"),
SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS (32),
SPARK_GRAFT_SCALE_WORKDIR (default /dev/shm/dedup_scale).

Run EXCLUSIVELY (no concurrent pytest/bench) and expect the sandbox's
co-tenant jitter band (+-2-4x on individual numbers; the CURVE SHAPE —
~2x wall per 10x docs at these sizes — is the claim under test).
"""
from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


GROUP_SIZE = 10


def build_corpus(
    spark, sf_dir: str, n_docs: int, out_dir: str, copies_per_group: int = GROUP_SIZE
) -> str:
    """Constant-truth-density corpus: ``n_docs // copies_per_group`` groups,
    group g derived from base doc ``g % n_base`` with every word
    group-salted with probability 1/3 (deterministic xxhash on (word,
    position, g) — cross-group 5-gram overlap ~2%, cross-group simhash
    far apart), then ``copies_per_group`` near-dup copies per group
    (trailing marker tokens only). doc_id = g*100 + copy. Written once;
    operators read the parquet scan."""
    base = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    n_base = base.count()
    n_groups = max(1, n_docs // copies_per_group)
    reps = (n_groups + n_base - 1) // n_base
    r = F.explode(F.array(*[F.lit(i) for i in range(reps)])).alias("r")
    g = (F.col("r") * F.lit(n_base) + F.col("doc_id")).alias("g")
    grouped = (
        base.select("doc_id", "text", r)
        .select("text", g)
        .filter(F.col("g") < n_groups)
    )
    words = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda w: w != "")
    grouped = grouped.select("g", words.alias("w"))
    salted = F.transform(
        F.col("w"),
        lambda w, i: F.when(
            F.pmod(
                F.xxhash64(F.concat_ws(":", w, i.cast("string"), F.col("g").cast("string"))),
                F.lit(3),
            )
            == 0,
            F.concat(w, F.lit("g"), F.col("g").cast("string")),
        ).otherwise(w),
    )
    gtext = F.concat_ws(" ", salted)
    grouped = grouped.select("g", gtext.alias("gt"))
    c = F.explode(F.array(*[F.lit(i) for i in range(copies_per_group)])).alias("c")
    out = grouped.select("g", "gt", c).select(
        (F.col("g") * F.lit(100) + F.col("c")).alias("doc_id"),
        F.concat(
            F.col("gt"),
            F.lit(" marker"),
            F.col("c").cast("string"),
            F.lit(" variant"),
            F.pmod(F.col("g") + F.col("c"), F.lit(7)).cast("string"),
        ).alias("text"),
    )
    path = os.path.join(out_dir, f"docs_{n_docs}")
    shutil.rmtree(path, ignore_errors=True)
    out.write.mode("overwrite").parquet(path)
    return path


def build_adversarial_corpus(spark, sf_dir: str, n_docs: int, out_dir: str) -> str:
    """The round-3 hostile 500k shape: every base doc replicated into ONE
    (n_docs/n_base)-member near-dup cluster (append-only perturbation, so
    fingerprints are also heavily biased). Truth is ~quadratic in cluster
    size — this validates memory-flatness under bucket pressure, not cost."""
    base = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    n_base = base.count()
    copies = max(0, (n_docs // n_base) - 1)
    k = F.explode(F.array(*[F.lit(i) for i in range(1, copies + 1)]))
    perturbed = base.select("doc_id", "text", k.alias("k")).select(
        (F.col("doc_id") + F.lit(1_000_000) * F.col("k")).alias("doc_id"),
        F.concat(
            F.col("text"),
            F.lit(" marker"),
            F.col("k").cast("string"),
            F.lit(" variant"),
            ((F.col("doc_id") + F.col("k")) % 7).cast("string"),
        ).alias("text"),
    )
    path = os.path.join(out_dir, f"adv_{n_docs}")
    shutil.rmtree(path, ignore_errors=True)
    base.unionByName(perturbed).write.mode("overwrite").parquet(path)
    return path


def timed(fn) -> tuple[float, int]:
    t0 = time.time()
    n = fn()
    return round(time.time() - t0, 3), n


def run_level(spark, path: str) -> dict:
    from dlp_dataflow_deidentification_spark.functions import text as T
    from dlp_dataflow_deidentification_spark.operators import dedup

    docs = spark.read.parquet(path)
    out = {"n_docs": docs.count()}

    w, n = timed(lambda: dedup.exact_dedup(docs).count())
    out["exact_dedup"] = {"wall_sec": w, "rows": n}

    w, n = timed(
        lambda: dedup.minhash_dedup_pairs(
            docs, num_hashes=96, bands=48, shingle_n=5, threshold=0.5
        ).count()
    )
    out["minhash_dedup"] = {"wall_sec": w, "rows": n}

    w, n = timed(lambda: dedup.simhash_pairs(docs, max_hamming=3).count())
    out["simhash_pairs"] = {"wall_sec": w, "rows": n}

    w, n = timed(
        lambda: docs.select(T.quality_score(F.col("text")).alias("q"))
        .filter("q >= 0")
        .count()
    )
    out["quality_score"] = {"wall_sec": w, "rows": n}
    return out


def run_stateful_curve(spark, workdir: str, turns: int, conv_levels: list[int]) -> dict:
    """Group-count scale curve for the chained deid → stateful-sessions
    stream (writes BENCH_STATEFUL_SCALE.json): FIXED ``turns`` total,
    conversations swept 5k/50k/500k — isolating per-GROUP overhead from
    per-row cost. One variant per level, the native ``session_window``
    assembler (the bench/production path): cost should be ~flat across
    group counts — one state-store row per open session, no per-group
    dispatch.

    The committed BENCH_STATEFUL_SCALE.json predates the native assembler:
    its ``bucketed_256`` leg is the earlier bucketed pandas fold (100.8k →
    124.6k turns/s from 5k to 50k conversations), and its per-key leg (one
    state row and one pandas dispatch per conversation) fell from 103.8k to
    37.6k turns/s.
    """
    import dlp_dataflow_deidentification_spark as dds
    from dlp_dataflow_deidentification_spark.sources.transcripts import (
        synthesize_transcripts,
    )
    from dlp_dataflow_deidentification_spark.streaming import jobs

    here = os.path.dirname(os.path.abspath(__file__))
    template = dds.DeidTemplate.from_file(
        os.path.join(here, "configs/deid_transcripts.json")
    )
    jobs.use_rocksdb_state_store(spark)
    out = {"turns": turns, "levels": []}
    # JIT/codegen/Arrow warmup: without this the first level pays one-time
    # JVM costs and the curve's head is inflated ~2x
    warm_levels = [("__warm__", min(conv_levels), max(10_000, turns // 10))]
    for tag, n_convs, n_turns in warm_levels:
        in_dir = os.path.join(workdir, f"turns{tag}")
        shutil.rmtree(in_dir, ignore_errors=True)
        synthesize_transcripts(spark, n_turns, n_conversations=n_convs).repartition(
            8
        ).write.mode("overwrite").parquet(in_dir)
        ckpt = os.path.join(workdir, f"ckpt{tag}")
        shutil.rmtree(ckpt, ignore_errors=True)
        q = (
            jobs.deid_sessions_stream(
                spark, template, in_dir, gap_ms=1_800_000,
                watermark="1 minute", max_files_per_trigger=8,
            )
            .writeStream.format("noop")
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(600)
        if q.isActive:
            q.stop()
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(in_dir, ignore_errors=True)
    for n_convs in conv_levels:
        in_dir = os.path.join(workdir, f"turns_{n_convs}")
        shutil.rmtree(in_dir, ignore_errors=True)
        synthesize_transcripts(spark, turns, n_conversations=n_convs).repartition(
            32
        ).write.mode("overwrite").parquet(in_dir)
        level = {"n_conversations": n_convs}
        ckpt = os.path.join(workdir, f"ckpt_{n_convs}")
        shutil.rmtree(ckpt, ignore_errors=True)
        t0 = time.time()
        stream = jobs.deid_sessions_stream(
            spark,
            template,
            in_dir,
            gap_ms=1_800_000,
            watermark="1 minute",
            max_files_per_trigger=8,
        )
        q = (
            stream.writeStream.format("noop")
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        finished = q.awaitTermination(1800)
        if q.isActive:
            q.stop()
        wall = time.time() - t0
        level["sessions"] = {
            "wall_sec": round(wall, 2),
            # a timed-out run processed only part of `turns` — a rate
            # over the full count would overstate throughput
            "turns_per_sec": round(turns / wall, 1) if finished else None,
            "finished": finished,
        }
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(in_dir, ignore_errors=True)
        out["levels"].append(level)
        print(json.dumps(level), flush=True)
    b = [lv["sessions"]["wall_sec"] for lv in out["levels"]]
    if len(b) >= 2:
        out["wall_ratio_last_vs_first"] = round(b[-1] / b[0], 2)
        out["conv_ratio"] = round(
            out["levels"][-1]["n_conversations"] / out["levels"][0]["n_conversations"], 1
        )
    return out


def main() -> None:
    levels = [
        int(x)
        for x in os.environ.get("SPARK_GRAFT_SCALE_LEVELS", "5000,50000,500000").split(",")
    ]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    workdir = os.environ.get("SPARK_GRAFT_SCALE_WORKDIR", "/dev/shm/dedup_scale")
    os.makedirs(workdir, exist_ok=True)

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.files.maxPartitionBytes", "8m")
        .config("spark.driver.memory", "48g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    if os.environ.get("SPARK_GRAFT_SCALE_STATEFUL") == "1":
        conv_levels = [
            int(x)
            for x in os.environ.get(
                "SPARK_GRAFT_SCALE_CONVS", "5000,50000,500000"
            ).split(",")
        ]
        turns = int(os.environ.get("SPARK_GRAFT_SCALE_TURNS", "1000000"))
        result = {"cpus": cpus, **run_stateful_curve(spark, workdir, turns, conv_levels)}
        out_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_STATEFUL_SCALE.json"
        )
        with open(out_path, "w") as f:
            json.dump(result, f, indent=1)
        print(json.dumps({"written": out_path}))
        spark.stop()
        return

    adversarial = os.environ.get("SPARK_GRAFT_SCALE_ADVERSARIAL") == "1"
    out_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DEDUP_SCALE.json"
    )
    prior = {}
    if os.path.exists(out_path):
        with open(out_path) as f:
            prior = json.load(f)

    # JIT/codegen warmup at the smallest level (first pass is 2-3x slower)
    warm = build_corpus(spark, sf_dir, min(min(levels), 5000), workdir)
    run_level(spark, warm)

    if adversarial:
        n = max(levels)
        path = build_adversarial_corpus(spark, sf_dir, n, workdir)
        level = run_level(spark, path)
        prior["adversarial"] = {
            "note": "100-member near-dup clusters, ~quadratic truth; "
            "claim = completes memory-flat, not a cost curve",
            **level,
        }
        print(json.dumps(prior["adversarial"]), flush=True)
        result = prior
    else:
        result = {
            **prior,
            "sf_dir": sf_dir,
            "cpus": cpus,
            "group_size": GROUP_SIZE,
            "levels": [],
        }
        for n_docs in levels:
            path = build_corpus(spark, sf_dir, n_docs, workdir)
            level = run_level(spark, path)
            result["levels"].append(level)
            print(json.dumps(level), flush=True)

        # headline ratio: wall multiplier across the whole curve for the
        # bucketed family (constant truth density → this is per-row cost)
        if len(result["levels"]) >= 2:
            a, b = result["levels"][0], result["levels"][-1]
            result["data_ratio"] = round(b["n_docs"] / a["n_docs"], 1)
            for op in ("exact_dedup", "minhash_dedup", "simhash_pairs", "quality_score"):
                result[f"wall_ratio_{op}"] = round(
                    b[op]["wall_sec"] / a[op]["wall_sec"], 2
                )

    with open(out_path, "w") as f:
        json.dump(result, f, indent=1)
    print(
        json.dumps(
            {"written": out_path, **{k: v for k, v in result.items() if k not in ("levels", "adversarial")}}
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
