"""Per-partition lineage manifests + checkpointed resume.

Sparkified version of the reference's per-chunk bookkeeping: each chunk
returned ``{"processed": n, "elapsed": t}`` plus quality counters to the
driver (src/builders/builder.py:45-48, src/srl.py:42-53); a crashed run
redid everything. Here:

- a *partition* is ``pmod(xxhash64(conv_id), n_buckets)`` — deterministic,
  so re-runs see the same partition ids (the reference's id-sorted chunking,
  src/utils/utils.py:36-47, made deterministic);
- outputs land under ``out/part_bucket=<k>/``; a manifest row
  (bucket, convs_in, rows_in, triples_out, input_hash, wall_ms, run_seq)
  is appended after each bucket's files commit;
- resume = anti-join the input's buckets against the manifest's LATEST row
  per bucket (J8) and process only the remainder — idempotent because
  bucket contents are a pure function of conv_id;
- ``input_hash`` (order-insensitive sum of per-row hashes) detects silent
  input drift: a bucket whose hash differs from its latest row is
  reprocessed. ``run_seq`` (one more than the manifest's largest) orders
  the rows, so an input that returns to an earlier state (A -> B -> A)
  does not match A's superseded row.

At 10^12 turns: buckets are the unit of retry/backfill; choose n_buckets so
one bucket ≈ one executor-hour. Quality counters ride on ``observe()``.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xwikire_spark.sources.io import path_exists

MANIFEST_SCHEMA = (
    "bucket BIGINT, convs_in BIGINT, rows_in BIGINT, triples_out BIGINT, "
    "input_hash BIGINT, wall_ms BIGINT, run_seq BIGINT"
)


def with_bucket(transcripts: DataFrame, n_buckets: int) -> DataFrame:
    return transcripts.withColumn(
        "part_bucket", F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets))
    )


def bucket_fingerprints(transcripts: DataFrame, n_buckets: int) -> DataFrame:
    """(bucket, convs_in, rows_in, input_hash) per bucket — one scan."""
    return (
        with_bucket(transcripts, n_buckets)
        .groupBy("part_bucket")
        .agg(
            F.countDistinct("conv_id").alias("convs_in"),
            F.count(F.lit(1)).alias("rows_in"),
            # bit_xor: order-insensitive, overflow-free under ANSI mode
            # (sum(xxhash64) trips ARITHMETIC_OVERFLOW in Spark 4)
            F.expr("bit_xor(xxhash64(conv_id, turn_idx, text))").alias(
                "input_hash"
            ),
        )
    )


def _manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_manifests")


def read_manifest(spark: SparkSession, out_dir: str) -> DataFrame:
    """The manifest rows written so far — empty on a first run."""
    path = _manifest_path(out_dir)
    if not path_exists(spark, path):
        return spark.createDataFrame([], MANIFEST_SCHEMA)
    return spark.read.schema(MANIFEST_SCHEMA).parquet(path)


def pending_buckets(
    spark: SparkSession, transcripts: DataFrame, out_dir: str, n_buckets: int
) -> list[int]:
    """Buckets not yet present in the manifest (or whose input changed
    since the bucket's latest row) — the resume anti-join
    (J8 / src/scripts/extract_unprocessed.py:20-45)."""
    fp = bucket_fingerprints(transcripts, n_buckets)
    # rows written before run_seq existed read it as NULL: they rank oldest
    done = (
        read_manifest(spark, out_dir)
        .groupBy(F.col("bucket").alias("part_bucket"))
        .agg(F.max_by("input_hash", F.coalesce("run_seq", F.lit(0)))
             .alias("input_hash"))
    )
    pending = fp.join(
        done, ["part_bucket", "input_hash"], "left_anti"
    ).select("part_bucket")
    return sorted(r[0] for r in pending.collect())


def _next_run_seq(spark: SparkSession, out_dir: str) -> int:
    """One more than the manifest's largest ``run_seq``; 1 on a first run,
    which this answers without a Spark job."""
    if not path_exists(spark, _manifest_path(out_dir)):
        return 1
    last = read_manifest(spark, out_dir).agg(F.max("run_seq")).first()[0]
    return (last or 0) + 1


def run_with_manifests(
    spark: SparkSession,
    transcripts: DataFrame,
    build_fn,
    out_dir: str,
    n_buckets: int = 16,
    table_format: str = "parquet",
) -> DataFrame:
    """Run ``build_fn(transcripts_subset) -> triples`` bucket-group-wise with
    resume. Returns the full output (all buckets) read back from disk.

    Buckets are processed in a handful of *groups* (not one job per bucket —
    at 10^12 rows a per-bucket job would underutilize the cluster; a group
    is one job whose tasks span many buckets).

    ``table_format``: ``"parquet"`` = partitioned directory + dynamic
    partition overwrite (reprocessing a bucket swaps its directory);
    ``"snapshot"`` = ``sources.snapshots`` table — each resume batch is
    ONE atomic versioned commit (``commit_replace_partitions`` on
    part_bucket), readers plan from manifests instead of directory
    listings, get snapshot isolation against in-flight batches, and can
    time-travel to any prior batch's view. Resume semantics (lineage
    manifest, drift detection, idempotent reprocess) are identical.
    """
    if table_format not in ("parquet", "snapshot"):
        raise ValueError(f"unknown table_format {table_format!r}")
    snap = table_format == "snapshot"
    if snap:
        from xwikire_spark.sources import snapshots as snapmod
    triples_root = os.path.join(out_dir, "triples")
    todo = pending_buckets(spark, transcripts, out_dir, n_buckets)
    bucketed = with_bucket(transcripts, n_buckets)
    fp = bucket_fingerprints(transcripts, n_buckets)

    if todo:
        from pyspark.sql import Observation

        run_seq = _next_run_seq(spark, out_dir)
        t0 = time.time()
        subset = bucketed.where(F.col("part_bucket").isin(todo))
        triples = build_fn(subset.drop("part_bucket"))
        out = with_bucket(triples, n_buckets)
        # quality metrics ride the WRITE job itself via observe() — zero
        # extra passes (the reference returned per-chunk stats dicts to the
        # driver, src/builders/builder.py:45-48; this is the Spark-native
        # equivalent)
        obs = Observation("kg_quality")
        cols = set(out.columns)
        metric_exprs = [F.count(F.lit(1)).alias("triples_out")]
        for c, name in (("conv_id", "approx_convs"),
                        ("subj", "approx_subjects"),
                        ("obj", "approx_objects")):
            if c in cols:
                metric_exprs.append(F.approx_count_distinct(c).alias(name))
        if "evidence" in cols:
            metric_exprs.append(
                F.sum(
                    F.when(F.length(F.trim("evidence")) == 0, 1).otherwise(0)
                ).alias("empty_evidence")
            )
        out = out.observe(obs, *metric_exprs)
        if snap:
            # one atomic versioned commit per resume batch; a drifted
            # bucket's files fall out of the new manifest (old versions
            # keep them — time travel), so reprocess is idempotent
            snapmod.commit_replace_partitions(
                spark, triples_root, out, "part_bucket"
            )
        else:
            # dynamic partition overwrite: reprocessing a drifted bucket
            # replaces its files instead of appending duplicates — resume
            # is idempotent.
            spark.conf.set(
                "spark.sql.sources.partitionOverwriteMode", "dynamic"
            )
            out.write.mode("overwrite").partitionBy("part_bucket").parquet(
                triples_root
            )
        wall_ms = int((time.time() - t0) * 1000)
        # aggregates over a zero-row write observe NULL (e.g. the sum) —
        # coalesce to 0 and pin the schema or createDataFrame fails type
        # inference on the all-None row
        metrics = {k: (0 if v is None else v) for k, v in dict(obs.get).items()}
        metrics["wall_ms"] = wall_ms
        metrics["n_buckets_processed"] = len(todo)
        metrics_schema = ", ".join(f"{k} bigint" for k in metrics)
        spark.createDataFrame([tuple(metrics.values())], metrics_schema)\
            .write.mode("append").parquet(os.path.join(out_dir, "_metrics"))

        # count from the just-written files, NOT the build DataFrame —
        # re-aggregating `out` would recompute the whole extraction
        # (including the Python kernel) a second time. Snapshot mode plans
        # ONLY the todo buckets' files (manifest partition pruning).
        written = (
            snapmod.read_table(spark, triples_root, partitions=todo)
            if snap
            else spark.read.parquet(triples_root).where(
                F.col("part_bucket").isin(todo)
            )
        )
        counts = (
            written
            .groupBy(F.col("part_bucket").cast("bigint").alias("part_bucket"))
            .agg(F.count(F.lit(1)).alias("triples_out"))
        )
        manifest_rows = (
            fp.where(F.col("part_bucket").isin(todo))
            .join(counts, "part_bucket", "left")
            .select(
                F.col("part_bucket").alias("bucket"),
                "convs_in",
                "rows_in",
                F.coalesce("triples_out", F.lit(0)).alias("triples_out"),
                "input_hash",
                F.lit(wall_ms).alias("wall_ms"),
                F.lit(run_seq).cast("bigint").alias("run_seq"),
            )
        )
        manifest_rows.write.mode("append").parquet(_manifest_path(out_dir))

    if snap:
        return snapmod.read_table(spark, triples_root)
    return spark.read.parquet(triples_root)
