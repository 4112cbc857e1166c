"""Per-partition lineage manifests + checkpointed resume.

Sparkified version of the reference's per-chunk bookkeeping: each chunk
returned ``{"processed": n, "elapsed": t}`` plus quality counters to the
driver (src/builders/builder.py:45-48, src/srl.py:42-53); a crashed run
redid everything. Here:

- a *partition* is ``pmod(xxhash64(conv_id), n_buckets)`` — deterministic,
  so re-runs see the same partition ids (the reference's id-sorted chunking,
  src/utils/utils.py:36-47, made deterministic);
- outputs land under ``out/triples/part_bucket=<k>/``; a manifest row
  (bucket, convs_in, rows_in, triples_out, input_hash, wall_ms, run_seq)
  is appended to ``out/_manifests`` after each bucket's files commit;
- resume = the input's buckets minus those whose LATEST manifest row
  matches (J8's anti-join, decided on the driver) — only the remainder is
  processed, idempotently because bucket contents are a pure function of
  conv_id;
- ``input_hash`` (order-insensitive xor of per-row hashes) detects silent
  input drift: a bucket whose hash differs from its latest row is
  reprocessed. A bucket the input no longer reaches has the empty
  fingerprint (no conversations, no rows, hash 0, the xor of nothing):
  while its latest row says otherwise it is pending, its output is
  removed and its new row records it as empty. ``run_seq`` (one more
  than the manifest's largest) orders the rows, so an input that
  returns to an earlier state (A -> B -> A) does not match A's
  superseded row;
- a batch writes an intent marker, ``out/_manifests/_intent-<run_seq>``
  listing its buckets, before it removes their files, and deletes it
  after their manifest rows land. A failed batch leaves its marker, whose
  ``run_seq`` is above every manifest row's: the next run treats its
  buckets as pending (their old rows would vouch for files that are
  gone or replaced) and numbers itself above it. The marker is one file
  written on the driver through the Hadoop FileSystem; its leading ``_``
  keeps it out of Spark's reads and ``read_manifest``'s listing. Readers
  are not isolated from a batch in flight: a read during one may miss
  its buckets or see part of their new files.

Like the reference's stats dicts, every per-bucket answer is small — at
most ``n_buckets`` rows — so it is collected to the driver once and used
there: the fingerprints, each bucket's latest manifest row
(together they decide the pending buckets and the next ``run_seq``) and
the written triple count per bucket. The manifest rows are built from
these collected values as a local frame, so the transcripts are scanned
once for fingerprints and once for the build; the written counts and
the latest rows' ``triples_out`` also give the output's row count, which
``graph.materialize_graph`` sizes its vertex path by.

At 10^12 turns: buckets are the unit of retry/backfill; choose n_buckets so
one bucket ≈ one executor-hour. Quality counters ride on ``observe()``.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

_MANIFEST_COLS = (
    "bucket", "convs_in", "rows_in", "triples_out", "input_hash", "wall_ms",
    "run_seq",
)
MANIFEST_SCHEMA = ", ".join(f"{c} BIGINT" for c in _MANIFEST_COLS)


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


def read_bucketed(
    spark: SparkSession, root: str, written: StructType | None = None
) -> DataFrame:
    """The table at ``root``, written with ``partitionBy("part_bucket")``,
    read back. ``written`` is the schema of the frame written there:
    given it, the read takes the schema Spark would infer — the data
    columns, nullable, then ``part_bucket`` as INT — and runs no
    schema-inference job. Without it (nothing written in this call) the
    schema is inferred."""
    if written is None:
        return spark.read.parquet(root)
    return spark.read.schema(
        StructType(
            [StructField(f.name, f.dataType) for f in written
             if f.name != "part_bucket"]
            + [StructField("part_bucket", IntegerType())]
        )
    ).parquet(root)


# the fingerprint of a bucket with no input rows
_EMPTY_FP = (0, 0, 0)


def _manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_manifests")


def hadoop_fs(spark: SparkSession, path: str) -> tuple:
    """(the Hadoop FileSystem of ``path`` — local, HDFS, S3A, ..., the
    Hadoop ``Path``)."""
    jpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(
        spark.sparkContext._jsc.hadoopConfiguration()
    ), jpath


def _glob(spark: SparkSession, pattern: str) -> tuple:
    """(the Hadoop FileSystem of ``pattern``, the paths matching it; none
    when nothing matches)."""
    fs, path = hadoop_fs(spark, pattern)
    return fs, [st.getPath() for st in fs.globStatus(path) or []]


_INTENT = "_intent-"


def _write_intent(
    spark: SparkSession, out_dir: str, run_seq: int, buckets
) -> None:
    """Record that batch ``run_seq`` is about to rewrite ``buckets``."""
    fs, path = hadoop_fs(
        spark, f"{_manifest_path(out_dir)}/{_INTENT}{run_seq}"
    )
    stream = fs.create(path, True)
    try:
        stream.write(bytearray(" ".join(map(str, buckets)).encode()))
    finally:
        stream.close()


def _read_intents(spark: SparkSession, out_dir: str) -> dict[int, list[int]]:
    """{run_seq: buckets} of the intent markers left in ``_manifests``."""
    fs, paths = _glob(spark, f"{_manifest_path(out_dir)}/{_INTENT}*")
    intents = {}
    for p in paths:
        stream = fs.open(p)
        try:
            text = bytes(stream.readAllBytes()).decode()
        finally:
            stream.close()
        intents[int(p.getName()[len(_INTENT):])] = [
            int(b) for b in text.split()
        ]
    return intents


def _drop_intents(spark: SparkSession, out_dir: str, run_seq: int) -> None:
    """Delete the intent markers at or below ``run_seq``: the manifest
    now records their buckets."""
    fs, paths = _glob(spark, f"{_manifest_path(out_dir)}/{_INTENT}*")
    for p in paths:
        if int(p.getName()[len(_INTENT):]) <= run_seq:
            fs.delete(p, False)


def _drop_bucket_dirs(spark: SparkSession, root: str, buckets) -> None:
    """Delete ``root/part_bucket=<b>`` for each of ``buckets`` that
    exists. Dynamic partition overwrite replaces only the buckets a
    write produces rows for, so a reprocessed bucket whose new output is
    empty would keep its old files."""
    names = {f"part_bucket={b}" for b in buckets}
    fs, paths = _glob(spark, root + "/part_bucket=*")
    for p in paths:
        if p.getName() in names:
            fs.delete(p, True)


def read_manifest(spark: SparkSession, out_dir: str) -> DataFrame:
    """The manifest rows written so far — empty on a first run.

    The part files are listed through the Hadoop FileSystem (local, HDFS,
    S3A, ...) and read by name: Spark ignores a directory whose name
    starts with ``_`` as hidden, and warns about it, when that directory
    is the path it is given. A missing directory lists no files, and the
    empty frame is a local relation, so a first run starts no job."""
    import pyarrow as pa

    _, paths = _glob(spark, _manifest_path(out_dir) + "/*.parquet")
    files = [p.toString() for p in paths]
    if not files:
        return spark.createDataFrame(
            pa.schema([(c, pa.int64()) for c in _MANIFEST_COLS]).empty_table(),
            MANIFEST_SCHEMA,
        )
    return spark.read.schema(MANIFEST_SCHEMA).parquet(*files)


def pending_buckets(
    spark: SparkSession, transcripts: DataFrame, out_dir: str, n_buckets: int
) -> list[int]:
    """Buckets not yet present in the manifest, whose input changed
    since the bucket's latest row, that the input no longer reaches
    while their latest row is not empty, or that a failed batch left an
    intent marker for — the resume anti-join
    (J8 / src/scripts/extract_unprocessed.py:20-45)."""
    return _plan_buckets(spark, transcripts, out_dir, n_buckets)[1]


def _plan_buckets(
    spark: SparkSession, transcripts: DataFrame, out_dir: str, n_buckets: int
) -> tuple[dict[int, tuple[int, int, int]], list[int], int, dict[int, int]]:
    """The resume decision on the driver: ({bucket: (convs_in, rows_in,
    input_hash)}, the sorted pending buckets, the next ``run_seq``,
    {bucket: triples_out} of each bucket's latest manifest row).

    Both inputs have at most ``n_buckets`` rows, so each is collected
    once: the fingerprints, and each bucket's latest manifest row
    (none on a first run, whose manifest frame is empty). A bucket is
    pending when it has no manifest row or its input hash differs from
    its latest row's; a bucket with a manifest row and no input rows
    takes the empty fingerprint, so it is pending until a row records it
    as empty. Rows written before ``run_seq`` existed read it as
    NULL and rank oldest. An intent marker whose ``run_seq`` is above
    every manifest row's was left by a batch that failed before its
    rows were appended: its buckets are pending. The next ``run_seq`` is
    one more than the largest written in the manifest or in a marker."""
    fp = {
        r["part_bucket"]: (r["convs_in"], r["rows_in"], r["input_hash"])
        for r in bucket_fingerprints(transcripts, n_buckets).collect()
    }
    latest, rows_out, last_seq = {}, {}, 0
    seq = F.coalesce("run_seq", F.lit(0))
    # the manifest holds a few rows per bucket and run: one task reduces
    # them, so the aggregate needs no shuffle (and over a first run's
    # empty frame, no job)
    for r in (
        read_manifest(spark, out_dir)
        .coalesce(1)
        .groupBy("bucket")
        .agg(
            F.max_by("input_hash", seq).alias("input_hash"),
            F.max_by("triples_out", seq).alias("triples_out"),
            F.max("run_seq").alias("run_seq"),
        )
        .collect()
    ):
        latest[r["bucket"]] = r["input_hash"]
        rows_out[r["bucket"]] = r["triples_out"] or 0
        last_seq = max(last_seq, r["run_seq"] or 0)
    for b in latest.keys() - fp.keys():
        fp[b] = _EMPTY_FP
    pending = {b for b, f in fp.items() if latest.get(b) != f[2]}
    intents = _read_intents(spark, out_dir)
    for marker_seq, buckets in intents.items():
        if marker_seq > last_seq:
            for b in buckets:
                fp.setdefault(b, _EMPTY_FP)
                pending.add(b)
    next_seq = max([last_seq, *intents]) + 1
    return fp, sorted(pending), next_seq, rows_out


def run_with_manifests(
    spark: SparkSession,
    transcripts: DataFrame,
    build_fn,
    out_dir: str,
    n_buckets: int = 16,
) -> DataFrame:
    """Run ``build_fn(transcripts_subset) -> triples`` bucket-group-wise with
    resume. Returns the full output (all buckets) read back from disk.

    Buckets are processed in a handful of *groups* (not one job per bucket —
    at 10^12 rows a per-bucket job would underutilize the cluster; a group
    is one job whose tasks span many buckets).

    The output is a directory partitioned by ``part_bucket``, written
    with dynamic partition overwrite set on the write (reprocessing a
    bucket swaps its directory; the session's overwrite mode is left as
    it is) and read back with the written schema (``read_bucketed``).
    """
    return _run_with_manifests(
        spark, transcripts, build_fn, out_dir, n_buckets
    )[0]


def _run_with_manifests(
    spark: SparkSession,
    transcripts: DataFrame,
    build_fn,
    out_dir: str,
    n_buckets: int,
) -> tuple[DataFrame, int]:
    """``run_with_manifests`` -> (its frame, the frame's row count). The
    count comes from values collected anyway: the written count of each
    bucket processed now, and the latest manifest ``triples_out`` of
    every other bucket with a manifest row. So it costs no job, and it
    counts the rows on disk as far as the manifest records them."""
    triples_root = os.path.join(out_dir, "triples")
    fp, todo, run_seq, rows_out = _plan_buckets(
        spark, transcripts, out_dir, n_buckets
    )
    bucketed = with_bucket(transcripts, n_buckets)

    if todo:
        import pyarrow as pa
        from pyspark.sql import Observation

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
        # dynamic partition overwrite: reprocessing a drifted bucket
        # replaces its files instead of appending duplicates — resume is
        # idempotent. Set on this write, not on the session. It replaces
        # only the buckets the write has rows for, so the todo buckets'
        # old files go first, after the intent marker that makes a
        # failure from here on leave them pending.
        _write_intent(spark, out_dir, run_seq, todo)
        _drop_bucket_dirs(spark, triples_root, todo)
        out.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("part_bucket").parquet(triples_root)
        wall_ms = int((time.time() - t0) * 1000)
        # aggregates over a zero-row write observe NULL (e.g. the sum):
        # coalesce to 0. Local frames are built from Arrow tables, which
        # Spark keeps as a LocalRelation (a list would become a Python RDD
        # that starts a Python worker when written).
        metrics = {k: (0 if v is None else v) for k, v in dict(obs.get).items()}
        metrics["wall_ms"] = wall_ms
        metrics["n_buckets_processed"] = len(todo)
        spark.createDataFrame(
            pa.table({k: pa.array([v], pa.int64())
                      for k, v in metrics.items()}),
            ", ".join(f"{k} bigint" for k in metrics),
        ).write.mode("append").parquet(os.path.join(out_dir, "_metrics"))

        # count from the just-written files, NOT the build DataFrame —
        # re-aggregating `out` would recompute the whole extraction
        # (including the Python kernel) a second time
        counts = dict(
            read_bucketed(spark, triples_root, out.schema)
            .where(F.col("part_bucket").isin(todo))
            .groupBy(F.col("part_bucket").cast("bigint").alias("part_bucket"))
            .agg(F.count(F.lit(1)).alias("triples_out"))
            .collect()
        )
        # the manifest rows come from the collected fingerprints: the
        # transcripts are not scanned a second time. One file per append
        # (a local frame is split across the default parallelism).
        rows_out.update((b, counts.get(b, 0)) for b in todo)
        convs_in, rows_in, input_hash = zip(*(fp[b] for b in todo))
        spark.createDataFrame(
            pa.table({
                "bucket": todo,
                "convs_in": convs_in,
                "rows_in": rows_in,
                "triples_out": [rows_out[b] for b in todo],
                "input_hash": input_hash,
                "wall_ms": [wall_ms] * len(todo),
                "run_seq": [run_seq] * len(todo),
            }),
            MANIFEST_SCHEMA,
        ).coalesce(1).write.mode("append").parquet(_manifest_path(out_dir))
        _drop_intents(spark, out_dir, run_seq)

    n_rows = sum(rows_out.values())
    schema = out.schema if todo else None
    if schema is None and not n_rows:
        # no part file records the schema (an output without rows, e.g.
        # every bucket left by the input, has none): plan the build over
        # no rows for it
        schema = with_bucket(
            build_fn(bucketed.drop("part_bucket").limit(0)), n_buckets
        ).schema
    return read_bucketed(spark, triples_root, schema), n_rows
