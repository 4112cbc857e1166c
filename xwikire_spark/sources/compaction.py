"""Small-file compaction for partitioned parquet output tables.

Why this exists (north_star: "materialized as partitioned edge/vertex
Iceberg tables with per-partition lineage manifests"): every resume batch
of `pipeline.manifests.run_with_manifests` rewrites the pending buckets,
and every write leaves a few files per ``part_bucket=<k>`` directory. At
10^12 turns the table ends up with millions of kilobyte-files and every
downstream scan pays one open/footer-parse per file — the classic
small-file problem. Compaction rewrites each partition's files into
``ceil(bytes / target_bytes)`` right-sized files, bit-identically.

This is the from-scratch analog of Iceberg's ``rewrite_data_files``
(binpack strategy); with an Iceberg runtime the same policy maps onto
that procedure directly.

Design:
- **Policy and mechanism split**: `compaction_plan` (driver-side listing
  — at real scale the file inventory comes from the table manifest, not
  a filesystem walk; both are driver metadata) picks partitions whose
  file count exceeds what their byte size justifies; `compact_partitions`
  rewrites them.
- **One FileSystem for every path form**: listing, sizing, renames and
  deletes go through the Hadoop FileSystem of the table path
  (`manifests.hadoop_fs`), like the pipeline's own writes, so a table
  under a plain path, a ``file://`` URI, HDFS or S3A compacts alike.
- **One Spark job per partition, jobs run concurrently** (Spark
  schedules concurrent actions fine) — a single global
  repartition+rewrite would shuffle the WHOLE table to fix a few
  partitions; per-partition jobs touch only offending partitions and
  retry/resume at partition granularity, like every other unit of work
  in this pipeline.
- **Swap, don't overwrite in place**: each partition compacts into a
  DOT-PREFIXED sibling temp dir (Spark's file index ignores paths whose
  name starts with '.' or '_', so a concurrent reader never sees the
  half-written rewrite or a bogus `part_bucket=0.tmp` partition value),
  then two directory renames swap it in. No FileSystem exchanges two
  directories atomically (S3A even renames by copying), so a crash
  exactly between the renames leaves the partition parked at its
  dot-prefixed backup — invisible to readers (absent, not duplicated)
  and restored automatically by the next `compact_partitions` run
  (recovery step below).
- Row fidelity is the caller-checkable invariant: `partition_hash`
  computes an order-insensitive bit_xor row hash usable before/after.
"""

from __future__ import annotations

import math
import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xwikire_spark.pipeline.manifests import hadoop_fs


def _fs(path: str) -> tuple:
    """(the Hadoop FileSystem of ``path``, its Hadoop ``Path``), from the
    active session's Hadoop configuration."""
    return hadoop_fs(SparkSession.active(), path)


def _ls(path: str) -> dict[str, object]:
    """{name: Hadoop FileStatus} of the entries directly under ``path``."""
    fs, jpath = _fs(path)
    return {st.getPath().getName(): st for st in fs.listStatus(jpath)}


def _delete(path: str) -> None:
    """Delete ``path`` recursively; a missing path is no error."""
    fs, jpath = _fs(path)
    fs.delete(jpath, True)


def _rename(src: str, dst: str) -> None:
    fs, jsrc = _fs(src)
    # a Hadoop rename reports most failures by returning false
    if not fs.rename(jsrc, _fs(dst)[1]):
        raise OSError(f"could not rename {src} to {dst}")


def _list_partitions(path: str, partition_col: str) -> dict[str, dict]:
    """{partition_value: {data file name: bytes}} from the directory
    layout."""
    out: dict[str, dict] = {}
    prefix = f"{partition_col}="
    for name, st in sorted(_ls(path).items()):
        if not (name.startswith(prefix) and st.isDirectory()):
            continue
        out[name[len(prefix):]] = {
            f: fst.getLen()
            for f, fst in _ls(os.path.join(path, name)).items()
            if f.endswith(".parquet")
        }
    return out


def compaction_plan(
    path: str,
    partition_col: str = "part_bucket",
    target_bytes: int = 128 << 20,
    min_files: int = 2,
) -> dict[str, int]:
    """{partition_value: n_output_files} for partitions worth rewriting:
    more than ``min_files`` files AND more files than
    ``ceil(partition_bytes / target_bytes)`` would need."""
    plan: dict[str, int] = {}
    for pval, files in _list_partitions(path, partition_col).items():
        n_out = max(1, math.ceil(sum(files.values()) / target_bytes))
        if len(files) >= min_files and len(files) > n_out:
            plan[pval] = n_out
    return plan


def partition_hash(spark: SparkSession, path: str) -> int:
    """Order-insensitive content hash of every row in a partition dir
    (bit_xor of per-row xxhash64 over all columns; ANSI-safe)."""
    df = spark.read.parquet(path)
    row = df.select(
        F.expr(
            "bit_xor(xxhash64(" + ", ".join(df.columns) + "))"
        ).alias("h")
    ).collect()[0]
    return row["h"] if row["h"] is not None else 0


def _current_files(part_dir: str) -> list[str]:
    """Sorted .parquet names currently in a partition dir — the
    pre-swap dirty check re-lists through this (module-level so tests can
    interpose a concurrent append at exactly the race point)."""
    return sorted(f for f in _ls(part_dir) if f.endswith(".parquet"))


def _recover_interrupted(path: str, partition_col: str) -> None:
    """Restore partitions parked at their dot-prefixed backup by a crash
    exactly between the two swap renames (the partition dir is absent in
    that window, never half-written)."""
    prefix = f".compact_old.{partition_col}="
    names = _ls(path)
    for name in names:
        if not name.startswith(prefix):
            continue
        old = os.path.join(path, name)
        src = f"{partition_col}={name[len(prefix):]}"
        if src in names:
            _delete(old)  # swap completed; backup is stale
        else:
            _rename(old, os.path.join(path, src))  # crash between renames


def compact_partitions(
    spark: SparkSession,
    path: str,
    partition_col: str = "part_bucket",
    target_bytes: int = 128 << 20,
    min_files: int = 2,
    max_concurrency: int = 4,
) -> list[dict]:
    """Rewrite small-file partitions under ``path`` and swap them in.

    Returns per-partition stats:
    ``[{partition, files_before, files_after, bytes, skipped_dirty},
    ...]`` — ``skipped_dirty`` marks partitions left untouched because a
    concurrent appender changed their file set mid-rewrite.
    """
    _recover_interrupted(path, partition_col)
    plan = compaction_plan(path, partition_col, target_bytes, min_files)
    before = _list_partitions(path, partition_col)

    def one(item: tuple[str, int]) -> dict:
        pval, n_out = item
        src = os.path.join(path, f"{partition_col}={pval}")
        # dot-prefixed siblings: invisible to Spark partition discovery,
        # to _list_partitions, and to readers of the table root
        tmp = os.path.join(path, f".compact_tmp.{partition_col}={pval}")
        old = os.path.join(path, f".compact_old.{partition_col}={pval}")
        nbytes = sum(before[pval].values())
        # coalesce, not repartition: compaction must not shuffle — it
        # only concatenates co-located files. Overwrite drops a tmp dir
        # left by an interrupted rewrite.
        spark.read.parquet(src).coalesce(n_out).write.mode(
            "overwrite"
        ).parquet(tmp)
        # drop non-data markers so the dir holds exactly the data files
        for f in _ls(tmp):
            if not f.endswith(".parquet"):
                _delete(os.path.join(tmp, f))
        # Concurrent-appender guard: re-list immediately before the swap
        # and SKIP (report, don't fail) a partition whose file set changed
        # since compaction_plan listed it — swapping would silently drop
        # the concurrently-appended file(s). This shrinks the loss window
        # from the whole rewrite duration to the list->rename instants;
        # closing it entirely needs the table format's optimistic commit
        # (Iceberg rewrite_data_files validates exactly this way and
        # retries), which the parquet-dir fallback cannot express. A
        # skipped partition is left untouched and picked up next run.
        if _current_files(src) != sorted(before[pval]):
            _delete(tmp)
            return {
                "partition": pval,
                "files_before": len(before[pval]),
                "files_after": len(_current_files(src)),
                "bytes": nbytes,
                "skipped_dirty": True,
            }
        _rename(src, old)      # swap: a crash between these two renames
        _rename(tmp, src)      # parks the partition at its dot-prefixed
        # backup (absent to readers, never half-written) until
        # _recover_interrupted rolls it back on the next run
        _delete(old)
        return {
            "partition": pval,
            "files_before": len(before[pval]),
            "files_after": len(_current_files(src)),
            "bytes": nbytes,
            "skipped_dirty": False,
        }

    if not plan:
        return []
    with ThreadPoolExecutor(max_workers=max_concurrency) as ex:
        return list(ex.map(one, sorted(plan.items())))


def read_partitioned(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)
