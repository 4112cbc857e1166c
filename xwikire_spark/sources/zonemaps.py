"""File-level zone maps (per-file column min/max) + pruned scan planning.

The Iceberg-table analog this repo's plain-parquet substrate is missing:
Iceberg manifests carry per-data-file column bounds, and scan planning
drops files whose bounds cannot satisfy the predicate BEFORE the engine
ever opens them. Spark's parquet reader already skips row groups inside
an opened file, but at 10^12-turn scale the win is never listing/opening
the file at all — a query for one conversation range should plan
O(matching files), not O(table files).

Here the bounds live in a ``_zonemaps`` parquet table next to the data
(one row per data file: ``file, rows, <col>_min, <col>_max ...``), and
``pruned_read`` turns a conjunction of column ranges into an explicit
file list for ``spark.read.parquet(*files)``:

- **conservative by construction**: data files NOT present in the zone
  map (appended since the last refresh) are always scanned; a file is
  skipped only when its recorded bounds PROVE it cannot match
  (``max < lo or min > hi`` for some conjunct). All-null files carry
  null bounds and are skipped for range predicates — a null column
  value cannot satisfy a range predicate under SQL semantics.
- **maintenance is incremental**: ``refresh_zone_maps`` stats only the
  files missing from the map (one column-pruned scan of just those
  files) and drops rows for files that vanished (compaction/rewrite);
  pair it with ``sources.compaction`` the way an Iceberg runtime
  rewrites manifests alongside ``rewrite_data_files``.
- at 100 TB the stats would come from parquet footers at WRITE time
  (Iceberg gets them for free); the one-scan builder here reads only
  the stat columns (columnar projection), which is the honest local
  stand-in. Single-maintainer discipline applies to refresh, like
  compaction.

Reference parity note: the reference has no scan planning at all — its
Mongo cursors always walk full collections (src/builders/builder.py).
This module exists for the 100 TB tier, not reference parity.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xwikire_spark.sources.io import path_exists

_ZM_DIR = "_zonemaps"


def _zm_path(table_dir: str) -> str:
    return os.path.join(table_dir, _ZM_DIR)


def _data_files(table_dir: str) -> list[str]:
    """Driver-side listing of the table's data files (URI form, matching
    ``input_file_name()``). Metadata dirs (``_zonemaps``, ``_manifests``,
    ``_metrics``, dot-dirs) are not data."""
    out = []
    for root, dirs, files in os.walk(table_dir):
        dirs[:] = [
            d for d in dirs if not d.startswith(("_", "."))
        ]
        for f in files:
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                out.append("file://" + os.path.join(root, f))
    return sorted(out)


def _stat_aggs(stat_cols: list[str]):
    aggs = [F.count(F.lit(1)).alias("rows")]
    for c in stat_cols:
        aggs.append(F.min(c).alias(f"{c}_min"))
        aggs.append(F.max(c).alias(f"{c}_max"))
    return aggs


def refresh_zone_maps(
    spark: SparkSession, table_dir: str, stat_cols: list[str]
) -> dict:
    """Bring ``<table_dir>/_zonemaps`` in sync with the data files:
    stats are computed ONLY for files missing from the map (an
    incremental append-scale cost, not a table scan), and rows for
    vanished files (compacted away / rewritten) are dropped. Returns
    ``{"added": n, "dropped": n, "total": n}``."""
    path = _zm_path(table_dir)
    on_disk = _data_files(table_dir)
    if path_exists(spark, path):
        existing = spark.read.parquet(path)
        known = {r["file"] for r in existing.select("file").collect()}
    else:
        existing, known = None, set()
    new_files = [f for f in on_disk if f not in known]
    stale = known - set(on_disk)

    parts = []
    if existing is not None and known - stale:
        keep = existing.where(~F.col("file").isin(list(stale))) \
            if stale else existing
        parts.append(keep)
    if new_files:
        fresh = (
            spark.read.option("basePath", table_dir).parquet(*new_files)
            .select(F.input_file_name().alias("file"), *stat_cols)
            .groupBy("file")
            .agg(*_stat_aggs(stat_cols))
        )
        parts.append(fresh)

    if parts:
        merged = parts[0]
        for p in parts[1:]:
            merged = merged.unionByName(p)
        # the map is file-count-sized (metadata scale): one file is fine
        # locally; a real deployment would partition it like an Iceberg
        # manifest list. Write-then-swap so readers never see a partial.
        tmp = path + ".tmp"
        merged.coalesce(1).write.mode("overwrite").parquet(tmp)
        import shutil

        if os.path.exists(path):
            shutil.rmtree(path)
        os.rename(tmp, path)
    return {
        "added": len(new_files),
        "dropped": len(stale),
        "total": len(on_disk),
    }


def _file_uri(f: str) -> str:
    """Normalize to the ``input_file_name()`` URI form the zone map is
    keyed by (snapshot manifests carry plain root-relative paths)."""
    return f if f.startswith("file:") else "file://" + os.path.abspath(f)


def plan_file_subset(
    spark: SparkSession,
    table_dir: str,
    candidates: list[str],
    ranges: dict[str, tuple],
) -> tuple[list[str], int, int]:
    """Scan planning over an EXPLICIT candidate list (a directory
    listing, or a snapshot manifest — ``sources.snapshots.pruned_read``):
    keep the files that might satisfy the conjunction ``lo <= col <= hi
    for each ranges[col] = (lo, hi)`` (``None`` bound = unbounded on that
    side). Files without zone-map rows are conservatively kept. Returns
    (planned, n_pruned, n_unmapped)."""
    path = _zm_path(table_dir)
    if not path_exists(spark, path):
        return list(candidates), 0, len(candidates)
    zm = spark.read.parquet(path)
    cond = F.lit(True)
    for c, (lo, hi) in ranges.items():
        if f"{c}_min" not in zm.columns:
            continue  # column not stat'd: no pruning on it (conservative)
        # an all-null file has null bounds: the comparison is null, the
        # file is pruned — and no null row could pass the residual range
        # filter, so the equivalence contract holds. (lo, hi) = (None,
        # None) constrains nothing and keeps every file.
        if lo is not None:
            cond = cond & (F.col(f"{c}_max") >= F.lit(lo))
        if hi is not None:
            cond = cond & (F.col(f"{c}_min") <= F.lit(hi))
    rows = zm.select("file", cond.alias("keep")).collect()
    mapped = {r["file"]: r["keep"] for r in rows}
    planned = [
        f for f in candidates
        if mapped.get(_file_uri(f), True)  # unmapped -> scan
    ]
    unmapped = sum(1 for f in candidates if _file_uri(f) not in mapped)
    return planned, len(candidates) - len(planned), unmapped


def plan_files(
    spark: SparkSession, table_dir: str, ranges: dict[str, tuple]
) -> tuple[list[str], dict]:
    """``plan_file_subset`` over the table's full directory listing."""
    on_disk = _data_files(table_dir)
    planned, n_pruned, unmapped = plan_file_subset(
        spark, table_dir, on_disk, ranges
    )
    return planned, {
        "files_total": len(on_disk),
        "files_planned": len(planned),
        "files_pruned": n_pruned,
        "unmapped": unmapped,
    }


def pruned_read(
    spark: SparkSession, table_dir: str, ranges: dict[str, tuple]
) -> tuple[DataFrame, dict]:
    """Read the table with zone-map file pruning AND the residual
    row-level predicate applied (pruning is file-granular; the residual
    filter gives exact semantics). Equivalent to
    ``spark.read.parquet(table_dir).where(<ranges>)`` by construction —
    the equivalence test gate."""
    files, stats = plan_files(spark, table_dir, ranges)
    if not files:
        df = spark.read.parquet(table_dir).limit(0)
    else:
        # basePath keeps hive-style partition columns (part_bucket=K dirs)
        # present when reading an explicit file subset
        df = spark.read.option("basePath", table_dir).parquet(*files)
    for c, (lo, hi) in ranges.items():
        if lo is not None:
            df = df.where(F.col(c) >= F.lit(lo))
        if hi is not None:
            df = df.where(F.col(c) <= F.lit(hi))
    return df, stats
