"""Snapshot-isolated table commits + time travel: the Iceberg metadata
layer (snapshots and manifests) this repo's plain-parquet substrate was
missing.

Layout under a table root::

    root/
      snapdata/<token>/part-*.parquet   # immutable per-commit file groups
      _snapshots/
        snap-00000001.parquet           # manifest: (path, rows, bytes)
        snap-00000001.json              # version, parent, op, schema, summary
        current                         # pointer file (atomic os.replace)

Readers NEVER list data directories: ``read_table`` resolves the pointer
(or an explicit ``version`` — time travel), loads that snapshot's
manifest, and plans ``spark.read.parquet(*files)`` from it. A file that
exists on disk but is referenced by no snapshot is invisible — the
property that makes writes atomic: data files and the manifest land
BEFORE the pointer swings, so a crash mid-commit leaves the table
exactly at the parent snapshot (the orphan files are garbage, collected
by ``expire_snapshots``).

Commit protocol (single-level optimistic concurrency, the Iceberg
swap-root-pointer model):

1. read ``current`` -> parent version;
2. write the new data files under a fresh ``snapdata/<token>/``;
3. write ``snap-<v>.parquet`` (parent's manifest ± this commit's files)
   and ``snap-<v>.json`` (op, parent, row/file counts, schema JSON —
   the schema makes empty snapshots readable);
4. re-read ``current``; if it moved, raise ``SnapshotConflict`` (the
   loser's data files are orphans, GC'd later) — else ``os.replace`` a
   tmp pointer over ``current`` (atomic on POSIX).

Partitioned tables (``partition_col=``): data files land in Hive-style
``<col>=<val>/`` dirs inside their group, the manifest records each
file's partition value (Iceberg's per-file partition tuple), and
``commit_replace_partitions`` gives dynamic-partition-overwrite AS one
atomic versioned commit — the KG pipeline's idempotent bucket-reprocess
path. Readers re-derive the partition column from the file path
(``input_file_name`` regexp — one relation, no directory inference) and
``read_table(partitions=[...])`` prunes at the manifest. Partition
values must be path-safe scalars (bucket ints here; escaped strings are
a documented non-goal of the local stand-in).

``compact_snapshot`` rewrites the CURRENT view into fewer files and
commits it as op="compact": a logical no-op — readers pinned to older
snapshots still see the old files, which is why compaction must never
delete anything. Deletion is ``expire_snapshots(keep_last=n)`` alone:
drop the manifests of expired versions, then remove data files
referenced only by them (computed against the RETAINED manifests —
metadata-sized work).

At 10^12 turns the manifest for one table is O(file count) rows
(~10^5-10^6 at 1 GB files) — metadata-sized next to the data; Iceberg
shards it into a manifest tree, this single parquet list is the honest
local stand-in with the same contract.

Reference parity note: the reference has no table format at all (Mongo
collections, full-cursor walks). This module exists for the 100 TB
tier, not reference parity.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_SNAP_DIR = "_snapshots"
_DATA_DIR = "snapdata"

MANIFEST_SCHEMA = "path string, rows bigint, bytes bigint, partition string"


class SnapshotConflict(RuntimeError):
    """Another committer swung the pointer between our read and swap."""


def _snap_dir(root: str) -> str:
    return os.path.join(root, _SNAP_DIR)


def _pointer_path(root: str) -> str:
    return os.path.join(_snap_dir(root), "current")


def _manifest_path(root: str, version: int) -> str:
    return os.path.join(_snap_dir(root), f"snap-{version:08d}.parquet")


def _meta_path(root: str, version: int) -> str:
    return os.path.join(_snap_dir(root), f"snap-{version:08d}.json")


def current_version(root: str) -> int:
    """0 = empty table (no committed snapshot yet)."""
    try:
        with open(_pointer_path(root)) as f:
            return int(f.read().strip())
    except FileNotFoundError:
        return 0


def snapshot_meta(root: str, version: int) -> dict:
    with open(_meta_path(root, version)) as f:
        return json.load(f)


def snapshot_log(root: str) -> list[dict]:
    """All snapshot metadata (committed AND orphaned), version order.
    ``orphan`` marks versions outside the committed parent chain —
    crashed or conflict-losing commits whose pointer never swung."""
    d = _snap_dir(root)
    if not os.path.isdir(d):
        return []
    metas = {}
    for name in os.listdir(d):
        if name.startswith("snap-") and name.endswith(".json"):
            v = int(name[5:-5])
            metas[v] = snapshot_meta(root, v)
    live = set()
    v = current_version(root)
    while v:
        live.add(v)
        v = metas[v]["parent"] if v in metas else 0
    out = []
    for v in sorted(metas):
        out.append({**metas[v], "orphan": v not in live})
    return out


def _read_manifest(spark: SparkSession, root: str, version: int) -> DataFrame:
    return spark.read.schema(MANIFEST_SCHEMA).parquet(
        _manifest_path(root, version)
    )


def _resolve(root: str, version: int | None) -> int:
    v = current_version(root) if version is None else version
    if v and not os.path.exists(_meta_path(root, v)):
        raise ValueError(f"snapshot {v} does not exist at {root}")
    return v


def _plan_df(
    spark: SparkSession, root: str, meta: dict, files: list[str]
) -> DataFrame:
    """Plan a DataFrame over an explicit snapshot file list. For a
    partitioned snapshot the partition column is not stored in the data
    files (Hive-style ``col=value`` directories, as ``write.partitionBy``
    lays them out); it is re-derived from each row's file path via
    ``input_file_name()`` — one relation over all files, no per-partition
    union fan-out, no directory inference. Partition values must be
    path-safe literals (ints here); escaped values are a documented
    non-goal of this local stand-in."""
    schema = StructType.fromJson(json.loads(meta["schema"]))
    pcol = meta.get("partition_col")
    if not files:
        from pyspark.sql.pandas.types import to_arrow_schema

        return spark.createDataFrame(
            to_arrow_schema(schema).empty_table(), schema
        )
    if not pcol:
        return spark.read.schema(schema).parquet(*files)
    data_schema = StructType([f for f in schema.fields if f.name != pcol])
    ptype = schema[pcol].dataType
    df = spark.read.schema(data_schema).parquet(*files)
    derived = F.regexp_extract(
        F.input_file_name(), f"/{pcol}=([^/]+)/", 1
    ).cast(ptype)
    # restore the committed column order
    return df.withColumn(pcol, derived).select(*[f.name for f in schema])


def read_table(
    spark: SparkSession,
    root: str,
    version: int | None = None,
    partitions: list | None = None,
) -> DataFrame:
    """The table as of ``version`` (default: current). Plans from the
    snapshot manifest — on-disk files no snapshot references are
    invisible, and an old version keeps reading its exact file set even
    after later appends/compactions (until expired).

    ``partitions``: for a partitioned snapshot, plan ONLY the files whose
    manifest partition value is in the list — metadata-level partition
    pruning (the Iceberg partition-summary prune); a residual filter
    keeps semantics exact either way."""
    v = _resolve(root, version)
    if v == 0:
        raise ValueError(f"{root} has no committed snapshot")
    meta = snapshot_meta(root, v)
    rows = _read_manifest(spark, root, v).collect()
    pcol = meta.get("partition_col")
    if partitions is not None:
        if not pcol:
            raise ValueError(f"snapshot v{v} of {root} is not partitioned")
        wanted = {f"{pcol}={val}" for val in partitions}
        rows = [r for r in rows if r["partition"] in wanted]
    files = [os.path.join(root, r["path"]) for r in rows]
    df = _plan_df(spark, root, meta, files)
    if partitions is not None:
        df = df.where(F.col(pcol).isin(list(partitions)))
    return df


def _write_data(
    df: DataFrame, root: str, partition_col: str | None = None
) -> tuple[str, list[dict]]:
    """One immutable file group under snapdata/<token>/; returns the
    manifest rows (root-relative paths). With ``partition_col`` the group
    is Hive-layout (``snapdata/<token>/<col>=<val>/part-*.parquet``) and
    each manifest row records its partition — the per-file partition
    tuple Iceberg manifests carry."""
    token = uuid.uuid4().hex[:12]
    rel_dir = os.path.join(_DATA_DIR, token)
    out_dir = os.path.join(root, rel_dir)
    w = df.write
    if partition_col:
        w = w.partitionBy(partition_col)
    w.parquet(out_dir)
    rows = []
    for dirpath, _dirs, names in sorted(os.walk(out_dir)):
        rel_sub = os.path.relpath(dirpath, out_dir)
        part = rel_sub if rel_sub != "." and "=" in rel_sub else None
        for name in sorted(names):
            if name.endswith(".parquet"):
                p = os.path.join(dirpath, name)
                rows.append(
                    {
                        "path": os.path.relpath(p, root),
                        # per-file row counts would come from parquet
                        # footers at 100 TB (Iceberg gets them from the
                        # writer); -1 keeps the local stand-in honest
                        # instead of paying a count() per commit
                        "rows": -1,
                        "bytes": os.path.getsize(p),
                        "partition": part,
                    }
                )
    return rel_dir, rows


def _commit(
    spark: SparkSession,
    root: str,
    df: DataFrame,
    op: str,
    keep_parent_files: bool,
    partition_col: str | None = None,
    replace_partitions: bool = False,
) -> dict:
    import pyarrow as pa

    os.makedirs(_snap_dir(root), exist_ok=True)
    parent = current_version(root)
    version = parent + 1
    if parent and keep_parent_files:
        # a snapshot's file set must be readable as ONE relation, so the
        # partition spec is fixed while parent files are carried forward;
        # switching specs requires an overwrite (old versions keep their
        # own spec via their own meta)
        parent_pcol = snapshot_meta(root, parent).get("partition_col")
        if partition_col is None:
            partition_col = parent_pcol
        elif parent_pcol != partition_col:
            raise ValueError(
                f"{root} is partitioned by {parent_pcol!r}; cannot "
                f"{op} with partition_col={partition_col!r}"
            )
    rel_dir, new_rows = _write_data(df, root, partition_col)
    # built from an Arrow table, the manifest is a local relation: writing
    # it starts no Python worker
    manifest = spark.createDataFrame(
        pa.table({c: [r[c] for r in new_rows]
                  for c in ("path", "rows", "bytes", "partition")}),
        MANIFEST_SCHEMA,
    )
    if keep_parent_files and parent:
        parent_manifest = _read_manifest(spark, root, parent)
        if replace_partitions:
            # dynamic-overwrite semantics at the METADATA layer: parent
            # files in partitions this commit rewrote fall out of the new
            # manifest (their bytes stay on disk for time travel, expired
            # later) — the set of touched partitions comes from the files
            # just written, zero extra jobs
            touched = sorted(
                {r["partition"] for r in new_rows if r["partition"]}
            )
            parent_manifest = parent_manifest.where(
                F.col("partition").isNull()
                | ~F.col("partition").isin(touched)
            )
        manifest = parent_manifest.unionByName(manifest)
    # manifest + meta land in a UNIQUELY-NAMED staging location BEFORE
    # the pointer swing — a crash or a lost commit race leaves staging
    # orphans (GC'd by expire_snapshots), never a clobbered winner at
    # the contested version slot.
    token = rel_dir.rsplit(os.sep, 1)[-1]
    mpath = _manifest_path(root, version)
    staged = f"{mpath}.{token}.tmp"
    manifest.coalesce(1).write.parquet(staged)
    n_files = manifest.count()
    meta_bytes = json.dumps(
        {
            "version": version,
            "parent": parent,
            "op": op,
            "schema": df.schema.json(),
            "partition_col": partition_col,
            "added_files": len(new_rows),
            "total_files": n_files,
        }
    )
    # optimistic check, then publish: losers detect the moved pointer
    # HERE and never touch the final slot
    if current_version(root) != parent:
        raise SnapshotConflict(
            f"table {root} moved past v{parent} during commit"
        )
    if os.path.exists(mpath):
        # leftover from OUR crashed commit at this slot (single
        # maintainer; a conflicting winner would have moved the pointer
        # and been caught above) — pointer never referenced it
        shutil.rmtree(mpath)
    os.rename(staged, mpath)
    meta_tmp = _meta_path(root, version) + f".{token}.tmp"
    with open(meta_tmp, "w") as f:
        f.write(meta_bytes)
    os.replace(meta_tmp, _meta_path(root, version))
    tmp = _pointer_path(root) + ".tmp"
    with open(tmp, "w") as f:
        f.write(str(version))
    os.replace(tmp, _pointer_path(root))
    return {"version": version, "parent": parent, "op": op,
            "added_files": len(new_rows), "total_files": n_files}


def commit_append(
    spark: SparkSession,
    root: str,
    df: DataFrame,
    partition_col: str | None = None,
) -> dict:
    """Append ``df`` as a new snapshot. On an already-partitioned table
    the spec is inherited (new files land in their Hive partition dirs);
    passing a conflicting ``partition_col`` raises."""
    return _commit(
        spark, root, df, "append", keep_parent_files=True,
        partition_col=partition_col,
    )


def commit_overwrite(
    spark: SparkSession,
    root: str,
    df: DataFrame,
    partition_col: str | None = None,
) -> dict:
    return _commit(
        spark, root, df, "overwrite", keep_parent_files=False,
        partition_col=partition_col,
    )


def commit_replace_partitions(
    spark: SparkSession, root: str, df: DataFrame, partition_col: str
) -> dict:
    """Dynamic partition overwrite as ONE atomic snapshot commit (the
    Iceberg ``REPLACE PARTITIONS`` / Spark dynamic-overwrite analog, but
    with time travel): partitions present in ``df`` are rewritten,
    everything else is carried forward from the parent manifest
    untouched. The resume path's idempotent bucket reprocess rides on
    this — a drifted bucket replaces its files in the NEW snapshot while
    readers pinned to the old version still see the old bucket."""
    return _commit(
        spark, root, df, "replace", keep_parent_files=True,
        partition_col=partition_col, replace_partitions=True,
    )


def compact_snapshot(
    spark: SparkSession, root: str, target_files: int = 1
) -> dict:
    """Rewrite the current view into ``target_files`` files and commit as
    op="compact" — logically a no-op (old snapshots keep their old
    files; nothing is deleted here, that is expire_snapshots' job). On a
    partitioned table the rewrite hashes rows to their partition value so
    each partition lands in one task -> one file per partition
    (``target_files`` applies to the unpartitioned case)."""
    v = _resolve(root, None)
    pcol = snapshot_meta(root, v).get("partition_col") if v else None
    cur = read_table(spark, root)
    if pcol:
        cur = cur.repartition(pcol)
    else:
        cur = cur.coalesce(target_files)
    return _commit(
        spark, root, cur, "compact",
        keep_parent_files=False, partition_col=pcol,
    )


def expire_snapshots(
    spark: SparkSession, root: str, keep_last: int = 1
) -> dict:
    """Drop all but the last ``keep_last`` committed snapshots (orphans
    always go), then delete data files no retained manifest references.
    The referenced set is manifest-sized — never a data scan."""
    log = snapshot_log(root)
    committed = [m["version"] for m in log if not m["orphan"]]
    retained = set(committed[-keep_last:])
    referenced: set[str] = set()
    for v in retained:
        referenced.update(
            r["path"] for r in _read_manifest(spark, root, v).collect()
        )
    dropped_snaps = 0
    for m in log:
        v = m["version"]
        if v in retained:
            continue
        shutil.rmtree(_manifest_path(root, v), ignore_errors=True)
        try:
            os.remove(_meta_path(root, v))
        except FileNotFoundError:
            pass
        dropped_snaps += 1
    # sweep staging leftovers and manifests whose meta never landed
    # (crashed commits): anything in _snapshots/ that is neither a
    # retained manifest/meta nor the pointer
    keep_names = {"current"}
    for v in retained:
        keep_names.add(os.path.basename(_manifest_path(root, v)))
        keep_names.add(os.path.basename(_meta_path(root, v)))
    for name in os.listdir(_snap_dir(root)):
        if name in keep_names:
            continue
        p = os.path.join(_snap_dir(root), name)
        if os.path.isdir(p):
            shutil.rmtree(p)
        else:
            os.remove(p)
    # delete whole unreferenced file-group dirs (files are immutable and
    # grouped per commit, so a group is dead iff none of its files is
    # referenced; mixed groups keep their files individually)
    data_root = os.path.join(root, _DATA_DIR)
    dropped_files = 0
    for token in sorted(os.listdir(data_root)) if os.path.isdir(
        data_root
    ) else []:
        gdir = os.path.join(data_root, token)
        group = [
            os.path.relpath(os.path.join(dp, n), root)
            for dp, _dirs, names in os.walk(gdir)
            for n in names
            if n.endswith(".parquet")
        ]
        dead = [p for p in group if p not in referenced]
        if len(dead) == len(group):
            shutil.rmtree(gdir)
        else:
            for p in dead:
                os.remove(os.path.join(root, p))
        dropped_files += len(dead)
    return {
        "retained": sorted(retained),
        "dropped_snapshots": dropped_snaps,
        "dropped_files": dropped_files,
    }
