

class TestCompaction:
    """Small-file compaction (sources/compaction.py): bit-identical rows,
    fewer files, crash-safe swap semantics."""

    def _fragmented_table(self, spark, root):
        import pandas as pd

        df = spark.createDataFrame(pd.DataFrame({
            "conv_id": [f"c{i % 6}" for i in range(600)],
            "turn_idx": list(range(600)),
            "text": [f"turn text {i}" for i in range(600)],
        }))
        from pyspark.sql import functions as F

        out = df.withColumn(
            "part_bucket", F.pmod(F.xxhash64("conv_id"), F.lit(3))
        )
        # 8 files per partition = the post-incremental-append shape
        out.repartition(8).write.partitionBy("part_bucket").mode(
            "overwrite"
        ).parquet(root)
        return root

    def test_compacts_bit_identically(self, spark, tmp_path):
        from xwikire_spark.sources.compaction import (
            compact_partitions,
            compaction_plan,
            partition_hash,
            read_partitioned,
        )

        root = self._fragmented_table(spark, str(tmp_path / "t"))
        plan = compaction_plan(root, target_bytes=1 << 30)
        assert plan and all(n == 1 for n in plan.values())
        h0 = partition_hash(spark, root)
        n0 = read_partitioned(spark, root).count()

        stats = compact_partitions(spark, root, target_bytes=1 << 30)
        assert {s["partition"] for s in stats} == set(plan)
        assert all(
            s["files_after"] == 1 and s["files_before"] == 8 for s in stats
        )
        assert partition_hash(spark, root) == h0
        assert read_partitioned(spark, root).count() == n0
        # partition column survives the rewrite (derived from dir layout)
        assert "part_bucket" in read_partitioned(spark, root).columns
        # second run: nothing left to do
        assert compact_partitions(spark, root, target_bytes=1 << 30) == []

    def test_multi_file_target_and_min_files(self, spark, tmp_path):
        from xwikire_spark.sources.compaction import (
            compact_partitions,
            compaction_plan,
        )

        root = self._fragmented_table(spark, str(tmp_path / "t2"))
        # tiny target -> several output files per partition, never more
        # than it had
        plan = compaction_plan(root, target_bytes=4096)
        if plan:  # partitions small enough may legitimately drop out
            stats = compact_partitions(spark, root, target_bytes=4096)
            for s in stats:
                assert 1 <= s["files_after"] < s["files_before"]
        # min_files high enough disables everything
        assert compaction_plan(root, min_files=99) == {}

    def test_crash_recovery_and_reader_invisibility(self, spark, tmp_path):
        """Dot-prefixed temp/backup dirs are invisible to Spark readers,
        and a crash between the two swap renames (partition parked at
        .compact_old.*) is rolled back by the next run."""
        import os
        import shutil

        from xwikire_spark.sources.compaction import (
            compact_partitions,
            read_partitioned,
        )

        root = self._fragmented_table(spark, str(tmp_path / "t3"))
        n0 = read_partitioned(spark, root).count()
        parts = sorted(
            d for d in os.listdir(root) if d.startswith("part_bucket=")
        )
        # simulate the crash window: one partition renamed to its backup
        victim = parts[0]
        os.rename(
            os.path.join(root, victim),
            os.path.join(root, f".compact_old.{victim}"),
        )
        # plus a leftover half-written tmp for another partition
        shutil.copytree(
            os.path.join(root, parts[1]),
            os.path.join(root, f".compact_tmp.{parts[1]}"),
        )
        # readers see neither the backup nor the tmp (no double counting,
        # no bogus partition values) — the victim is absent, not mixed
        assert read_partitioned(spark, root).count() < n0
        vals = {
            r["part_bucket"]
            for r in read_partitioned(spark, root)
            .select("part_bucket").distinct().collect()
        }
        assert all(isinstance(v, int) for v in vals)

        # next run recovers the victim, clears the stale tmp, compacts
        stats = compact_partitions(spark, root, target_bytes=1 << 30)
        assert read_partitioned(spark, root).count() == n0
        assert not [
            d for d in os.listdir(root) if d.startswith(".compact_")
        ]
        assert {s["partition"] for s in stats} == {
            p.split("=")[1] for p in parts
        }

    def test_concurrent_append_mid_compaction_loses_nothing(
        self, spark, tmp_path, monkeypatch
    ):
        """VERDICT r4 #3: a file appended between the rewrite read and the
        swap rename must never be dropped — the pre-swap re-list skips
        that partition (reported as skipped_dirty) and leaves it for the
        next run."""
        import os

        import pyarrow as pa
        import pyarrow.parquet as pq

        from xwikire_spark.sources import compaction

        root = self._fragmented_table(spark, str(tmp_path / "t4"))
        n0 = compaction.read_partitioned(spark, root).count()

        orig = compaction._current_files
        state = {"appended_dir": None}

        def racing_appender(part_dir):
            # the first pre-swap re-list observes a concurrent append
            # landing at exactly the race point
            if state["appended_dir"] is None:
                state["appended_dir"] = part_dir
                pq.write_table(
                    pa.table({
                        "conv_id": ["late"],
                        "turn_idx": [9999],
                        "text": ["late row"],
                    }),
                    os.path.join(part_dir, "part-late-append.parquet"),
                )
            return orig(part_dir)

        monkeypatch.setattr(compaction, "_current_files", racing_appender)
        stats = compaction.compact_partitions(
            spark, root, target_bytes=1 << 30, max_concurrency=1
        )
        dirty = [s for s in stats if s["skipped_dirty"]]
        clean = [s for s in stats if not s["skipped_dirty"]]
        assert len(dirty) == 1 and len(clean) == len(stats) - 1
        assert dirty[0]["files_after"] == dirty[0]["files_before"] + 1
        # zero data loss: every original row plus the appended one
        got = compaction.read_partitioned(spark, root)
        assert got.count() == n0 + 1
        assert got.where("text = 'late row'").count() == 1
        # the skipped partition left no half-written swap dirs behind
        assert not [
            d for d in os.listdir(root) if d.startswith(".compact_")
        ]
        # next (quiet) run compacts the previously-dirty partition
        monkeypatch.setattr(compaction, "_current_files", orig)
        stats2 = compaction.compact_partitions(
            spark, root, target_bytes=1 << 30
        )
        assert [s["partition"] for s in stats2] == [dirty[0]["partition"]]
        assert not stats2[0]["skipped_dirty"]
        assert compaction.read_partitioned(spark, root).count() == n0 + 1


class TestSnapshots:
    """sources/snapshots.py: snapshot-isolated commits + time travel (the
    Iceberg metadata-layer analog). Core contracts: readers plan from the
    manifest (never a directory listing), the pointer swings only after
    data+manifest are durable (crash => parent snapshot intact), old
    versions keep their exact file sets across appends/compactions until
    expired, and a lost commit race can never clobber the winner."""

    def _df(self, spark, ids):
        return spark.createDataFrame(
            [(i, f"doc{i}") for i in ids], "id bigint, text string"
        )

    def _ids(self, df):
        return sorted(r["id"] for r in df.collect())

    def test_append_time_travel_and_log(self, spark, tmp_path):
        from xwikire_spark.sources import snapshots as sn

        root = str(tmp_path / "t")
        st1 = sn.commit_append(spark, root, self._df(spark, range(5)))
        st2 = sn.commit_append(spark, root, self._df(spark, range(5, 8)))
        assert (st1["version"], st2["version"]) == (1, 2)
        assert st2["parent"] == 1
        assert self._ids(sn.read_table(spark, root)) == list(range(8))
        # time travel: v1 unchanged by the later append
        assert self._ids(sn.read_table(spark, root, version=1)) == list(
            range(5)
        )
        log = sn.snapshot_log(root)
        assert [m["version"] for m in log] == [1, 2]
        assert all(not m["orphan"] for m in log)
        assert log[1]["op"] == "append"

    def test_reader_never_lists_directories(self, spark, tmp_path):
        """A parquet file on disk that no snapshot references is
        invisible — the atomicity property crashes rely on."""
        import os

        from xwikire_spark.sources import snapshots as sn

        root = str(tmp_path / "t")
        sn.commit_append(spark, root, self._df(spark, range(4)))
        rogue = os.path.join(root, "snapdata", "rogue")
        self._df(spark, range(100, 110)).write.parquet(rogue)
        assert self._ids(sn.read_table(spark, root)) == list(range(4))

    def test_overwrite_and_compact_are_snapshot_isolated(
        self, spark, tmp_path
    ):
        from xwikire_spark.sources import snapshots as sn

        root = str(tmp_path / "t")
        sn.commit_append(
            spark, root, self._df(spark, range(6)).repartition(4)
        )
        sn.commit_append(spark, root, self._df(spark, range(6, 9)))
        before = self._ids(sn.read_table(spark, root))
        st = sn.compact_snapshot(spark, root, target_files=1)
        assert st["op"] == "compact" and st["added_files"] == 1
        assert self._ids(sn.read_table(spark, root)) == before
        # the pre-compaction snapshot still reads its ORIGINAL files
        assert self._ids(sn.read_table(spark, root, version=2)) == before
        assert self._ids(sn.read_table(spark, root, version=1)) == list(
            range(6)
        )
        sn.commit_overwrite(spark, root, self._df(spark, [42]))
        assert self._ids(sn.read_table(spark, root)) == [42]
        assert self._ids(sn.read_table(spark, root, version=3)) == before

    def test_expire_drops_unreferenced_files_only(self, spark, tmp_path):
        import os

        from xwikire_spark.sources import snapshots as sn

        root = str(tmp_path / "t")
        sn.commit_append(spark, root, self._df(spark, range(6)))
        sn.commit_append(spark, root, self._df(spark, range(6, 9)))
        sn.compact_snapshot(spark, root, target_files=1)
        st = sn.expire_snapshots(spark, root, keep_last=1)
        assert st["retained"] == [3]
        assert st["dropped_snapshots"] == 2
        assert st["dropped_files"] > 0
        # current still reads; expired versions are gone
        assert self._ids(sn.read_table(spark, root)) == list(range(9))
        import pytest as _pytest

        with _pytest.raises(ValueError):
            sn.read_table(spark, root, version=1)
        # the v1/v2 file groups were physically removed (compact rewrote
        # everything, so only v3's group remains)
        groups = os.listdir(os.path.join(root, "snapdata"))
        assert len(groups) == 1

    def test_lost_race_cannot_clobber_winner(
        self, spark, tmp_path, monkeypatch
    ):
        """A commit that loses the pointer race raises SnapshotConflict
        AFTER the winner's commit is fully durable — and the winner's
        manifest at the contested version slot is untouched. The loser's
        data + staging are orphans that expire_snapshots sweeps."""
        import os

        import pytest as _pytest

        from xwikire_spark.sources import snapshots as sn

        root = str(tmp_path / "t")
        sn.commit_append(spark, root, self._df(spark, range(3)))

        orig = sn._write_data
        fired = {}

        def interlope(df, r, partition_col=None):
            out = orig(df, r, partition_col)
            if "done" not in fired:  # the interloper wins the race once
                fired["done"] = True
                sn.commit_append(spark, root, self._df(spark, [77]))
            return out

        monkeypatch.setattr(sn, "_write_data", interlope)
        with _pytest.raises(sn.SnapshotConflict):
            sn.commit_append(spark, root, self._df(spark, [99]))
        monkeypatch.setattr(sn, "_write_data", orig)
        # winner's v2 is intact; the loser's row never appears
        assert sn.current_version(root) == 2
        assert self._ids(sn.read_table(spark, root)) == [0, 1, 2, 77]
        # loser left orphans (data group + staging); expire sweeps them
        n_groups = len(os.listdir(os.path.join(root, "snapdata")))
        assert n_groups == 3  # v1 + winner + loser-orphan
        sn.expire_snapshots(spark, root, keep_last=2)
        assert len(os.listdir(os.path.join(root, "snapdata"))) == 2
        assert self._ids(sn.read_table(spark, root)) == [0, 1, 2, 77]
        staging = [
            n for n in os.listdir(os.path.join(root, "_snapshots"))
            if n.endswith(".tmp")
        ]
        assert staging == []

    def test_empty_and_missing_versions(self, spark, tmp_path):
        import pytest as _pytest

        from xwikire_spark.sources import snapshots as sn

        root = str(tmp_path / "t")
        with _pytest.raises(ValueError):
            sn.read_table(spark, root)
        sn.commit_append(spark, root, self._df(spark, [1]))
        with _pytest.raises(ValueError):
            sn.read_table(spark, root, version=9)


class TestSnapshotPartitioned:
    """Partitioned snapshot tables: Hive-layout file groups whose
    manifest rows carry per-file partition values (Iceberg's partition
    tuple), commit_replace_partitions = dynamic partition overwrite as
    ONE atomic versioned commit, metadata-level partition pruning, and
    expire() that is per-FILE safe inside mixed-liveness groups."""

    def _pdf(self, spark, pairs):
        """(bucket, id) rows; partition col deliberately NOT last so the
        read path must restore committed column order."""
        return spark.createDataFrame(
            [(b, i, f"doc{i}") for b, i in pairs],
            "bucket bigint, id bigint, text string",
        )

    def _rows(self, df):
        return sorted((r["bucket"], r["id"], r["text"]) for r in df.collect())

    def test_replace_partitions_is_atomic_and_time_travels(
        self, spark, tmp_path
    ):
        from xwikire_spark.sources import snapshots as sn

        root = str(tmp_path / "t")
        v1_rows = [(b, b * 10 + i) for b in (0, 1, 2) for i in range(3)]
        sn.commit_replace_partitions(
            spark, root, self._pdf(spark, v1_rows), "bucket"
        )
        # rewrite ONLY bucket 1
        new1 = [(1, 99), (1, 98)]
        st = sn.commit_replace_partitions(
            spark, root, self._pdf(spark, new1), "bucket"
        )
        assert st["op"] == "replace" and st["version"] == 2
        want = [p for p in v1_rows if p[0] != 1] + new1
        assert self._rows(sn.read_table(spark, root)) == self._rows(
            self._pdf(spark, want)
        )
        # time travel: v1 still serves the original bucket 1
        assert self._rows(
            sn.read_table(spark, root, version=1)
        ) == self._rows(self._pdf(spark, v1_rows))
        # untouched buckets were CARRIED FORWARD, not rewritten: their
        # manifest paths are identical across versions
        def paths(v, bucket):
            return {
                r["path"]
                for r in sn._read_manifest(spark, root, v).collect()
                if r["partition"] == f"bucket={bucket}"
            }

        for b in (0, 2):
            assert paths(1, b) == paths(2, b)
        assert paths(1, 1) and paths(1, 1) != paths(2, 1)

    def test_partition_pruning_plans_fewer_files(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from xwikire_spark.sources import snapshots as sn

        root = str(tmp_path / "t")
        rows = [(b, b * 100 + i) for b in range(4) for i in range(5)]
        sn.commit_replace_partitions(
            spark, root, self._pdf(spark, rows), "bucket"
        )
        full = sn.read_table(spark, root)
        # partitions= plans only the wanted buckets' files (manifest-level)
        one = sn.read_table(spark, root, partitions=[2])
        assert self._rows(one) == self._rows(
            full.where(F.col("bucket") == 2)
        )
        got_files = {
            f for (f,) in one.select(
                F.input_file_name()
            ).distinct().collect()
        }
        assert all("bucket=2" in f for f in got_files)

    def test_local_frames_are_local_relations(
        self, spark, tmp_path, monkeypatch
    ):
        """The frames built on the driver (a commit's manifest rows, the
        empty plan of a snapshot with no matching files, a first run's
        empty KG manifest) come from Arrow tables, so Spark holds them as
        a LocalRelation: no Python RDD, no Python worker to write them."""
        from xwikire_spark.pipeline.manifests import read_manifest
        from xwikire_spark.sources import snapshots as sn

        def leaf_kinds(df):
            leaves = df._jdf.queryExecution().analyzed().collectLeaves()
            return {leaves.apply(i).getClass().getSimpleName()
                    for i in range(leaves.length())}

        df = self._pdf(spark, [(0, 1), (1, 2)])
        built = []
        create = spark.createDataFrame

        def recording(*args, **kwargs):
            built.append(create(*args, **kwargs))
            return built[-1]

        monkeypatch.setattr(spark, "createDataFrame", recording)
        root = str(tmp_path / "t")
        sn.commit_replace_partitions(spark, root, df, "bucket")
        sn.commit_replace_partitions(spark, root, df, "bucket")
        assert len(built) == 2  # one manifest frame per commit
        none = sn.read_table(spark, root, partitions=[7])
        assert len(built) == 3 and none.count() == 0
        assert read_manifest(spark, str(tmp_path / "kg")).count() == 0
        assert len(built) == 4
        assert [leaf_kinds(f) for f in built + [none]] \
            == [{"LocalRelation"}] * 5

    def test_partition_spec_inherited_and_enforced(self, spark, tmp_path):
        import pytest as _pytest
        from pyspark.sql import functions as F

        from xwikire_spark.sources import snapshots as sn

        root = str(tmp_path / "t")
        sn.commit_replace_partitions(
            spark, root, self._pdf(spark, [(0, 1), (1, 2)]), "bucket"
        )
        # append without a spec inherits the table's partitioning
        sn.commit_append(spark, root, self._pdf(spark, [(0, 3)]))
        m = sn._read_manifest(spark, root, 2)
        assert m.where(F.col("partition").isNull()).count() == 0
        assert self._rows(sn.read_table(spark, root)) == self._rows(
            self._pdf(spark, [(0, 1), (1, 2), (0, 3)])
        )
        # a conflicting spec is rejected before any metadata lands
        with _pytest.raises(ValueError):
            sn.commit_append(
                spark, root, self._pdf(spark, [(2, 4)]), partition_col="id"
            )

    def test_expire_is_file_safe_in_mixed_groups(self, spark, tmp_path):
        """The first commit's group holds files for ALL buckets; after a
        bucket-1 replace + expire(keep_last=1), ONLY the dead bucket-1
        files may be deleted from that shared group — the live buckets'
        files (and the table view) must survive."""
        import os

        from xwikire_spark.sources import snapshots as sn

        root = str(tmp_path / "t")
        v1_rows = [(b, b * 10 + i) for b in (0, 1, 2) for i in range(3)]
        sn.commit_replace_partitions(
            spark, root, self._pdf(spark, v1_rows), "bucket"
        )
        sn.commit_replace_partitions(
            spark, root, self._pdf(spark, [(1, 99)]), "bucket"
        )
        before = self._rows(sn.read_table(spark, root))
        st = sn.expire_snapshots(spark, root, keep_last=1)
        assert st["dropped_files"] > 0
        assert self._rows(sn.read_table(spark, root)) == before
        # every file the retained manifest references still exists
        for r in sn._read_manifest(spark, root, 2).collect():
            assert os.path.exists(os.path.join(root, r["path"]))

    def test_compact_partitioned_keeps_spec_and_view(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from xwikire_spark.sources import snapshots as sn

        root = str(tmp_path / "t")
        rows = [(b, b * 10 + i) for b in (0, 1) for i in range(4)]
        df = self._pdf(spark, rows).repartition(4)
        sn.commit_replace_partitions(spark, root, df, "bucket")
        sn.commit_append(spark, root, self._pdf(spark, [(0, 77)]))
        before = self._rows(sn.read_table(spark, root))
        sn.compact_snapshot(spark, root)
        meta = sn.snapshot_meta(root, sn.current_version(root))
        assert meta["op"] == "compact"
        assert meta["partition_col"] == "bucket"
        after = sn.read_table(spark, root)
        assert self._rows(after) == before
        # still partition-prunable after compaction
        one = sn.read_table(spark, root, partitions=[1])
        assert self._rows(one) == self._rows(
            after.where(F.col("bucket") == 1)
        )
