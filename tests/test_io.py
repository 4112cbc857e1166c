

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
        """On a plain path and on a ``file://`` URI: the compaction goes
        through the Hadoop FileSystem, like the pipeline's writes."""
        from xwikire_spark.sources.compaction import (
            compact_partitions,
            compaction_plan,
            partition_hash,
            read_partitioned,
        )

        for root in (str(tmp_path / "t"), (tmp_path / "u").as_uri()):
            self._fragmented_table(spark, root)
            plan = compaction_plan(root, target_bytes=1 << 30)
            assert plan and all(n == 1 for n in plan.values())
            h0 = partition_hash(spark, root)
            n0 = read_partitioned(spark, root).count()

            stats = compact_partitions(spark, root, target_bytes=1 << 30)
            assert {s["partition"] for s in stats} == set(plan)
            assert all(
                s["files_after"] == 1 and s["files_before"] == 8
                for s in stats
            )
            assert partition_hash(spark, root) == h0
            assert read_partitioned(spark, root).count() == n0
            # partition column survives the rewrite (derived from dir
            # layout)
            assert "part_bucket" in read_partitioned(spark, root).columns
            # second run: nothing left to do
            assert compact_partitions(
                spark, root, target_bytes=1 << 30
            ) == []

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
