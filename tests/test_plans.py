"""Plan-hygiene regression tests: the flagship plans must keep the shape we
engineered (one shuffle, pruned scans, single fused Python stage)."""

import re

import pandas as pd
import pytest
from pyspark.sql import DataFrame


# Plan-hygiene helpers: they make the wanted plan properties testable, so
# a regression that adds a shuffle or un-prunes a scan fails here.


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().simpleString()


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle Exchange operators (excluding broadcast/reused)."""
    plan = optimized_plan(df)
    return len(re.findall(r"\bExchange hashpartitioning", plan)) + len(
        re.findall(r"\bExchange rangepartitioning", plan)
    )


def single_partition_exchanges(df: DataFrame) -> int:
    """Number of Exchange SinglePartition operators — the global-sort /
    global-window scale killer (the whole input serializes through ONE
    task). Scale-safe plans over big inputs must show zero."""
    return len(re.findall(r"Exchange SinglePartition", optimized_plan(df)))


def scan_read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema strings of every file scan — pruning check."""
    return re.findall(r"ReadSchema: (struct<[^>]*>)", optimized_plan(df))


def python_eval_count(df: DataFrame) -> int:
    """Number of Python-boundary operators (ArrowEval / MapInPandas /
    FlatMapGroupsInPandas) — fewer is better (fused kernels)."""
    plan = optimized_plan(df)
    return sum(
        len(re.findall(p, plan))
        for p in (r"ArrowEvalPython", r"MapInPandas",
                  r"FlatMapGroupsInPandas")
    )


class TestFlagshipPlans:
    def test_kg_lite_one_shuffle_pruned_scan(self, spark):
        import __spark_entry__ as e

        df = e.kg_triples_df(spark, "/root/testdata/sf0.001")
        # r7: exactly 2 exchanges — the deliberate input-spreading
        # repartition right after the one-row-group parquet read (guide
        # §2.5; without it the whole turn+mention derivation runs in ONE
        # scan task at bench scale) plus the single first-evidence
        # aggregation shuffle. Anything above 2 means re-inlining crept
        # back in.
        assert count_exchanges(df) == 2, (
            "flagship must shuffle exactly twice (input spread + dedup)"
        )
        schemas = scan_read_schemas(df)
        assert schemas and all(
            "doc_id" in s and "text" in s and "lang" not in s
            for s in schemas
        ), f"scan not pruned: {schemas}"

    def test_global_rank_no_single_partition_exchange(self, spark):
        # global_rank / sequential_splits / build_vocab must never funnel
        # the ranked table through Exchange SinglePartition
        import pandas as pd

        from xwikire_spark.operators.splits import (
            global_rank,
            greedy_fold_packing,
            sequential_splits,
        )
        from xwikire_spark.operators.vocab import build_vocab

        df = spark.createDataFrame(
            pd.DataFrame({"id": range(100), "text": ["a b c"] * 100})
        )
        ranked = global_rank(df, ["id"])
        assert single_partition_exchanges(ranked) == 0
        # rank values are the exact total order
        got = [r.rank for r in ranked.orderBy("id").collect()]
        assert got == list(range(1, 101))

        splits = sequential_splits(
            df, {"test": 10, "dev": 20, "train": 10**9},
            id_col="id", order_col="id",
        )
        assert single_partition_exchanges(splits) == 0
        vocab = build_vocab(df)
        assert single_partition_exchanges(vocab) == 0
        counts = df.selectExpr("id as class", "id + 1 as count")
        packing = greedy_fold_packing(counts)
        # the single remaining SinglePartition is the final step of the
        # 1-row max(rank) scalar aggregate (one partial row per partition),
        # not a sort of the data
        assert single_partition_exchanges(packing) <= 1

    def test_entity_salience_no_single_partition_exchange(self, spark):
        """The bench-headline salience query (VERDICT r4 #5): the served
        frame holds the <= top_k collected rows, so its own plan is a
        local scan; the ranking plan under it is checked by
        test_salience_topk_take_ordered_no_single_partition."""
        import pandas as pd

        from xwikire_spark.pipeline.graph import entity_salience

        triples = spark.createDataFrame(
            pd.DataFrame(
                [(f"e{i % 7}", "p", f"e{(i + 1) % 7}", f"c{i % 3}")
                 for i in range(30)],
                columns=["subj", "pred", "obj", "conv_id"],
            )
        )
        df = entity_salience(triples, n_iter=2, top_k=5)
        assert single_partition_exchanges(df) == 0
        assert df.count() == 5

    @pytest.mark.parametrize("distributed", [False, True])
    def test_salience_topk_take_ordered_no_single_partition(
        self, spark, monkeypatch, distributed
    ):
        """entity_salience's ranking plan over the rank⋈degree join is a
        TakeOrderedAndProject with NO Exchange SinglePartition (a window
        ORDER BY over all entities would add one), on both PageRank
        paths."""
        from xwikire_spark.pipeline import graph

        if distributed:
            monkeypatch.setattr(graph, "DRIVER_LOOP_MAX_ROWS", 0)
        triples = spark.createDataFrame(
            pd.DataFrame(
                [(f"e{i % 7}", "p", f"e{(i + 1) % 7}", f"c{i % 3}")
                 for i in range(30)],
                columns=["subj", "pred", "obj", "conv_id"],
            )
        )
        df = graph._salience_topk(triples, 0.85, 2, 5)
        assert "TakeOrderedAndProject" in physical_plan(df), physical_plan(df)
        assert single_partition_exchanges(df) == 0
        assert df.count() == 5

    def test_topk_uses_take_ordered(self, spark):
        import __spark_entry__ as e

        df = e.q_w6_topk(spark, "/root/testdata/sf0.001")
        plan = physical_plan(df)
        assert "TakeOrderedAndProject" in plan, plan
        # the only remaining single-partition step is the 100-row rank
        # window above the limit, never the full table
        assert single_partition_exchanges(df) <= 1

    def test_join_strategy_single_tokenize_pass(self, spark):
        # the large-dictionary join path must tokenize ONCE (tagged union
        # of both dictionaries): since r7, ONE fused ArrowEval stage
        # (segment + word-offsets in a single pandas UDF) and no
        # per-branch re-evaluation (the naive split measured 6 ArrowEval /
        # 9 exchanges; the pre-r7 shape was 2 ArrowEval + a min-over-
        # window pass costing an extra exchange)
        import re

        import pandas as pd

        from xwikire_spark import datagen
        from xwikire_spark.pipeline.extraction import extract_triples

        rows, _ = datagen.generate_transcripts(n_convs=5, turns_per_conv=4)
        t = spark.createDataFrame(pd.DataFrame(rows))
        al = spark.createDataFrame(pd.DataFrame(datagen.alias_rows()))
        pr = spark.createDataFrame(pd.DataFrame(datagen.predicate_rows()))
        df = extract_triples(t, al, pr, dict_strategy="join")
        plan = optimized_plan(df)
        assert len(re.findall(r"ArrowEvalPython", plan)) == 1, plan
        # 5 = dictionary distinct + both sides of the pinned shuffled-hash
        # dictionary join (the dictionary must NOT broadcast — that is
        # this strategy's contract) + match aggregate + first-evidence
        assert count_exchanges(df) <= 5
        # the corpus side must never be the broadcast build side (r7: the
        # planner's post-UDF estimates picked BuildLeft over the whole
        # tokenized corpus)
        phys = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in phys, phys

    def test_facts_object_join_not_broadcast(self, spark):
        # J3: the wikibase object side is the FULL entity table — the plan
        # must not force a broadcast (SURVEY §2.3; a hint would OOM at
        # Wikidata scale). Only the reduced unit dim may be broadcast.
        import pandas as pd

        from xwikire_spark.pipeline.facts import build_facts

        claims = spark.createDataFrame(pd.DataFrame([
            dict(claim_id=f"c{i}", entity_id=f"Q{i}", pid="P1",
                 datatype="wikibase-entityid", string_type=None,
                 string_value=None, object_id=f"Q{i + 1}", amount=None,
                 unit_uri=None, raw_time=None, precision=None)
            for i in range(20)
        ]))
        entities = spark.createDataFrame(pd.DataFrame([
            dict(entity_id=f"Q{i}", label=f"L{i}", aliases=[f"a{i}"])
            for i in range(30)
        ]))
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            wikibase_only = build_facts(claims, entities).where(
                "value_type = 'wikibase'"
            )
            plan = physical_plan(wikibase_only)
            assert "BroadcastHashJoin" not in plan, plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    def test_pipeline_single_python_stage(self, spark):
        from xwikire_spark import datagen
        from xwikire_spark.pipeline.extraction import extract_triples

        rows, _ = datagen.generate_transcripts(n_convs=5, turns_per_conv=4)
        t = spark.createDataFrame(pd.DataFrame(rows))
        al = spark.createDataFrame(pd.DataFrame(datagen.alias_rows()))
        pr = spark.createDataFrame(pd.DataFrame(datagen.predicate_rows()))
        df = extract_triples(t, al, pr)
        assert python_eval_count(df) == 1, (
            "extraction must stay ONE fused mapInPandas kernel"
        )
        assert count_exchanges(df) == 1, (
            "extraction must shuffle exactly once (the dedup aggregate)"
        )


def test_document_stats_single_scan_no_shuffle(spark, tmp_path):
    """txt_stats / document_stats must be ONE projection over one scan:
    no Exchange, no Join in the plan (the naive three-frame join costs 3
    scans + 2 sort-merge shuffles of the whole corpus at 100 TB)."""
    import pandas as pd

    from xwikire_spark.operators.textstats import document_stats

    p = str(tmp_path / "docs")
    spark.createDataFrame(
        pd.DataFrame([{"doc_id": 1, "text": "a b c d e"}])
    ).write.parquet(p)
    plan = (
        document_stats(spark.read.parquet(p))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert plan.count("Scan parquet") == 1


class TestHygieneFusedPlan:
    def test_txt_hygiene_single_pass(self, spark):
        """The hygiene family (scrub + contamination + excise) must stay
        FUSED: one tagged-explode pass over the corpus, the only real
        shuffles being the explicit top repartition and the tiny
        contamination-hits aggregate — never per-branch corpus shuffles
        (the pre-r4 union shape: 3 scans + 2 sort-merge joins)."""
        import __spark_entry__ as e

        df = e.q_txt_hygiene(spark, "/root/testdata/sf0.001")
        plan = physical_plan(df)
        assert "SortMergeJoin" not in plan, plan
        assert plan.count("BroadcastHashJoin") == 2  # probe shingles + hits
        # The contamination-hits aggregate must run MAP-SIDE (input
        # already hash-partitioned by doc_id): no ENSURE_REQUIREMENTS
        # exchange on doc_id anywhere — the only doc_id exchanges are the
        # explicit testbox repartition shim (REPARTITION_BY_NUM; collapses
        # to zero at real scale where the input arrives pre-split), plus
        # one inherent shingle-distinct on the tiny probe side.
        import re

        ensure = [
            ln for ln in plan.splitlines()
            if "ENSURE_REQUIREMENTS" in ln and "doc_id" in ln
        ]
        assert not ensure, ensure
        shuffles = len(re.findall(r"Exchange hashpartitioning", plan))
        assert shuffles <= 4, plan
        # exactly one Python-free tagged family: rows = 2*docs + hits
        ops = {r["op"]: r["n"] for r in df.groupBy("op").count()
               .withColumnRenamed("count", "n").collect()}
        assert ops["scrub"] == ops["excise"] and 0 < ops["contam"] < ops["scrub"]

class TestAQESkewJoin:
    def test_hot_conv_id_join_splits_skewed_partition(self, spark):
        """north_rule: 'AQE skew-join handling' — evidence it actually
        fires. One hot conv_id (50k turns) against a uniform dimension
        must make AQE split the hot shuffle partition at runtime:
        thresholds are scaled down so the testbox corpus crosses them,
        exactly as a hot entity would cross the 256MB default at 10^12
        turns. Assert on the FINAL adaptive plan (only available after
        executing the frame's own QueryExecution; a downstream aggregate
        suppresses the split — Spark declines skew handling when it may
        introduce an extra shuffle — so the probe collects a projection)."""
        from pyspark.sql import functions as F

        confs = {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
                "32KB",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        }
        old = {k: spark.conf.get(k) for k in confs}
        for k, v in confs.items():
            spark.conf.set(k, v)
        try:
            hot = spark.range(0, 50_000).select(
                F.lit("hot").alias("conv_id"),
                F.col("id").alias("turn_idx"),
                F.sha2(F.col("id").cast("string"), 256).alias("pad"),
            )
            cold = spark.range(0, 500).select(
                F.concat(F.lit("c"), (F.col("id") % 50).cast("string"))
                .alias("conv_id"),
                F.col("id").alias("turn_idx"),
                F.sha2(F.col("id").cast("string"), 256).alias("pad"),
            )
            dim = spark.createDataFrame(pd.DataFrame({
                "conv_id": ["hot"] + [f"c{i}" for i in range(50)],
                "meta": list(range(51)),
            }))
            j = hot.unionAll(cold).join(dim, "conv_id").select("turn_idx")
            assert len(j.collect()) == 50_500
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "isFinalPlan=true" in plan
            assert "SortMergeJoin(skew=true)" in plan, plan
            assert "skewed" in plan, plan
        finally:
            for k, v in old.items():
                spark.conf.set(k, v)
