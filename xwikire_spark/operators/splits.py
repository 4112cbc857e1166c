"""Dataset splitting & balancing (SURVEY §2.5): fold packing, stratified
capped sampling, per-class balancing, round-robin selection, split
sequencing, duplicate detection.

The reference implements these as driver-side Python over full JSONL files
(src/split_rel.py, src/split_entity.py, src/scripts/balance_relation.py);
here each is a window/aggregate plan. Determinism note from SURVEY §7: the
reference samples by *set iteration order* (nondeterministic); every
operator below pins an explicit ORDER BY.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def global_rank(
    df: DataFrame,
    order: list[Column | str],
    rank_col: str = "rank",
    n_partitions: int | None = None,
    stabilize: bool = False,
) -> DataFrame:
    """Scalable total-order rank (1-based row_number): range-repartition on
    the order expressions, rank within each partition, then add the
    cumulative count of all lower partitions.

    This is the scale-safe replacement for ``row_number() OVER (ORDER BY
    ...)``, whose physical plan is an Exchange SinglePartition + full sort
    in ONE task — the classic 100x-scale killer. Here the data is sorted
    range-partition-parallel; only the per-partition COUNTS (one row per
    partition) meet on a single node, via a broadcast-joined triangular
    self-join, so the plan contains no SinglePartition exchange at all and
    stays fully lazy (no driver-side action at plan-build time).

    ``order`` must define a total order (include a unique tiebreaker) or
    ranks of tied rows straddling a partition boundary are arbitrary.

    Cost note: the per-partition counts are a SECOND pass over the input —
    but Catalyst column-prunes it to the order columns only (a key-only
    parquet scan + key-only range shuffle), which is marginal next to the
    full-width main pass. For iterative callers, localCheckpoint the input
    first and both passes read the checkpoint.

    Determinism caveat (ADVICE r2): the two passes must resolve to the
    SAME range-partition boundaries and spark_partition_id assignment —
    true via exchange reuse on deterministic input, but a nondeterministic
    upstream (rand(), sampled input, stage retry after executor loss)
    could skew the offsets and duplicate/skip ranks. Pass
    ``stabilize=True`` to eagerly localCheckpoint the input first, pinning
    both passes to one materialization (costs one extra pass + storage).
    """
    if stabilize:
        df = df.localCheckpoint(eager=True)
    cols = [F.col(c) if isinstance(c, str) else c for c in order]
    parted = (
        df.repartitionByRange(n_partitions, *cols)
        if n_partitions
        else df.repartitionByRange(*cols)
    )
    ranked = parted.withColumn("_pid", F.spark_partition_id()).withColumn(
        "_rn", F.row_number().over(Window.partitionBy("_pid").orderBy(*cols))
    )
    counts = ranked.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n"))
    offsets = (
        counts.alias("a")
        .join(
            counts.alias("b"), F.col("b._pid") < F.col("a._pid"), "left"
        )
        .groupBy(F.col("a._pid").alias("_pid"))
        .agg(F.coalesce(F.sum("b._n"), F.lit(0)).alias("_off"))
    )
    return (
        ranked.join(F.broadcast(offsets), "_pid")
        .withColumn(rank_col, F.col("_rn") + F.col("_off"))
        .drop("_pid", "_rn", "_off")
    )


def greedy_fold_packing(
    class_counts: DataFrame,
    n_folds: int = 10,
    class_col: str = "class",
    count_col: str = "count",
) -> DataFrame:
    """Reference src/split_rel.py:24-52: sort classes by count desc, pair
    rank i with rank N+1-i (largest with smallest), assign pair p to fold
    p % n_folds. Output: class, count, fold.

    Rank is a distributed global_rank (class tables can reach hundreds of
    millions of classes) and the total class count joins in as a broadcast
    1-row aggregate — fully lazy, no driver-side .first() at plan time."""
    ranked = global_rank(
        class_counts, [F.desc(count_col), F.asc(class_col)]
    )
    total = ranked.agg(F.max("rank").alias("_total"))
    return ranked.crossJoin(F.broadcast(total)).select(
        class_col,
        count_col,
        F.pmod(
            F.least(F.col("rank"), F.col("_total") + 1 - F.col("rank")) - 1,
            F.lit(n_folds),
        ).cast("int").alias("fold"),
    )


def per_fold_class_cap(
    examples: DataFrame,
    fold_col: str = "fold",
    class_col: str = "class",
    order_col: str = "id",
) -> DataFrame:
    """Reference src/split_rel.py:72-100 (A8): within each fold keep exactly
    min(class counts) examples of each class, in pinned order."""
    counts = examples.groupBy(fold_col, class_col).agg(
        F.count(F.lit(1)).alias("n")
    )
    caps = counts.groupBy(fold_col).agg(F.min("n").alias("cap"))
    w = Window.partitionBy(fold_col, class_col).orderBy(order_col)
    return (
        examples.withColumn("rn", F.row_number().over(w))
        .join(F.broadcast(caps), fold_col)
        .where(F.col("rn") <= F.col("cap"))
        .drop("rn", "cap")
    )


def stratified_capped_sample(
    rows: DataFrame,
    strata_col: str,
    per_stratum: int,
    order_col: str,
) -> DataFrame:
    """W2 (src/split_entity.py:56-86): at most ``per_stratum`` rows per
    stratum, deterministic order."""
    w = Window.partitionBy(strata_col).orderBy(order_col)
    return (
        rows.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= per_stratum)
        .drop("rn")
    )


def round_robin_balance(
    rows: DataFrame,
    class_col: str,
    limit: int,
    order_col: str,
    dedup_col: str | None = None,
    seed: int | None = None,
) -> DataFrame:
    """W4 (src/scripts/balance_relation.py:21-70): take one example per
    class per round until ``limit``. Reference options mirrored:

    - ``dedup_col``: keep one example per dedup value before balancing
      (the reference's ``keep_all=False`` q_id dedup,
      balance_relation.py:49-58) — first in ``order_col`` order;
    - ``seed``: the reference random.shuffle()s before round-robin
      (balance_relation.py:59); here the shuffle is a deterministic seeded
      order md5(order_col # seed) — md5 so the DuckDB oracle reproduces it
      exactly, and unlike rand(seed) it does not depend on partitioning.

    The global pick order is a distributed global_rank, not a
    single-partition window."""
    out = rows
    if dedup_col is not None:
        w_d = Window.partitionBy(dedup_col).orderBy(order_col)
        out = (
            out.withColumn("_dd", F.row_number().over(w_d))
            .where(F.col("_dd") == 1)
            .drop("_dd")
        )
    order_expr = (
        F.md5(
            F.concat_ws("#", F.col(order_col).cast("string"), F.lit(str(seed)))
        )
        if seed is not None
        else F.col(order_col)
    )
    out = out.withColumn("_ord", order_expr)
    rnd = Window.partitionBy(class_col).orderBy("_ord")
    ranked = global_rank(
        out.withColumn("_round", F.row_number().over(rnd)),
        ["_round", class_col, "_ord"],
        rank_col="_pick",
    )
    return (
        ranked.where(F.col("_pick") <= limit)
        .drop("_round", "_pick", "_ord")
    )


def sequential_splits(
    pool: DataFrame,
    sizes: dict[str, int],
    id_col: str,
    order_col: str,
) -> DataFrame:
    """W5 (src/split_entity.py:115-138): draw test, then dev, then train
    from a shrinking pool. Output adds ``split``.

    The shrinking pool is equivalent to ONE total-order rank with
    cumulative-size thresholds (the k-window + anti-join chain sorted the
    whole pool once per split, each in a single partition); rank comes from
    the distributed global_rank, so no SinglePartition exchange remains."""
    ranked = global_rank(pool, [order_col])
    expr = None
    cum = 0
    names = list(sizes)
    for split_name in names[:-1]:
        cum += sizes[split_name]
        cond = F.col("rank") <= cum
        expr = (
            F.when(cond, F.lit(split_name))
            if expr is None
            else expr.when(cond, F.lit(split_name))
        )
    last = F.lit(names[-1])
    expr = last if expr is None else expr.otherwise(last)
    # rows beyond the total requested size are NOT drawn (the reference's
    # pool can run dry mid-split but never over-draws)
    total = cum + sizes[names[-1]]
    return (
        ranked.where(F.col("rank") <= total)
        .withColumn("split", expr)
        .drop("rank")
    )
