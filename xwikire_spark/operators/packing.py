"""GPT-style sequence packing for LLM training data: concatenate the
corpus in a deterministic document order and chunk it into fixed
``budget``-token context windows; each document is assigned the window
containing its FIRST token plus its offset inside that window (the
"concat-and-chunk" packing every large-scale pretraining pipeline runs
before tokenized-example serialization).

pack_id / offset are pure functions of the EXCLUSIVE prefix sum of token
counts in corpus order:

    pack_id = floor(cumsum_before / budget)
    offset  = cumsum_before % budget

The naive Spark expression — ``sum().over(Window.orderBy(order_col))``
— is a single-partition window: the whole corpus funnels through ONE
task (the same Exchange SinglePartition trap the global-rank work
removed elsewhere). This module computes the prefix sum the scalable
way, the textbook two-phase distributed scan:

1. range-repartition by the order column (Spark's RangePartitioner
   samples boundaries — the same machinery ORDER BY uses, minus the
   final single consumer);
2. per-partition LOCAL cumulative sums (window partitioned by
   ``spark_partition_id()`` — parallel across partitions);
3. per-partition totals (one tiny row per partition) get their own
   exclusive cumsum on the driver-side-small frame and are broadcast
   back as offsets.

Cost: one range shuffle + one broadcast of #partitions rows. No stage
sees more than one partition's rows in one task, so the plan survives a
100x scale-up; determinism comes from the range sort order, not from
partition count (the offsets compose identically for any split).

Beyond-reference training-pipeline operator (the reference has no
notion of token budgets); oracle = the same window SQL in DuckDB, which
CAN afford the single-node cumulative window at test scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_PID = "__pack_pid"
_LOCAL = "__pack_local_cumsum"


def token_count_expr(text_col: str = "text"):
    """Whitespace-token count as a pure JVM expression (one regexp pass,
    no Python). Mirrors the oracle's ``len(regexp_extract_all(text,
    '\\S+'))`` exactly."""
    return F.size(F.regexp_extract_all(F.col(text_col), F.lit(r"\S+"), 0))


def pack_sequences(
    df: DataFrame,
    order_col: str,
    tokens_col: str,
    budget: int,
    num_partitions: int | None = None,
) -> DataFrame:
    """Assign each row a ``pack_id`` (which fixed-``budget`` context
    window its first token lands in, packing in ``order_col`` order) and
    ``pack_offset`` (token position inside that window). Adds the two
    columns; row set is unchanged.

    ``order_col`` must be a total order (unique) for the result to be
    well-defined — token ids, doc ids, or a (shard, position) composite
    expression."""
    parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(parts, F.col(order_col)).withColumn(
        _PID, F.spark_partition_id()
    )
    w_local = (
        Window.partitionBy(_PID)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = ranged.withColumn(
        _LOCAL, F.coalesce(F.sum(tokens_col).over(w_local), F.lit(0))
    )
    # per-partition totals: #partitions rows — the single-partition window
    # below runs over a frame that is small BY CONSTRUCTION (one row per
    # range partition), the legitimate place for a global window
    totals = local.groupBy(_PID).agg(F.sum(tokens_col).alias("__tot"))
    w_tot = Window.orderBy(_PID).rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.withColumn(
        "__off", F.coalesce(F.sum("__tot").over(w_tot), F.lit(0))
    ).select(_PID, "__off")
    cum = F.col(_LOCAL) + F.col("__off")
    return (
        local.join(F.broadcast(offsets), _PID)
        .withColumn("pack_id", F.floor(cum / F.lit(budget)))
        .withColumn("pack_offset", (cum % F.lit(budget)).cast("long"))
        .drop(_PID, _LOCAL, "__off")
    )


