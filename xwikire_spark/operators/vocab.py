"""Vocabulary building (A2) — reference src/utils/vocabs.py:29-110.

The reference iterates every document updating a Counter, then writes
rank-ordered ids offset by 4 reserved tokens (PAD/UNK/BOS/EOS,
src/utils/vocabs.py:60-71). Spark shape: explode -> hash-aggregate
(partial+final) -> distributed global_rank (range-partitioned rank +
per-partition offsets) — no single-partition sort anywhere, so a 100 TB
vocabulary ranks in parallel; ``min_count`` additionally cuts the long
tail before ranking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xwikire_spark.operators.splits import global_rank

N_RESERVED = 4  # PAD/UNK/BOS/EOS (src/utils/vocabs.py:60-66)


def build_vocab(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 1,
    split_pattern: str = r"\s+",
) -> DataFrame:
    """(token, count, vocab_id) with vocab_id = frequency rank + N_RESERVED,
    ties broken by token for determinism (the reference relies on Counter
    insertion order — nondeterministic; we pin it, SURVEY §7)."""
    counts = (
        docs.select(
            F.explode(F.split(F.trim(F.col(text_col)), split_pattern)).alias(
                "token"
            )
        )
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("count"))
        .where(F.col("count") >= min_count)
    )
    return _ranked_vocab(counts)


def _ranked_vocab(counts: DataFrame) -> DataFrame:
    ranked = global_rank(counts, [F.desc("count"), F.asc("token")])
    return ranked.withColumn(
        "vocab_id", (F.col("rank") + N_RESERVED).cast("int")
    ).drop("rank")


def oov_coverage(
    tokens: DataFrame, vocab: DataFrame, token_col: str = "token"
) -> DataFrame:
    """Coverage of a token set against a model vocabulary (J11,
    src/scripts/find_oov.py:57-151): semi-join count / total."""
    total = tokens.select(token_col).distinct()
    covered = total.join(
        vocab.select(token_col), token_col, "left_semi"
    )
    return total.agg(
        F.count(F.lit(1)).alias("n_tokens")
    ).crossJoin(covered.agg(F.count(F.lit(1)).alias("n_covered"))).select(
        "n_tokens",
        "n_covered",
        F.round(F.col("n_covered") / F.col("n_tokens"), 6).alias("coverage"),
    )
