"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship KG-construction query on sf0.001;
``queries()`` maps every implemented operator from SURVEY.md §2 (plus the
training-data extensions) to a (spark, sf_dir) -> DataFrame callable;
``oracle_sql()`` provides DuckDB-equivalent SQL for the value-hash gate.

Conventions:
- every computed column is aliased identically in Spark and SQL;
- money sums are round(., 2); ratios round(., 6); timestamps exported as
  epoch BIGINT — keeps cross-engine value hashing stable;
- DuckDB 1.0 has no sha1, so oracle-checked surrogate ids use md5 (the
  engine's reference-parity ids stay sha1, tested in pytest).

The KG family derives a transcript table from ``documents`` exactly the
same way in both engines (12-word turns), so the full distant-supervision
extraction is value-hash checked end-to-end.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

_REPO_DIR = os.path.dirname(os.path.abspath(__file__))
_J6_SOURCE = os.path.join(_REPO_DIR, "tests/fixtures/j6_squad_source.json")
_J6_EXAMPLES = os.path.join(_REPO_DIR, "tests/fixtures/j6_examples.jsonl")

# ---------------------------------------------------------------------------
# Shared constants: the KG dictionaries over the synthetic document vocab.
# ---------------------------------------------------------------------------

TURN_WORDS = 12
KG_ENTITIES = [
    ("spark", "E1"),
    ("customer", "E2"),
    ("vector", "E3"),
    ("table", "E4"),
    ("window", "E5"),
]
KG_PREDICATES = [
    ("join", "R1"),
    ("merge", "R2"),
    ("filter", "R3"),
    ("sort", "R4"),
    ("scan", "R5"),
]


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# KG family: documents -> turns -> mentions -> triples (Spark side)
# ---------------------------------------------------------------------------


def kg_turns_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive a transcript-shaped table from documents: conv_id = doc_id,
    turns = consecutive 12-word windows (S1/X7 analog; identical slicing in
    the DuckDB oracle)."""
    # One-row-group testbox shim (same rationale as q_txt_hygiene): the sf
    # documents parquet is a single unsplittable row group, so the whole
    # turn-derivation + every downstream mention/locate stage would run in
    # ONE scan task; a deterministic hash exchange on doc_id spreads it
    # across the cluster. At real scale the input arrives in thousands of
    # splits and this is one cheap pass (guide §2.5: repartition
    # immediately after an unsplittable read).
    docs = _load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    words = F.split(F.col("text"), " ")
    n_turns = F.ceil(F.size(words) / F.lit(TURN_WORDS)).cast("int")
    turns = F.transform(
        F.sequence(F.lit(0), F.greatest(n_turns, F.lit(1)) - 1),
        lambda i: F.array_join(
            F.slice(words, (i * TURN_WORDS + 1).cast("int"), TURN_WORDS), " "
        ),
    )
    return (
        docs.where(F.length(F.trim("text")) > 0)
        .select(
            F.col("doc_id").cast("string").alias("conv_id"),
            F.posexplode(turns).alias("turn_idx", "text"),
        )
        .withColumn("turn_idx", F.col("turn_idx").cast("int"))
    )


def _padded_pos(alias: str) -> F.Column:
    """1-based char position of ' alias ' in ' text ' (whole-word via
    space padding — turns are single-space word joins); 0 if absent."""
    return F.locate(f" {alias} ", F.concat(F.lit(" "), F.col("text"), F.lit(" ")))


def _dictionary_hits(turns: DataFrame, entries: list[tuple[str, str]],
                     id_name: str, pos_name: str) -> DataFrame:
    """All dictionary hits in ONE scan: per turn, build an array of
    (surface, id, pos) structs for every dictionary entry, explode, keep
    pos > 0. One pass over the data regardless of dictionary size — the
    union-per-entry alternative scans the turns once per surface."""
    hits = F.array(
        *[
            F.struct(
                F.lit(surface).alias("alias"),
                F.lit(ident).alias(id_name),
                _padded_pos(surface).alias(pos_name),
            )
            for surface, ident in entries
        ]
    )
    return (
        turns.select("conv_id", "turn_idx", F.explode(hits).alias("m"))
        .select("conv_id", "turn_idx", "m.*")
        .where(F.col(pos_name) > 0)
    )


def kg_mentions_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity mentions per turn: (conv_id, turn_idx, alias, entity_id, pos)."""
    return _dictionary_hits(
        kg_turns_df(spark, sf_dir), KG_ENTITIES, "entity_id", "pos"
    )


def kg_triples_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: distant-supervision triples over the derived transcripts.

    Subject = earliest entity mention in the turn; objects = other entities
    in the same turn; predicate = earliest predicate surface; one evidence
    turn per (conv_id, subj, pred, obj) — first in (turn_idx, obj_pos)
    order (X4/X5 reference semantics re-expressed relationally).
    """
    return kg_triples_from_turns(kg_turns_df(spark, sf_dir))


def kg_triples_from_turns(turns: DataFrame) -> DataFrame:
    """Core of the flagship over any (conv_id, turn_idx, text) table —
    bench.py feeds this a replicated input for the scaling protocol."""
    # Single-pass plan: per turn, build (pos, id) arrays for both
    # dictionaries in one projection; earliest match = head of array_sort
    # (struct sorts by fields left-to-right: pos, then id). No self-joins —
    # the only shuffle in this query is the final first-evidence window.
    # At 10^12 turns that is the difference between one shuffle of candidate
    # triples and a 4-way shuffle of the whole turn table.
    m_arr = F.filter(
        F.array(
            *[
                F.struct(
                    _padded_pos(a).alias("pos"), F.lit(e).alias("entity_id")
                )
                for a, e in KG_ENTITIES
            ]
        ),
        lambda x: x["pos"] > 0,
    )
    p_arr = F.filter(
        F.array(
            *[
                F.struct(_padded_pos(s).alias("pos"), F.lit(p).alias("pid"))
                for s, p in KG_PREDICATES
            ]
        ),
        lambda x: x["pos"] > 0,
    )
    # Generate barrier (as in extraction.extract_triples_join): materialize
    # ms/ps ONCE behind an explode-of-one-struct. Naive select + where lets
    # Catalyst re-inline the 10-locate() array construction into the size
    # filter, the subj/pred projection AND the pushed isnotnull filter —
    # the before plan evaluated every locate() 3-4x per turn (plans/r07/
    # kg_triples_before.txt Filter(4)/Project(5)/Project(6)).
    g = turns.select(
        "conv_id", "turn_idx", "text",
        F.explode(
            F.array(F.struct(m_arr.alias("ms"), p_arr.alias("ps")))
        ).alias("r"),
    )
    base = (
        g.where((F.size("r.ms") >= 2) & (F.size("r.ps") >= 1))
        .select(
            "conv_id", "turn_idx", "text", F.col("r.ms").alias("ms"),
            F.element_at(F.array_sort("r.ms"), 1)["entity_id"].alias("subj"),
            F.element_at(F.array_sort("r.ps"), 1)["pid"].alias("pred"),
        )
    )
    cands = (
        base.select(
            "conv_id", "turn_idx", "text", "subj", "pred",
            F.explode("ms").alias("m"),
        )
        .where(F.col("m.entity_id") != F.col("subj"))
        .select(
            "conv_id", "turn_idx", "text", "subj", "pred",
            F.col("m.entity_id").alias("obj"),
            F.col("m.pos").alias("obj_pos"),
        )
    )
    # first-evidence dedup as min_by hash aggregate, NOT a row_number sort
    # window: partial combine collapses candidates map-side, so the shuffle
    # carries ~one row per key instead of every candidate, and no partition
    # sort happens at all (measured 4-8x on the dedup stage).
    first = cands.groupBy("conv_id", "subj", "pred", "obj").agg(
        F.min_by(
            F.struct("turn_idx", "text"),
            F.struct("turn_idx", "obj_pos"),
        ).alias("ev")
    )
    return first.select(
        F.md5(F.concat_ws(" ", "subj", "pred", "obj")).alias("id"),
        "subj",
        "pred",
        "obj",
        "conv_id",
        F.col("ev.turn_idx").alias("turn_idx"),
        F.col("ev.text").alias("evidence"),
    )


# ---------------------------------------------------------------------------
# KG family oracle SQL (DuckDB) — same derivation, same semantics.
# ---------------------------------------------------------------------------

_KG_TURNS_CTE = f"""
words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
          WHERE length(trim(text)) > 0),
turns AS (
  SELECT CAST(doc_id AS VARCHAR) AS conv_id, CAST(i AS INT) AS turn_idx,
         array_to_string(w[(i*{TURN_WORDS}+1):(i*{TURN_WORDS}+{TURN_WORDS})], ' ') AS text
  FROM words,
       unnest(generate_series(0, greatest(CAST(ceil(len(w)/{TURN_WORDS}.0) AS BIGINT), 1) - 1)) AS t(i)
)"""

_KG_ENTITY_VALUES = ", ".join(f"('{a}', '{e}')" for a, e in KG_ENTITIES)
_KG_PRED_VALUES = ", ".join(f"('{s}', '{p}')" for s, p in KG_PREDICATES)

_KG_MENTIONS_CTE = f"""
entity_dict(alias, entity_id) AS (VALUES {_KG_ENTITY_VALUES}),
pred_dict(surface, pid) AS (VALUES {_KG_PRED_VALUES}),
mentions AS (
  SELECT conv_id, turn_idx, alias, entity_id,
         strpos(' ' || text || ' ', ' ' || alias || ' ') AS pos
  FROM turns CROSS JOIN entity_dict
  WHERE strpos(' ' || text || ' ', ' ' || alias || ' ') > 0
),
pred_hits AS (
  SELECT conv_id, turn_idx, pid,
         strpos(' ' || text || ' ', ' ' || surface || ' ') AS p_pos
  FROM turns CROSS JOIN pred_dict
  WHERE strpos(' ' || text || ' ', ' ' || surface || ' ') > 0
)"""

KG_TURNS_SQL = f"WITH {_KG_TURNS_CTE} SELECT conv_id, turn_idx, text FROM turns"

KG_MENTIONS_SQL = f"""
WITH {_KG_TURNS_CTE}, {_KG_MENTIONS_CTE}
SELECT conv_id, turn_idx, alias, entity_id, CAST(pos AS INT) AS pos
FROM mentions
"""

_KG_TRIPLES_CTE_BODY = """
subj AS (
  SELECT conv_id, turn_idx, entity_id AS subj
  FROM (SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                                     ORDER BY pos, entity_id) AS rn
        FROM mentions) WHERE rn = 1
),
pred AS (
  SELECT conv_id, turn_idx, pid AS pred
  FROM (SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                                     ORDER BY p_pos, pid) AS rn
        FROM pred_hits) WHERE rn = 1
),
cands AS (
  SELECT s.conv_id, s.turn_idx, s.subj, p.pred,
         m.entity_id AS obj, m.pos AS obj_pos, t.text
  FROM subj s
  JOIN mentions m USING (conv_id, turn_idx)
  JOIN pred p USING (conv_id, turn_idx)
  JOIN turns t USING (conv_id, turn_idx)
  WHERE m.entity_id <> s.subj
),
triples AS (
  SELECT subj, pred, obj, conv_id, turn_idx, text AS evidence
  FROM (SELECT *, row_number() OVER (PARTITION BY conv_id, subj, pred, obj
                                     ORDER BY turn_idx, obj_pos) AS rn
        FROM cands) WHERE rn = 1
)"""

KG_VERTEX_DEGREES_SQL = f"""
WITH {_KG_TURNS_CTE}, {_KG_MENTIONS_CTE}, {_KG_TRIPLES_CTE_BODY},
outd AS (SELECT subj AS entity_id, count(*) AS out_degree
         FROM triples GROUP BY subj),
ind AS (SELECT obj AS entity_id, count(*) AS in_degree
        FROM triples GROUP BY obj),
convs AS (SELECT entity_id, count(DISTINCT conv_id) AS conv_mentions
          FROM (SELECT subj AS entity_id, conv_id FROM triples
                UNION ALL
                SELECT obj AS entity_id, conv_id FROM triples)
          GROUP BY entity_id)
SELECT entity_id,
       CAST(coalesce(out_degree, 0) AS BIGINT) AS out_degree,
       CAST(coalesce(in_degree, 0) AS BIGINT) AS in_degree,
       CAST(coalesce(conv_mentions, 0) AS BIGINT) AS conv_mentions
FROM outd FULL JOIN ind USING (entity_id) FULL JOIN convs USING (entity_id)
"""

KG_MENTION_PAIRS_SQL = f"""
WITH {_KG_TURNS_CTE}, {_KG_MENTIONS_CTE},
m AS (SELECT DISTINCT conv_id, turn_idx, entity_id FROM mentions)
SELECT a.conv_id,
       a.entity_id AS entity_a,
       b.entity_id AS entity_b,
       CAST(a.turn_idx AS INT) AS turn_a,
       CAST(b.turn_idx AS INT) AS turn_b
FROM m a JOIN m b ON a.conv_id = b.conv_id
WHERE b.turn_idx - a.turn_idx BETWEEN 0 AND 2
  AND (b.turn_idx > a.turn_idx
       OR (b.turn_idx = a.turn_idx AND a.entity_id < b.entity_id))
  AND a.entity_id <> b.entity_id
"""

KG_TRIPLES_SQL = f"""
WITH {_KG_TURNS_CTE}, {_KG_MENTIONS_CTE},
subj AS (
  SELECT conv_id, turn_idx, entity_id AS subj
  FROM (SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                                     ORDER BY pos, entity_id) AS rn
        FROM mentions) WHERE rn = 1
),
pred AS (
  SELECT conv_id, turn_idx, pid AS pred
  FROM (SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                                     ORDER BY p_pos, pid) AS rn
        FROM pred_hits) WHERE rn = 1
),
cands AS (
  SELECT s.conv_id, s.turn_idx, s.subj, p.pred,
         m.entity_id AS obj, m.pos AS obj_pos, t.text
  FROM subj s
  JOIN mentions m USING (conv_id, turn_idx)
  JOIN pred p USING (conv_id, turn_idx)
  JOIN turns t USING (conv_id, turn_idx)
  WHERE m.entity_id <> s.subj
)
SELECT md5(subj || ' ' || pred || ' ' || obj) AS id,
       subj, pred, obj, conv_id, turn_idx, text AS evidence
FROM (SELECT *, row_number() OVER (PARTITION BY conv_id, subj, pred, obj
                                   ORDER BY turn_idx, obj_pos) AS rn
      FROM cands) WHERE rn = 1
"""


def _sql_pos_case(t: str) -> str:
    """DuckDB CASE replicating kernels.pos.pos_tag for one token — generated
    from the SAME rule sets, so the SRL oracle checks the real tagger output
    (ASCII-scoped: isalnum/isdigit/isupper become [A-Za-z0-9] classes, which
    is exact on this corpus's [a-z0-9]+ vocabulary)."""
    from xwikire_spark.kernels import pos as _pos

    def _in(vals) -> str:
        return ", ".join(f"'{v}'" for v in sorted(vals))

    lo = f"lower({t})"
    vbd_irregular = {"was", "were", "went", "said", "made", "knew", "wrote",
                     "came", "born", "gone", "been", "had", "did"}
    vbz_excluded = {"is", "was", "does", "has"}
    vbz_explicit = {"is", "has", "does", "resides", "lives", "works"}
    verb_case = f"""CASE
        WHEN {lo} LIKE '%ing' THEN 'VBG'
        WHEN {lo} LIKE '%ed' OR {lo} IN ({_in(vbd_irregular)}) THEN 'VBD'
        WHEN {lo} LIKE '%s' AND {lo} NOT IN ({_in(vbz_excluded)}) THEN 'VBZ'
        WHEN {lo} IN ({_in(vbz_explicit)}) THEN 'VBZ'
        ELSE 'VB' END"""
    return f"""CASE
      WHEN {t} = '' THEN 'NN'
      WHEN NOT regexp_matches({t}, '[A-Za-z0-9]') THEN '.'
      WHEN regexp_matches({t}, '^[0-9]') THEN 'CD'
      WHEN {lo} IN ({_in(_pos._DETERMINERS)}) THEN 'DT'
      WHEN {lo} IN ({_in(_pos._PREPOSITIONS)}) THEN 'IN'
      WHEN {lo} IN ({_in(_pos._PRONOUNS)}) THEN 'PRP'
      WHEN {lo} IN ({_in(_pos._CONJUNCTIONS)}) THEN 'CC'
      WHEN {lo} IN ({_in(_pos._VERB_LEMMAS)}) THEN {verb_case}
      WHEN {lo} LIKE '%ing' AND length({t}) > 4 THEN 'VBG'
      WHEN {lo} LIKE '%ed' AND length({t}) > 3 THEN 'VBD'
      WHEN regexp_matches({t}, '^[A-Z]') THEN 'NNP'
      ELSE 'NN' END"""


_SQL_VERB_TAGS = "'VB', 'VBD', 'VBG', 'VBN', 'VBP', 'VBZ'"

# SRL export oracle: the triple derivation (same CTEs as KG_TRIPLES_SQL)
# joined back to its surfaces, token-located, then the F7/F8/F9 filters:
# - F8 contiguity: each surface occurs EXACTLY once in the sentence tokens
#   (flatten_locations emits breaks whenever there are >=2 matches);
# - F7 relation-verb: pos_tag of the single relation token is VB*;
# - F9 blacklist: no 'is a' substring (pred P31 can't occur in this dict);
# - A10 dedup is a no-op here (triples are unique per (conv,s,p,o)).
SRL_EXPORT_SQL = f"""
WITH {_KG_TURNS_CTE}, {_KG_MENTIONS_CTE},
subj AS (
  SELECT conv_id, turn_idx, entity_id AS subj
  FROM (SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                                     ORDER BY pos, entity_id) AS rn
        FROM mentions) WHERE rn = 1
),
pred AS (
  SELECT conv_id, turn_idx, pid AS pred
  FROM (SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                                     ORDER BY p_pos, pid) AS rn
        FROM pred_hits) WHERE rn = 1
),
cands AS (
  SELECT s.conv_id, s.turn_idx, s.subj, p.pred,
         m.entity_id AS obj, m.pos AS obj_pos, t.text
  FROM subj s
  JOIN mentions m USING (conv_id, turn_idx)
  JOIN pred p USING (conv_id, turn_idx)
  JOIN turns t USING (conv_id, turn_idx)
  WHERE m.entity_id <> s.subj
),
triples AS (
  SELECT subj, pred, obj, conv_id, text AS evidence
  FROM (SELECT *, row_number() OVER (PARTITION BY conv_id, subj, pred, obj
                                     ORDER BY turn_idx, obj_pos) AS rn
        FROM cands) WHERE rn = 1
),
srl AS (
  SELECT t.*, es.alias AS subj_surface, eo.alias AS obj_surface,
         pd.surface AS pred_surface,
         string_split(evidence, ' ') AS toks
  FROM triples t
  JOIN entity_dict es ON es.entity_id = t.subj
  JOIN entity_dict eo ON eo.entity_id = t.obj
  JOIN pred_dict pd ON pd.pid = t.pred
),
located AS (
  SELECT *,
    [CAST(i - 1 AS INT) for i in generate_series(1, len(toks))
     if toks[i] = subj_surface] AS subj_locs,
    [CAST(i - 1 AS INT) for i in generate_series(1, len(toks))
     if toks[i] = obj_surface] AS ans_locs,
    [CAST(i - 1 AS INT) for i in generate_series(1, len(toks))
     if toks[i] = pred_surface] AS rel_locs
  FROM srl
)
SELECT conv_id,
       evidence AS sentence,
       md5(evidence) AS sentence_md5,
       to_json(toks) AS tokens_json,
       to_json(list_transform(toks, tok -> {_sql_pos_case('tok')}))
           AS pos_json,
       subj,
       to_json(subj_locs) AS subj_locs_json,
       pred,
       to_json(rel_locs) AS rel_locs_json,
       CAST(1 AS INT) AS has_verb,
       obj,
       to_json(ans_locs) AS ans_locs_json,
       md5(subj || ' ' || pred || ' ' || obj) AS triple_md5
FROM located
WHERE len(subj_locs) = 1 AND len(ans_locs) = 1 AND len(rel_locs) = 1
  AND ({_sql_pos_case('pred_surface')}) IN ({_SQL_VERB_TAGS})
  AND strpos(evidence, 'is a') = 0
"""


# ---------------------------------------------------------------------------
# Relational operator inventory (SURVEY §2) over the TPC-H-ish tables.
# ---------------------------------------------------------------------------


def q_s1_range_scan(spark, sf_dir):
    """S1: range scan with pushed-down predicate + partial/final agg."""
    li = _load(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_orderkey").between(1000, 5000))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


def q_s5_regex_scan(spark, sf_dir):
    """S5: regex-filtered scan (get_prop_id.py:16 analog)."""
    part = _load(spark, sf_dir, "part")
    return (
        part.where(F.col("p_name").rlike("^(red|blue) .*(t|r)$"))
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )


def q_f1_filter_project(spark, sf_dir):
    """F1/F6/S4: predicate + projection (column pruning)."""
    o = _load(spark, sf_dir, "orders")
    return o.where(
        (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 100000)
    ).select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("price"))


def q_j1_equi_join(spark, sf_dir):
    """J1: fact-fact equi join + dim join + agg (article x entity analog)."""
    o = _load(spark, sf_dir, "orders")
    c = _load(spark, sf_dir, "customer")
    n = _load(spark, sf_dir, "nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


def q_j2_broadcast_dim(spark, sf_dir):
    """J2: broadcast dimension join (the _prop_cache analog)."""
    li = _load(spark, sf_dir, "lineitem")
    p = _load(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(F.round(F.sum("l_extendedprice"), 2).alias("revenue"))
    )


def q_j5_theta_self_join(spark, sf_dir):
    """J5: within-group pairwise self-join (negative generation analog,
    QA.py:86-107): co-ordered part pairs per order.

    r7 optimization (guide §2.3 "aggregate before you shuffle" / §8
    "decide with small rows"): the pair COUNT per order never needs the
    pairs materialized. With c_i = multiplicity of partkey i in the order
    and T = Σc_i, the theta-join row count per order is exactly
    Σ_{i<j} c_i c_j = (T² − Σc_i²) / 2 — two hash aggregates replace the
    sort-merge self-join + pair explosion (the before plan shuffled
    lineitem twice and emitted 13.6M join rows at sf1; this shape
    shuffles one combined (orderkey, partkey) aggregate). Orders where
    every line shares one partkey produced no join rows, hence the
    n_pairs > 0 filter. Value-identical to the unchanged oracle SQL
    (proved via scripts/check_oracle.py; the theta-join OPERATOR itself
    still lives in pipeline/negatives.py with its own tests)."""
    li = _load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    per_pk = li.groupBy("l_orderkey", "l_partkey").agg(
        F.count(F.lit(1)).alias("c")
    )
    return (
        per_pk.groupBy("l_orderkey")
        .agg(
            (
                (F.sum("c") * F.sum("c") - F.sum(F.col("c") * F.col("c")))
                / F.lit(2)
            ).cast("long").alias("n_pairs")
        )
        .where(F.col("n_pairs") > 0)
    )


def q_j7_semi_join(spark, sf_dir):
    """J7: left-semi (ids consumed check analog)."""
    c = _load(spark, sf_dir, "customer")
    o = _load(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


def q_j8_anti_join(spark, sf_dir):
    """J8: left-anti (exclude already-used entities, split_entity.py:63)."""
    c = _load(spark, sf_dir, "customer")
    o = _load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


def q_scan_family(spark, sf_dir):
    """S1 + S5 in one tagged frame (driver-cap consolidation, VERDICT r2
    next-round #2): range scan with pushed-down predicate, and
    regex-filtered scan — both still individually value-hash gated via the
    op tag."""
    s1 = q_s1_range_scan(spark, sf_dir).select(
        F.lit("s1_range").alias("op"),
        F.col("l_returnflag").alias("k"),
        F.col("n_rows").alias("n"),
        F.col("sum_qty").alias("v"),
    )
    s5 = q_s5_regex_scan(spark, sf_dir).select(
        F.lit("s5_regex").alias("op"),
        F.col("p_brand").alias("k"),
        F.col("n_parts").alias("n"),
        F.lit(None).cast("double").alias("v"),
    )
    return s1.unionByName(s5)


def q_j78_semi_anti(spark, sf_dir):
    """J7 + J8 in one tagged frame: left-semi aggregate and left-anti
    remainder (the consumed-ids check + exclusion-pool pattern)."""
    semi = q_j7_semi_join(spark, sf_dir).select(
        F.lit("semi").alias("op"),
        F.col("c_mktsegment").alias("k"),
        F.col("n_customers").alias("n"),
    )
    anti = q_j8_anti_join(spark, sf_dir).select(
        F.lit("anti").alias("op"),
        F.col("c_name").alias("k"),
        F.col("c_custkey").cast("long").alias("n"),
    )
    return semi.unionByName(anti)


def q_j6_mapping_join(spark, sf_dir):
    """J6: the SQuAD id-remap join (src/scripts/match_ids.py:5-22) — the
    (question_id -> official id) mapping read from a nested SQuAD source
    file joins the flat examples JSONL on q_id, broadcast because the
    mapping is dimension-sized. Fixture-backed (the operator is about the
    source shapes, not the TPC-H tables)."""
    from xwikire_spark.sources.io import read_squad_id_mapping

    examples = spark.read.json(_J6_EXAMPLES)
    mapping = read_squad_id_mapping(spark, _J6_SOURCE)
    return (
        examples.join(F.broadcast(mapping), "q_id")
        .select(
            F.col("official_id").alias("id"),
            "q_id",
            "question",
            "answer",
            F.col("na").cast("boolean").alias("na"),
        )
    )


def q_j10_nway_membership(spark, sf_dir):
    """J10: present-in-all-classes via groupBy count (cross-language id
    intersection analog, split_entity.py:36-53)."""
    o = _load(spark, sf_dir, "orders")
    # lazy scalar "subquery": the 1-row distinct count joins in broadcast —
    # no eager .count() action at plan-build time
    n_status = o.select(
        F.countDistinct("o_orderstatus").alias("_n_all")
    )
    return (
        o.groupBy("o_custkey")
        .agg(F.countDistinct("o_orderstatus").alias("n_status"))
        .crossJoin(F.broadcast(n_status))
        .where(F.col("n_status") == F.col("_n_all"))
        .select("o_custkey")
    )


def q_a1_partial_final_agg(spark, sf_dir):
    """A1: classic partial+final aggregation (TPC-H Q1 shape; the stats
    Counter-merge analog, builder.py:46-48)."""
    li = _load(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_a2_vocab(spark, sf_dir):
    """A2: frequency vocab with reserved-offset ranks (vocabs.py:29-71)."""
    from xwikire_spark.operators.vocab import build_vocab

    # NOTE r7: an input-spreading repartition shim (see kg_turns_df) was
    # A/B-measured here and in q_tfidf_topterms and NOT kept: both
    # queries read the input on several branches (global_rank's
    # count pass / tfidf's n_groups), and routing the branches through a
    # shared exchange forfeits per-branch column pruning for no net win
    # (alternating A/B at sf1.0: vocab 1.20 vs 1.28 s, tfidf 1.6 vs
    # 2.5 s in plain's favor).
    docs = _load(spark, sf_dir, "documents")
    return build_vocab(docs, "text", split_pattern=" ")


def q_a3_class_counts(spark, sf_dir):
    """A3: per-group per-class counts (stats.py:11-42 pivot analog)."""
    o = _load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_f"),
        F.count(F.when(F.col("o_orderstatus") == "O", 1)).alias("n_o"),
        F.count(F.when(F.col("o_orderstatus") == "P", 1)).alias("n_p"),
    )


def q_a6_duplicate_detection(spark, sf_dir):
    """A6/A10: duplicate content groups by hash."""
    from xwikire_spark.operators.dedup import exact_duplicates

    return exact_duplicates(_load(spark, sf_dir, "documents"))


def q_a7_fold_packing(spark, sf_dir):
    """A7: greedy balanced fold packing (split_rel.py:24-52)."""
    from xwikire_spark.operators.splits import greedy_fold_packing

    o = _load(spark, sf_dir, "orders")
    counts = o.groupBy(F.col("o_custkey").alias("class")).agg(
        F.count(F.lit(1)).alias("count")
    )
    return greedy_fold_packing(counts).groupBy("fold").agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.sum("count").alias("n_examples"),
    )


def q_a9_first_per_group(spark, sf_dir):
    """A9/X5: first-fact-only semantics (WikiReading.py:49 early return)."""
    o = _load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "o_custkey",
            "o_orderkey",
            F.unix_timestamp("o_orderdate").alias("first_order_epoch"),
        )
    )


def q_w2_stratified_sample(spark, sf_dir):
    """W2: stratified capped deterministic sample (split_entity.py:56-86)."""
    from xwikire_spark.operators.splits import stratified_capped_sample

    c = _load(spark, sf_dir, "customer")
    return stratified_capped_sample(
        c.select("c_custkey", "c_mktsegment"), "c_mktsegment", 10, "c_custkey"
    )


def q_w4_class_balance(spark, sf_dir):
    """A8/W3: cap every class at the min class count (split_rel.py:72-100)."""
    from xwikire_spark.operators.splits import per_fold_class_cap

    e = _load(spark, sf_dir, "events").withColumn("fold", F.lit(0))
    capped = per_fold_class_cap(
        e, fold_col="fold", class_col="event_type", order_col="event_id"
    )
    return capped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.min("event_id").alias("first_id")
    )


def q_w4_round_robin(spark, sf_dir):
    """W4 full parity (balance_relation.py:21-70): q_id-style dedup
    (one event per user), seeded deterministic shuffle (md5 order), then
    round-robin across classes to the limit."""
    from xwikire_spark.operators.splits import round_robin_balance

    e = _load(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id"
    )
    out = round_robin_balance(
        e, class_col="event_type", limit=200, order_col="event_id",
        dedup_col="user_id", seed=7,
    )
    return out.select("event_id", "event_type")


def q_w6_topk(spark, sf_dir):
    """W6: deterministic top-k. orderBy().limit() compiles to
    TakeOrderedAndProject — per-partition top-100 then a 100-row merge —
    instead of a single-partition sort of the whole table; rank is derived
    AFTER the limit, so its window sees only 100 rows."""
    o = _load(spark, sf_dir, "orders")
    order = [F.desc("o_totalprice"), F.asc("o_orderkey")]
    top = o.select("o_orderkey", "o_totalprice").orderBy(*order).limit(100)
    return top.withColumn("rank", F.row_number().over(Window.orderBy(*order))).select(
        "rank", "o_orderkey", F.round("o_totalprice", 2).alias("price")
    )


def q_so_setops(spark, sf_dir):
    """SO1-SO3: union/intersect/except over id sets (split_entity.py:44-52,
    get_prop_id.py:35,55). Output: one row per (op, n)."""
    o = _load(spark, sf_dir, "orders")
    f_ids = o.where(F.col("o_orderstatus") == "F").select("o_custkey").distinct()
    o_ids = o.where(F.col("o_orderstatus") == "O").select("o_custkey").distinct()
    return (
        f_ids.union(o_ids).distinct().agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("union").alias("op"), "n")
        .unionByName(
            f_ids.intersect(o_ids).agg(F.count(F.lit(1)).alias("n"))
            .select(F.lit("intersect").alias("op"), "n")
        )
        .unionByName(
            f_ids.exceptAll(o_ids).agg(F.count(F.lit(1)).alias("n"))
            .select(F.lit("except").alias("op"), "n")
        )
    )


def q_x6_char_span(spark, sf_dir):
    """X6: answer char-span (QA.py:149-153) — locate 'spark' in text."""
    docs = _load(spark, sf_dir, "documents")
    start = F.locate("spark", F.col("text")) - 1
    return docs.where(start >= 0).select(
        "doc_id",
        start.alias("start_index"),
        (start + F.length(F.lit("spark"))).alias("end_index"),
    )


def q_x13_unit_extract(spark, sf_dir):
    """X12/X13: quantity rendering + unit-id extraction
    (MergedWikis.py:66,168-175)."""
    p = _load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.element_at(F.split("p_type", " "), -1).alias("unit_word"),
        F.trim(
            F.concat_ws(
                " ",
                F.regexp_replace(F.concat(F.lit("+"), F.col("p_size")), r"^\+", ""),
                F.lit("mm"),
            )
        ).alias("quantity_value"),
    )


def q_evt_tumbling_window(spark, sf_dir):
    """Streaming-shape analog: tumbling-window aggregation over events
    (batch equivalent of a windowed streaming agg; SURVEY §2.8)."""
    e = _load(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias(
                "window_start_epoch"
            ),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


def _kg_dicts(spark):
    alias_df = spark.createDataFrame(
        [(a, e) for a, e in KG_ENTITIES], "alias string, entity_id string"
    )
    pred_df = spark.createDataFrame(
        [(p, s, []) for s, p in KG_PREDICATES],
        "pid string, label string, aliases array<string>",
    )
    return alias_df, pred_df


def q_kg_triples_pipeline(spark, sf_dir):
    """The REAL extraction pipeline (fused mapInPandas: segmentation +
    regex automatons + batch dedup, pipeline/extraction.py) over the same
    derived turns — value-checked against the SAME DuckDB oracle as the
    JVM-only flagship. Turns are single sentences (no terminal punctuation
    in the synthetic corpus), so both plans must agree exactly."""
    from xwikire_spark.pipeline.extraction import extract_triples

    turns = kg_turns_df(spark, sf_dir)
    alias_df, pred_df = _kg_dicts(spark)
    t = extract_triples(turns, alias_df, pred_df)
    return t.select(
        F.md5(F.concat_ws(" ", "subj", "pred", "obj")).alias("id"),
        "subj", "pred", "obj", "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        "evidence",
    )


def q_kg_triples_joinpath(spark, sf_dir):
    """The large-dictionary JOIN strategy (extraction.extract_triples_join:
    dictionary never leaves the cluster; word-run tokens meet first-tokens
    in a shuffle equi-join, greedy leftmost-longest fold, relational
    candidate assembly) — value-checked against the SAME oracle as the
    broadcast paths."""
    from xwikire_spark.pipeline.extraction import extract_triples

    turns = kg_turns_df(spark, sf_dir)
    alias_df, pred_df = _kg_dicts(spark)
    t = extract_triples(turns, alias_df, pred_df, dict_strategy="join")
    return t.select(
        F.md5(F.concat_ws(" ", "subj", "pred", "obj")).alias("id"),
        "subj", "pred", "obj", "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        "evidence",
    )


def q_kg_vertex_degrees(spark, sf_dir):
    """Vertex side of the graph materialization (north_rule edge/vertex
    tables): per-entity degree stats from the triple table."""
    from xwikire_spark.pipeline.graph import vertex_table

    return vertex_table(kg_triples_df(spark, sf_dir))


def q_kg_entity_salience(spark, sf_dir):
    """Served entity-salience frame (VERDICT r4 #5): PageRank over the
    extracted triple graph joined with vertex degrees, top-k via
    orderBy(...).limit (plan-asserted: no SinglePartition exchange).

    NOT in queries(): the driver's 50-row oracle report is full and
    all-SQL-gated, and an iterative fixpoint has no DuckDB oracle — this
    query is bench-headline (bench.py) and gated by the numpy power-
    iteration differential in tests/test_pipeline.py::TestPageRank."""
    from xwikire_spark.pipeline.graph import entity_salience

    return entity_salience(kg_triples_df(spark, sf_dir), top_k=100)


def q_kg_mention_pairs(spark, sf_dir):
    """Conversation-window mention pairing (north_star: "aligning linked
    mention pairs within conversation windows") — the bucketed range
    self-join from extraction.pair_mentions_in_window, distance <= 2."""
    from xwikire_spark.pipeline.extraction import pair_mentions_in_window

    mentions = kg_mentions_df(spark, sf_dir)
    return pair_mentions_in_window(mentions, max_turn_distance=2).select(
        "conv_id", "entity_a", "entity_b",
        F.col("turn_a").cast("int").alias("turn_a"),
        F.col("turn_b").cast("int").alias("turn_b"),
    )


def q_srl_export(spark, sf_dir):
    """SRL sentence export (F7 verb filter + F8 contiguity + A10 dedup,
    pipeline/srl.py) over the extracted triples, projected to a hash-stable
    shape: array columns exported as to_json (the driver's canonicalizer
    sorts pandas columns — raw lists are unhashable), sha1 ids re-keyed to
    md5 (DuckDB has no sha1). Fully value-hash checked: on this corpus the
    tokenizer is whitespace splitting (pure [a-z0-9]+ words) and the rule
    tagger (kernels/pos.py) is mirrored as a generated SQL CASE, so even
    the POS column and the F7 verb flag are oracle-checked."""
    from xwikire_spark.pipeline.extraction import extract_triples
    from xwikire_spark.pipeline.srl import srl_export

    turns = kg_turns_df(spark, sf_dir)
    alias_df, pred_df = _kg_dicts(spark)
    triples = extract_triples(turns, alias_df, pred_df)
    out = srl_export(triples, require_verb=True, blacklist_is_a=True)
    return out.select(
        "conv_id",
        "sentence",
        F.md5("sentence").alias("sentence_md5"),
        F.to_json("sentence_sequence").alias("tokens_json"),
        F.to_json("pos").alias("pos_json"),
        "subj",
        F.to_json("subj_locations").alias("subj_locs_json"),
        "pred",
        F.to_json("relation_locations").alias("rel_locs_json"),
        F.col("relation_has_verb").cast("int").alias("has_verb"),
        "obj",
        F.to_json("answer_locations").alias("ans_locs_json"),
        F.md5(F.concat_ws(" ", "subj", "pred", "obj")).alias("triple_md5"),
    )


def q_evt_sessionize(spark, sf_dir):
    """Gap-based sessionization over the event stream (the batch shape of a
    streaming session window): a new session starts when a user's
    inter-event gap exceeds 30 minutes. lag + cumulative sum of
    session-start flags — one shuffle on user_id."""
    e = _load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # exact integer-microsecond gap (unix_timestamp truncates to seconds
    # and DuckDB epoch() keeps fractions — micros agree on both engines)
    micros = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = micros - F.lag(micros).over(w)
    flagged = e.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 1800 * 1_000_000), F.lit(1)).otherwise(
            F.lit(0)
        ),
    )
    sessions = flagged.withColumn(
        "session_seq",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return sessions.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.expr("min(unix_micros(cast(ts as timestamp))) div 1000000").alias(
            "session_start_epoch"
        ),
        F.expr("max(unix_micros(cast(ts as timestamp))) div 1000000").alias(
            "session_end_epoch"
        ),
    )


def q_evt_session_window(spark, sf_dir):
    """Spark's built-in session_window (gap-close semantics: a session's
    window end = last event + gap) — the native complement to the
    lag+cumsum batch shape (q_evt_sessionize). Both agree on session
    membership."""
    e = _load(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_micros(
                F.col("session_window.start").cast("timestamp")
            ).alias("window_start_us"),
            F.unix_micros(
                F.col("session_window.end").cast("timestamp")
            ).alias("window_end_us"),
            "n_events",
            "sum_value",
        )
    )


def q_kg_canonical_map(spark, sf_dir):
    """Connected-components canonicalization (north_rule stage 6) over a
    collision graph derived from data: brands sharing a p_name token are
    one component; canonical id = lexicographic min brand. Spark side runs
    the iterative salted min-label propagation from pipeline/canonicalize;
    the DuckDB oracle is a WITH RECURSIVE reachability min."""
    from xwikire_spark.pipeline.canonicalize import connected_components

    p = _load(spark, sf_dir, "part")
    # r7 (guide §2.4, same pattern as kg_triangles/LSH buckets): ONE hash
    # aggregate per token collects the distinct brand set (partial
    # combine collapses duplicates map-side), the >1000-fanout stop guard
    # (mirrored in the oracle) filters on set size, and brand pairs
    # expand in-row — replacing the old distinct-shuffle + per-token
    # count window + bucket self-join + pair distinct chain.
    toks = p.select(
        F.col("p_brand").alias("brand"),
        F.explode(F.split("p_name", " ")).alias("tok"),
    )
    buckets = (
        toks.groupBy("tok")
        .agg(F.array_sort(F.collect_set("brand")).alias("brands"))
        .where(F.size("brands") <= 1000)
    )
    pair_arr = F.flatten(
        F.transform(
            F.col("brands"),
            lambda x, i: F.transform(
                F.slice(F.col("brands"), i + 2, F.size(F.col("brands"))),
                lambda y: F.struct(x.alias("src"), y.alias("dst")),
            ),
        )
    )
    edges = (
        buckets.select(F.explode(pair_arr).alias("e"))
        .select(F.col("e.src"), F.col("e.dst"))
        .distinct()
    )
    vertices = p.select(F.col("p_brand").alias("id")).distinct()
    cc = connected_components(vertices, edges)
    return cc.select(F.col("id").alias("brand"),
                     F.col("component").alias("canonical"))


def q_a4_mean_context_len(spark, sf_dir):
    """A4: mean token count (context_size.py:13-20)."""
    docs = _load(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.round(F.avg(F.size(F.split(F.trim("text"), " "))), 6).alias(
            "mean_tokens"
        )
    )


def q_a5_distinct_ids(spark, sf_dir):
    """A5: distinct id collection (split_entity.py:10-33)."""
    o = _load(spark, sf_dir, "orders")
    return o.select("o_custkey").distinct()


def q_j9_fold_lookup(spark, sf_dir):
    """J9: fold-assignment map applied to every example
    (split_rel.py:55-97): fold the A7 packing back onto orders."""
    from xwikire_spark.operators.splits import greedy_fold_packing

    o = _load(spark, sf_dir, "orders")
    counts = o.groupBy(F.col("o_custkey").alias("class")).agg(
        F.count(F.lit(1)).alias("count")
    )
    folds = greedy_fold_packing(counts).select(
        F.col("class").alias("o_custkey"), "fold"
    )
    return (
        o.join(F.broadcast(folds), "o_custkey")
        .groupBy("fold")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


def q_j11_oov_coverage(spark, sf_dir):
    """J11: token-set coverage vs a model vocab (find_oov.py:57-151)."""
    from xwikire_spark.operators.vocab import oov_coverage

    docs = _load(spark, sf_dir, "documents")
    tokens = docs.select(
        F.explode(F.split(F.trim("text"), " ")).alias("token")
    )
    vocab = spark.createDataFrame(
        [("spark",), ("join",), ("table",), ("data",), ("filter",),
         ("nonexistent-token",)],
        "token string",
    )
    return oov_coverage(tokens, vocab)


def q_w5_sequential_splits(spark, sf_dir):
    """W5: test -> dev -> train drawn from a shrinking pool
    (split_entity.py:115-138)."""
    from xwikire_spark.operators.splits import sequential_splits

    c = _load(spark, sf_dir, "customer").select("c_custkey")
    out = sequential_splits(
        c, {"test": 100, "dev": 200, "train": 10**9},
        id_col="c_custkey", order_col="c_custkey",
    )
    return out.groupBy("split").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("c_custkey").alias("min_id"),
        F.max("c_custkey").alias("max_id"),
    )


def q_x2_text_clean(spark, sf_dir):
    """X2/X3: heading/citation/blank-line cleanup chain
    (MergedWikis.py:182-189) applied to documents."""
    from xwikire_spark.functions.text import clean_text

    docs = _load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.md5(clean_text(F.col("text"))).alias("clean_hash")
    )


def q_x14_template_fill(spark, sf_dir):
    """J4+X14 (English rules): row-multiplying template join + XXX
    substitution (QA.py:128-146; en filler is plain replace,
    template_fillers.py:5-7)."""
    p = _load(spark, sf_dir, "part")
    templates = spark.createDataFrame(
        [("t1", "Where is XXX made?"), ("t2", "Who sells XXX?")],
        "template_id string, template string",
    )
    return p.select("p_partkey", "p_name").crossJoin(
        F.broadcast(templates)
    ).select(
        "p_partkey",
        "template_id",
        F.replace(F.col("template"), F.lit("XXX"), F.col("p_name")).alias(
            "question"
        ),
    )


def q_x20_sublist_locations(spark, sf_dir):
    """X20: contiguous sub-sequence match offsets
    (WikiReading.py:81-88, utils.py:13-20): all start indices of the token
    bigram ('join', 'order') in each document, 0-based."""
    docs = _load(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    starts = F.filter(
        F.transform(words, lambda t, i: i),
        lambda i: (i + 2 <= F.size(words))
        & (F.element_at(words, (i + 1).cast("int")) == "join")
        & (F.element_at(words, (i + 2).cast("int")) == "order"),
    )
    return docs.select(
        "doc_id", F.explode(starts).alias("match_start")
    )


# ---------------------------------------------------------------------------
# Training-data operators over documents / embeddings.
# ---------------------------------------------------------------------------


def q_dedup_exact(spark, sf_dir):
    from xwikire_spark.operators.dedup import dedup_exact

    return dedup_exact(_load(spark, sf_dir, "documents")).select(
        "doc_id", "lang", "source"
    )


def q_dedup_near_jaccard(spark, sf_dir):
    """SQL-checkable near-dup: token-set Jaccard within (lang, source)."""
    from xwikire_spark.operators.dedup import ngram_jaccard_pairs_within_groups

    # one-row-group testbox shim (see q_txt_hygiene)
    docs = _load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    return ngram_jaccard_pairs_within_groups(
        docs, ["lang", "source"], threshold=0.8
    )


def q_dedup_minhash_lsh(spark, sf_dir):
    """MinHash-LSH near-dup. Value-hash checked: the verify stage is an
    EXACT shingle-set Jaccard on candidates (precision 1.0 by construction),
    so the oracle is the exact corpus-wide shingle-Jaccard pair set — any
    pair LSH misses (or any wrong Jaccard value) fails the gate.

    Honest scope of that check: it pins recall = 1.0 EMPIRICALLY on this
    pinned corpus (deterministic hashes + data; all true pairs here sit at
    jaccard >= 0.9 where the 8x4 banding bound is ~0.9998) — the banding
    bound, not the gate, is the general recall guarantee. The max_bucket
    stop guard cannot bite here either: in the production pipeline exact
    dedup runs BEFORE near-dup, so identical-copy floods (the one way a
    true-duplicate bucket exceeds the cap) never reach the banded join."""
    from xwikire_spark.operators.dedup import near_duplicates_minhash

    # one-row-group testbox shim (see q_txt_hygiene): the shingle+hash
    # explode is the dominant cost and must not run on a single core
    docs = _load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    return near_duplicates_minhash(docs, threshold=0.8)


def q_ann_topk_cosine(spark, sf_dir):
    """Brute-force cosine top-k (query set = vec_id < 8)."""
    from xwikire_spark.operators.similarity import cosine_topk_bruteforce

    emb = _load(spark, sf_dir, "embeddings")
    return cosine_topk_bruteforce(emb.where(F.col("vec_id") < 8), emb, k=5)


def q_ann_topk_lsh(spark, sf_dir):
    """LSH-bucketed ANN (rows-only; approximate path)."""
    from xwikire_spark.operators.similarity import ann_topk_lsh

    emb = _load(spark, sf_dir, "embeddings")
    return ann_topk_lsh(emb.where(F.col("vec_id") < 8), emb, k=5)


def q_ann_topk_ivf(spark, sf_dir):
    """IVF ANN (k-means inverted lists, 2-probe). The oracle re-derives the
    SAME deterministic k-means in SQL — rounded centroids make the model
    bit-identical across engines."""
    from xwikire_spark.operators.similarity import ann_topk_ivf

    emb = _load(spark, sf_dir, "embeddings")
    return ann_topk_ivf(emb.where(F.col("vec_id") < 8), emb, k=5)


def q_dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-dup pairs: hyperplane-LSH candidates + exact
    cosine verify (precision 1.0 by construction), oracled against the
    exact all-pairs answer. Generous banding (8 bands x 3 planes) so
    recall at the 0.5 boundary is near-1; like dedup_minhash_lsh, the gate
    pins recall empirically on this pinned corpus (deterministic planes +
    data) — the banding bound is the general guarantee."""
    from xwikire_spark.operators.similarity import cosine_near_duplicates

    emb = _load(spark, sf_dir, "embeddings")
    return cosine_near_duplicates(
        emb, threshold=0.5, n_bands=8, planes_per_band=3
    )


def q_txt_stats(spark, sf_dir):
    """Token counts + quality features + content fingerprint as ONE wide
    per-document frame (driver-cap consolidation: the three operators were
    individually green in r1/r2 but overflowed the driver's 50-row report;
    every column is still value-hash gated here). Single projection — one
    corpus scan, zero shuffles (joining the three per-doc frames would
    scan 3x and sort-merge-shuffle twice)."""
    from xwikire_spark.operators.textstats import document_stats

    return document_stats(_load(spark, sf_dir, "documents"))


def q_txt_langid(spark, sf_dir):
    """Language-id heuristic (rows-only; pandas UDF)."""
    from xwikire_spark.operators.textstats import language_id

    return language_id(_load(spark, sf_dir, "documents"))


def q_txt_hygiene(spark, sf_dir):
    """The hygiene family in ONE tagged frame (driver-cap consolidation,
    VERDICT r3 next-round #5): URL/email scrubbing with redaction counts,
    benchmark-contamination screening, and span-excise decontamination —
    each row still individually value-hash gated via the op tag.

    URLs/emails are planted deterministically (the synthetic corpus has
    none) so redaction exercises real matches; the probe "benchmark" is
    the deterministic doc_id % 37 == 0 subset of the corpus itself, which
    guarantees hits (every probe doc contaminates at least itself)."""
    from xwikire_spark.operators.dedup import (
        contamination_hits,
        excise_kept_expr,
        excise_plan_exprs,
    )
    from xwikire_spark.operators.textstats import scrub_pii

    # The sf parquet is ONE unsplittable row group, so without this the
    # whole per-doc pipeline below would run on a single core; at real
    # scale the input arrives in thousands of splits and this exchange
    # is a no-op cost-wise (one hash pass of the corpus, reused by every
    # branch via ReuseExchange). Explicit N keeps AQE from coalescing
    # the tiny test corpus back to one partition.
    docs = (
        _load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
    )
    planted = docs.select(
        "doc_id",
        "text",
        F.concat_ws(
            " ",
            "text",
            F.concat(F.lit("see http://ex.com/p"), F.col("doc_id")),
            F.concat(F.lit("mail u"), F.col("doc_id"), F.lit("@ex.org")),
        ).alias("ptext"),
    )
    probes = docs.where(F.col("doc_id") % 37 == 0)

    # FUSED single-pass family (was a 3-branch union = 3 corpus scans +
    # 2 hit shuffles): scrub counts/redaction ride the main projection,
    # the ONE contamination_hits aggregate (only matched shingles ever
    # shuffle) joins back small (AQE broadcasts it at runtime), and each
    # doc then EXPLODES into its tagged family rows — scrub + excise
    # always, contam when the doc hit the probe set. One corpus pass,
    # one tiny shuffle, identical rows to the old union (same oracle).
    hits = contamination_hits(docs, probes, k=8)
    # hits is bounded by the probe overlap (tiny next to the corpus):
    # broadcast it so the corpus side never shuffles for the join-back
    base = scrub_pii(planted, text_col="ptext").join(
        F.broadcast(hits), "doc_id", "left"
    )
    words, gs, ge = excise_plan_exprs("text", "hit_pos", 8)
    # Generate barriers: materialize words + merged-interval gaps once,
    # then the kept array once (the projection-collapse re-inlining
    # trap); downstream refs to r.kept are plain attributes. Two stages
    # keep the excision O(words + gaps) even on fully-contaminated docs.
    g0 = base.select(
        "doc_id",
        "n_urls",
        "n_emails",
        "ptext",
        "hit_pos",
        "n_contaminated_shingles",
        "example_shingle",
        F.explode(
            F.array(
                F.struct(words.alias("w"), gs.alias("gs"), ge.alias("ge"))
            )
        ).alias("r"),
    )
    g = g0.select(
        "doc_id",
        "n_urls",
        "n_emails",
        "ptext",
        "hit_pos",
        "n_contaminated_shingles",
        "example_shingle",
        F.explode(
            F.array(
                F.struct(
                    excise_kept_expr("r.w", "r.gs", "r.ge").alias("kept"),
                    F.size("r.w").alias("n0"),
                )
            )
        ).alias("r"),
    )
    fam = F.concat(
        F.array(
            F.struct(
                F.lit("scrub").alias("op"),
                F.col("n_urls").cast("long").alias("n"),
                F.col("n_emails").cast("long").alias("m"),
                F.col("ptext").alias("v"),
            ),
            F.struct(
                F.lit("excise").alias("op"),
                F.coalesce(
                    (F.col("r.n0") - F.size("r.kept")).cast("long"),
                    F.lit(0),
                ).alias("n"),
                F.lit(None).cast("long").alias("m"),
                F.concat_ws(" ", F.col("r.kept")).alias("v"),
            ),
        ),
        F.when(
            F.col("hit_pos").isNotNull(),
            F.array(
                F.struct(
                    F.lit("contam").alias("op"),
                    F.col("n_contaminated_shingles").cast("long").alias("n"),
                    F.lit(None).cast("long").alias("m"),
                    F.col("example_shingle").alias("v"),
                )
            ),
        ).otherwise(
            F.array().cast(
                "array<struct<op:string,n:bigint,m:bigint,v:string>>"
            )
        ),
    )
    return g.select("doc_id", F.explode(fam).alias("t")).select(
        "t.op", "doc_id", "t.n", "t.m", "t.v"
    )


# ---------------------------------------------------------------------------
# Generated oracles for the hash-family operators: the hash constants /
# rule tables live in ONE place (the operator modules) and both engines'
# expressions are generated from them.
# ---------------------------------------------------------------------------


def _minhash_lsh_oracle_sql(threshold: float = 0.8, k: int = 3) -> str:
    """Exact corpus-wide k-shingle-set Jaccard pairs — the ground truth the
    LSH pipeline must reproduce (its verify stage is exact, so precision is
    1.0; this oracle therefore checks recall AND values)."""
    shingle = " || ' ' || ".join(f"ws[i + {j}]" for j in range(k))
    return f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
sh AS (
  SELECT DISTINCT doc_id, {shingle} AS shingle
  FROM w, unnest(generate_series(1, greatest(len(ws) - {k - 1}, 0))) AS t(i)
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 6) AS jaccard
FROM shared
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= {threshold}
"""


def _ann_lsh_oracle_sql(
    k: int = 5, n_bands: int = 4, planes_per_band: int = 5, dim: int = 64
) -> str:
    """The LSH-bucketed ANN, hyperplane constants inlined from the SAME
    plane_component() the Spark operator uses. The projection is written as
    an explicit left-associated sum chain — bit-identical to Spark's
    sequential F.aggregate fold, so bucket signs can't drift."""
    from xwikire_spark.operators.similarity import plane_component

    def bucket_expr(v: str, band: int) -> str:
        seed = 17 + band
        terms = []
        for p in range(planes_per_band):
            proj = " + ".join(
                f"{v}[{d + 1}] * {plane_component(seed, p, d)!r}"
                for d in range(dim)
            )
            terms.append(
                f"(CASE WHEN (0.0 + {proj}) >= 0 THEN {1 << p} ELSE 0 END)"
            )
        return " + ".join(terms)

    def banded(src: str, idc: str, v: str) -> str:
        return "\nUNION ALL\n".join(
            f"SELECT {idc}, {band} AS band, {bucket_expr(v, band)} AS bucket"
            f" FROM {src}"
            for band in range(n_bands)
        )

    return f"""
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 8),
c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings),
qs AS ({banded('q', 'query_id', 'qv')}),
cs AS ({banded('c', 'neighbor_id', 'cv')}),
cand AS (
  SELECT DISTINCT query_id, neighbor_id
  FROM qs JOIN cs USING (band, bucket)
  WHERE query_id <> neighbor_id
),
scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         list_cosine_similarity(qv, cv) AS cos
  FROM cand JOIN q USING (query_id) JOIN c USING (neighbor_id)
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank
FROM (SELECT query_id, neighbor_id, row_number() OVER (
          PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored)
WHERE rank <= {k}
"""


def _ann_ivf_oracle_sql(
    k: int = 5, n_centroids: int = 8, n_probe: int = 2, n_iters: int = 2
) -> str:
    """The IVF pipeline re-derived in SQL: the SAME deterministic k-means
    (md5 random-partition init, Lloyd steps with centroid components
    rounded to 6 decimals — the rounding is what makes the model
    bit-identical across engines), then probe + exact cosine rank."""

    def means(src: str, out: str) -> str:
        # DuckDB 1.0 has no WITH ORDINALITY: index via a lateral
        # generate_series and subscript the array
        return f"""{out} AS (
  SELECT cid, list(m ORDER BY dim) AS ce FROM (
    SELECT cid, t.dim AS dim, round(avg(e[t.dim]), 6) AS m
    FROM {src}, unnest(generate_series(1, len(e))) AS t(dim)
    GROUP BY cid, t.dim) GROUP BY cid)"""

    def assign(cents: str, out: str) -> str:
        return f"""{out} AS (
  SELECT vid, e, cid FROM (
    SELECT v.vid, v.e, c.cid,
           row_number() OVER (PARTITION BY v.vid
               ORDER BY list_cosine_similarity(v.e, c.ce) DESC, c.cid) AS rn
    FROM v CROSS JOIN {cents} c) WHERE rn = 1)"""

    ctes = [
        """v AS (SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS e
         FROM embeddings)""",
        f"""a_init AS (
  SELECT vid, e,
         (strpos('0123456789abcdef', substr(md5(CAST(vid AS VARCHAR)), 1, 1))
          - 1) % {n_centroids} AS cid
  FROM v)""",
        means("a_init", "c0"),
    ]
    prev = "c0"
    for i in range(n_iters):
        ctes.append(assign(prev, f"a{i + 1}"))
        ctes.append(means(f"a{i + 1}", f"c{i + 1}"))
        prev = f"c{i + 1}"
    ctes.append(assign(prev, "corpus_lists"))
    ctes.append(f"""qp AS (
  SELECT vid AS query_id, e AS qv, cid FROM (
    SELECT v.vid, v.e, c.cid,
           row_number() OVER (PARTITION BY v.vid
               ORDER BY list_cosine_similarity(v.e, c.ce) DESC, c.cid) AS rn
    FROM v CROSS JOIN {prev} c WHERE v.vid < 8) WHERE rn <= {n_probe})""")
    ctes.append("""scored AS (
  SELECT qp.query_id, a.vid AS neighbor_id,
         list_cosine_similarity(qp.qv, a.e) AS cos
  FROM qp JOIN corpus_lists a ON a.cid = qp.cid
  WHERE a.vid <> qp.query_id)""")
    body = ",\n".join(ctes)
    return f"""
WITH {body}
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank
FROM (SELECT query_id, neighbor_id, row_number() OVER (
          PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored)
WHERE rank <= {k}
"""


def _langid_oracle_sql() -> str:
    """Marker scoring mirrored from textstats._LANG_PROFILES: the score is
    total matched characters, so count(m) * len(m) is exactly
    length(t) - length(replace(t, m, ''))."""
    from xwikire_spark.operators.textstats import _LANG_PROFILES

    langs = sorted(_LANG_PROFILES)
    scores = ",\n    ".join(
        "("
        + " + ".join(
            f"(length(t) - length(replace(t, '{m}', '')))"
            for m in _LANG_PROFILES[lang]
        )
        + f") AS s_{lang}"
        for lang in langs
    )
    all_scores = ", ".join(f"s_{lang}" for lang in langs)
    picks = "\n         ".join(
        f"WHEN s_{lang} = g THEN '{lang}'" for lang in langs
    )
    return f"""
WITH lowered AS (SELECT doc_id, lower(text) AS t FROM documents),
s AS (SELECT doc_id,
    {scores}
  FROM lowered),
m AS (SELECT *, greatest({all_scores}) AS g FROM s)
SELECT doc_id,
       CASE WHEN g <= 0 THEN 'und'
         {picks}
       END AS pred_lang
FROM m
"""


def _txt_hygiene_oracle_sql() -> str:
    """Generated from the SAME pattern constants the operators use
    (textstats.URL_PATTERN/EMAIL_PATTERN — ASCII-literal classes by design
    so one string survives Spark regex, Spark SQL literals, and DuckDB
    RE2). DuckDB regexp_replace needs the explicit 'g' flag to match
    Spark's global replace."""
    from xwikire_spark.operators.textstats import EMAIL_PATTERN, URL_PATTERN

    u, e = URL_PATTERN, EMAIL_PATTERN
    return f"""
WITH base AS (SELECT doc_id, text FROM documents),
planted AS (
  SELECT doc_id,
         text || ' see http://ex.com/p' || doc_id
              || ' mail u' || doc_id || '@ex.org' AS text
  FROM base),
scrub AS (
  SELECT 'scrub' AS op, doc_id,
         CAST(len(regexp_extract_all(text, '{u}')) AS BIGINT) AS n,
         CAST(len(regexp_extract_all(
             regexp_replace(text, '{u}', '<URL>', 'g'), '{e}')) AS BIGINT)
           AS m,
         regexp_replace(regexp_replace(text, '{u}', '<URL>', 'g'),
                        '{e}', '<EMAIL>', 'g') AS v
  FROM planted),
w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM base),
ds AS (
  SELECT doc_id, i AS pos,
         list_aggregate(ws[i:i+7], 'string_agg', ' ') AS shingle
  FROM w, unnest(generate_series(1, len(ws) - 7)) AS t(i)),
ps AS (SELECT DISTINCT shingle FROM ds WHERE doc_id % 37 = 0),
contam AS (
  SELECT 'contam' AS op, doc_id,
         CAST(count(*) AS BIGINT) AS n,
         CAST(NULL AS BIGINT) AS m,
         min(shingle) AS v
  FROM (SELECT DISTINCT doc_id, shingle FROM ds) d
  JOIN ps USING (shingle)
  GROUP BY doc_id),
cov AS (
  SELECT DISTINCT doc_id, j
  FROM (SELECT ds.doc_id, ds.pos FROM ds JOIN ps USING (shingle)),
       unnest(generate_series(pos, pos + 7)) AS t(j)),
idx AS (
  SELECT doc_id, i, ws[i] AS word, len(ws) AS n0
  FROM w, unnest(generate_series(1, len(ws))) AS t(i)),
excise AS (
  SELECT 'excise' AS op, idx.doc_id,
         CAST(any_value(n0)
              - count(*) FILTER (WHERE cov.j IS NULL) AS BIGINT) AS n,
         CAST(NULL AS BIGINT) AS m,
         coalesce(string_agg(word, ' ' ORDER BY i)
                    FILTER (WHERE cov.j IS NULL), '') AS v
  FROM idx
  LEFT JOIN cov ON cov.doc_id = idx.doc_id AND cov.j = idx.i
  GROUP BY idx.doc_id)
SELECT * FROM scrub
UNION ALL SELECT * FROM contam
UNION ALL SELECT * FROM excise
"""


# ---------------------------------------------------------------------------
# Round 6: as-of join / sequence packing / tf-idf (beyond-reference
# training-pipeline operators; see operators/{asof,packing,ranking}.py)
# ---------------------------------------------------------------------------


def q_evt_asof_join(spark, sf_dir):
    """As-of join (operators/asof.py): each purchase event picks the
    latest view event at-or-before it for the same user — the
    point-in-time feature lookup. One shuffle on user_id (tagged union +
    window), never a range join; DuckDB's native ASOF JOIN is the
    oracle. The right side is deduplicated per (user_id, ts) so the
    at-tie winner is well-defined on both engines."""
    from xwikire_spark.operators.asof import asof_join

    e = _load(spark, sf_dir, "events")
    purchases = e.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = (
        e.where(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.round(F.max("value"), 6).alias("view_value"))
    )
    out = asof_join(purchases, views, on="ts", by="user_id")
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("purchase_us"),
        F.unix_micros(F.col("ts_right").cast("timestamp")).alias("view_us"),
        F.col("view_value_right").alias("view_value"),
    )


def q_seq_packing(spark, sf_dir):
    """GPT-style sequence packing (operators/packing.py): concatenate
    documents in doc_id order, chunk into 2048-token context windows;
    each doc gets the window holding its first token + its offset. The
    Spark side computes the global prefix sum with the two-phase
    distributed scan (range partitions + broadcast offsets — no
    single-partition window); the oracle affords the naive cumulative
    window at test scale."""
    from xwikire_spark.operators.packing import (
        pack_sequences,
        token_count_expr,
    )

    docs = _load(spark, sf_dir, "documents").select(
        "doc_id", token_count_expr("text").cast("long").alias("n_tokens")
    )
    return pack_sequences(docs, "doc_id", "n_tokens", budget=2048).select(
        "doc_id", "n_tokens", "pack_id", "pack_offset"
    )


def q_tfidf_topterms(spark, sf_dir):
    """Domain-level tf-idf top terms (operators/ranking.py): which terms
    characterize each source. Pure JVM tokenize-explode + two hash
    aggregates + broadcast scalar + per-group top-k window."""
    from xwikire_spark.operators.ranking import tfidf_top_terms

    # no input-spreading shim here — measured net-negative (see the
    # q_a2_vocab note: the n_groups branch loses its column-pruned scan)
    docs = _load(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, "source", "text", k=3)


def q_doc_quantiles(spark, sf_dir):
    """Exact per-language n_chars quartiles (operators/quantiles.py,
    type-1 / percentile_disc semantics — deterministic, no
    interpolation): one window shuffle, group sizes ride the same
    partition, quantile membership tested with an array `exists` (no
    join, no second aggregate)."""
    from xwikire_spark.operators.quantiles import exact_group_quantiles

    docs = _load(spark, sf_dir, "documents")
    return exact_group_quantiles(
        docs.select("lang", "n_chars", "doc_id"),
        "n_chars", "lang", [0.25, 0.5, 0.75, 1.0], tiebreak_col="doc_id",
    )


DOC_QUANTILES_SQL = """
WITH r AS (
  SELECT lang, n_chars,
         row_number() OVER (
           PARTITION BY lang ORDER BY n_chars, doc_id) AS rk,
         count(*) OVER (PARTITION BY lang) AS n
  FROM documents
)
SELECT lang, CAST(q AS DOUBLE) AS q, n_chars AS value
FROM r, (VALUES (0.25), (0.5), (0.75), (1.0)) AS t(q)
WHERE CAST(ceil(q * n) AS BIGINT) = rk
"""


def q_doc_chunks(spark, sf_dir):
    """Overlapping token-window chunking (operators/chunking.py): 64-token
    chunks advancing by 48 (16-token overlap) — the RAG/indexing prep
    step, all inside whole-stage codegen."""
    from xwikire_spark.operators.chunking import chunk_documents

    # one-row-group testbox shim (see kg_turns_df): without it the whole
    # split+chunk expansion runs in ONE scan task
    docs = _load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    return chunk_documents(
        docs, "text", chunk_tokens=64, overlap=16, id_cols=["doc_id"]
    )


DOC_CHUNKS_SQL = """
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
  FROM documents WHERE len(trim(text)) > 0
),
c AS (
  SELECT doc_id, i AS chunk_idx,
         list_aggregate(ws[i*48+1 : i*48+64], 'string_agg', ' ')
           AS chunk_text,
         least(len(ws) - i*48, 64) AS n_tokens
  FROM w,
       unnest(generate_series(
         0, CAST(ceil(len(ws) / 48.0) AS INT) - 1)) AS t(i)
)
SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx, chunk_text,
       CAST(n_tokens AS INT) AS n_tokens
FROM c
"""


def q_w7_weighted_sample(spark, sf_dir):
    """Weighted sampling without replacement (operators/sampling.py,
    Efraimidis-Spirakis A-Res): 5 docs per lang, inclusion proportional
    to n_chars, reproducible (multiplicative-hash uniforms mirrored
    verbatim in the oracle)."""
    from xwikire_spark.operators.sampling import weighted_sample

    docs = _load(spark, sf_dir, "documents").select(
        "lang", "doc_id", "n_chars"
    )
    return weighted_sample(
        docs, "n_chars", 5, "doc_id", strata_col="lang"
    ).select("lang", "doc_id", "sample_rank")


W7_WEIGHTED_SAMPLE_SQL = """
WITH keyed AS (
  SELECT lang, doc_id,
         ln((CAST((doc_id * 2654435761) % 4294967296 AS DOUBLE) + 0.5)
            / 4294967296.0) / n_chars AS key
  FROM documents
),
r AS (
  SELECT lang, doc_id,
         row_number() OVER (
           PARTITION BY lang ORDER BY key DESC, doc_id ASC
         ) AS rk
  FROM keyed
)
SELECT lang, doc_id, CAST(rk AS INT) AS sample_rank
FROM r WHERE rk <= 5
"""


def q_kg_triangles(spark, sf_dir):
    """Per-node triangle counts (operators/graph_metrics.py) over the
    strong co-purchase graph: parts sharing >= 2 distinct orders. The
    Spark side runs the degree-oriented (Schank-Wagner) enumeration —
    hub out-degree bounded O(sqrt(m)) so no wedge blow-up; the oracle is
    the plain a<b<c 3-way self-join, affordable at test scale and
    provably the same triangle set."""
    from xwikire_spark.operators.graph_metrics import triangle_counts

    li = _load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # r7 optimization (guide §2.3/§2.4): the before plan self-joined
    # lineitem on l_orderkey (sort-merge, two sorted copies of 6M rows)
    # and then needed a count_DISTINCT(l_orderkey) expand to dedup pairs
    # repeated inside one order. Collapsing each order to its DISTINCT
    # part set first (one hash aggregate; basket sizes are bounded, so the
    # per-order pair expansion is the same O(k²) the join paid) emits each
    # (order, u, v) pair exactly once — the distinct is free and the
    # support count becomes a plain partial-aggregatable count(*). One
    # shuffle of (orderkey, partkey) + one of the pairs, no join. Same
    # edge set, unchanged oracle SQL.
    parts = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("pks")
    )
    combos = F.flatten(
        F.transform(
            F.col("pks"),
            lambda x, i: F.transform(
                F.slice(F.col("pks"), i + 2, F.size(F.col("pks"))),
                lambda y: F.struct(x.alias("u"), y.alias("v")),
            ),
        )
    )
    pairs = parts.select(F.explode(combos).alias("p"))
    edges = (
        pairs.groupBy(F.col("p.u").alias("u"), F.col("p.v").alias("v"))
        .agg(F.count(F.lit(1)).alias("w"))
        .where(F.col("w") >= 2)
        .select(F.col("u").alias("src"), F.col("v").alias("dst"))
    )
    return triangle_counts(edges)


KG_TRIANGLES_SQL = """
WITH pairs AS (
  SELECT a.l_orderkey,
         a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a
  JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
e AS (
  SELECT u, v FROM pairs
  GROUP BY u, v HAVING count(DISTINCT l_orderkey) >= 2
),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e e1
  JOIN e e2 ON e1.v = e2.u
  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
),
m AS (
  SELECT a AS node FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
FROM m GROUP BY node
"""


def q_tbl_profile(spark, sf_dir):
    """Single-pass data-quality profile (operators/profile.py): per
    column — rows, nulls, exact distincts, min/max — ONE aggregate over
    ONE scan regardless of column count (struct-array unpivot, not a
    union of per-column scans). Restricted here to bigint/varchar
    columns so the min/max string rendering is engine-portable."""
    from xwikire_spark.operators.profile import profile_table

    e = _load(spark, sf_dir, "events")
    return profile_table(e, ["event_id", "user_id", "event_type"])


TBL_PROFILE_SQL = """
SELECT 'event_id' AS "column",
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null,
       CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
       CAST(min(event_id) AS VARCHAR) AS min_value,
       CAST(max(event_id) AS VARCHAR) AS max_value
FROM events
UNION ALL
SELECT 'user_id', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT user_id) AS BIGINT),
       CAST(min(user_id) AS VARCHAR), CAST(max(user_id) AS VARCHAR)
FROM events
UNION ALL
SELECT 'event_type', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT event_type) AS BIGINT),
       CAST(min(event_type) AS VARCHAR), CAST(max(event_type) AS VARCHAR)
FROM events
"""


EVT_ASOF_SQL = """
WITH purchases AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
),
views AS (
  SELECT user_id, ts, round(max(value), 6) AS view_value
  FROM events WHERE event_type = 'view' GROUP BY user_id, ts
)
SELECT p.event_id, p.user_id,
       epoch_us(p.ts) AS purchase_us,
       epoch_us(v.ts) AS view_us,
       v.view_value
FROM purchases p
ASOF LEFT JOIN views v
  ON p.user_id = v.user_id AND p.ts >= v.ts
"""

SEQ_PACKING_SQL = """
WITH t AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
         COALESCE(SUM(n_tokens) OVER (
           ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
  FROM t
)
SELECT doc_id, n_tokens,
       CAST(floor(before / 2048.0) AS BIGINT) AS pack_id,
       CAST(before % 2048 AS BIGINT) AS pack_offset
FROM c
"""

TFIDF_SQL = """
WITH terms AS (
  SELECT source AS grp,
         unnest(regexp_extract_all(lower(text), '[a-z]{3,}')) AS term
  FROM documents
),
tf AS (SELECT grp, term, CAST(count(*) AS BIGINT) AS tf
       FROM terms GROUP BY 1, 2),
dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
          FROM tf GROUP BY 1),
n AS (SELECT count(DISTINCT source) AS n_groups FROM documents),
ranked AS (
  SELECT grp, term, tf, df,
         tf * ln(n_groups * 1.0 / df) AS score,
         row_number() OVER (
           PARTITION BY grp
           ORDER BY tf * ln(n_groups * 1.0 / df) DESC, term ASC) AS rank
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
)
SELECT grp AS source, term, tf, df,
       round(score, 6) AS score, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 3
"""


# ---------------------------------------------------------------------------
# Driver contract
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship KG-construction query on sf0.001."""
    return kg_triples_df(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "kg_turns": kg_turns_df,
        "kg_mentions": kg_mentions_df,
        "kg_triples": kg_triples_df,
        # kg_triples_pipeline moved to the pytest gate (r3 next-round #5:
        # the three kg_triples twins share ONE SQL truth; keeping the
        # broadcast-kernel variant out of the 50-row driver report frees a
        # slot for txt_hygiene — tests/test_entry_contract.py pins
        # pipeline == flagship at sf0.001)
        "kg_triples_joinpath": q_kg_triples_joinpath,
        "kg_mention_pairs": q_kg_mention_pairs,
        "kg_vertex_degrees": q_kg_vertex_degrees,
        "srl_export": q_srl_export,
        "scan_family": q_scan_family,
        "f1_filter_project": q_f1_filter_project,
        "j1_equi_join": q_j1_equi_join,
        "j2_broadcast_dim": q_j2_broadcast_dim,
        "j5_theta_self_join": q_j5_theta_self_join,
        "j78_semi_anti": q_j78_semi_anti,
        "j6_mapping_join": q_j6_mapping_join,
        "j10_nway_membership": q_j10_nway_membership,
        "a1_partial_final_agg": q_a1_partial_final_agg,
        "a2_vocab": q_a2_vocab,
        "a3_class_counts": q_a3_class_counts,
        "a6_duplicate_detection": q_a6_duplicate_detection,
        "a7_fold_packing": q_a7_fold_packing,
        "a9_first_per_group": q_a9_first_per_group,
        "w2_stratified_sample": q_w2_stratified_sample,
        "w4_class_balance": q_w4_class_balance,
        "w4_round_robin": q_w4_round_robin,
        "w6_topk": q_w6_topk,
        "so_setops": q_so_setops,
        "x6_char_span": q_x6_char_span,
        "x13_unit_extract": q_x13_unit_extract,
        "evt_tumbling_window": q_evt_tumbling_window,
        "evt_sessionize": q_evt_sessionize,
        "evt_session_window": q_evt_session_window,
        "kg_canonical_map": q_kg_canonical_map,
        "a4_mean_context_len": q_a4_mean_context_len,
        "a5_distinct_ids": q_a5_distinct_ids,
        "j9_fold_lookup": q_j9_fold_lookup,
        "j11_oov_coverage": q_j11_oov_coverage,
        "w5_sequential_splits": q_w5_sequential_splits,
        "x2_text_clean": q_x2_text_clean,
        "x14_template_fill": q_x14_template_fill,
        "x20_sublist_locations": q_x20_sublist_locations,
        "dedup_exact": q_dedup_exact,
        "dedup_near_jaccard": q_dedup_near_jaccard,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "ann_topk_cosine": q_ann_topk_cosine,
        "ann_topk_lsh": q_ann_topk_lsh,
        "ann_topk_ivf": q_ann_topk_ivf,
        "dedup_embedding": q_dedup_embedding,
        "txt_stats": q_txt_stats,
        "txt_langid": q_txt_langid,
        "txt_hygiene": q_txt_hygiene,
        "evt_asof_join": q_evt_asof_join,
        "seq_packing": q_seq_packing,
        "tfidf_topterms": q_tfidf_topterms,
        "tbl_profile": q_tbl_profile,
        "kg_triangles": q_kg_triangles,
        "w7_weighted_sample": q_w7_weighted_sample,
        "doc_chunks": q_doc_chunks,
        "doc_quantiles": q_doc_quantiles,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "kg_turns": KG_TURNS_SQL,
        "kg_mentions": KG_MENTIONS_SQL,
        "kg_triples": KG_TRIPLES_SQL,
        # (kg_triples_pipeline's KG_TRIPLES_SQL gate moved to pytest —
        # see queries() note)
        # ...and so must the join-based large-dictionary strategy
        "kg_triples_joinpath": KG_TRIPLES_SQL,
        "kg_mention_pairs": KG_MENTION_PAIRS_SQL,
        "kg_vertex_degrees": KG_VERTEX_DEGREES_SQL,
        "srl_export": SRL_EXPORT_SQL,
        "scan_family": """
            SELECT 's1_range' AS op, l_returnflag AS k,
                   count(*) AS n, round(sum(l_quantity), 2) AS v
            FROM lineitem WHERE l_orderkey BETWEEN 1000 AND 5000
            GROUP BY l_returnflag
            UNION ALL
            SELECT 's5_regex' AS op, p_brand AS k,
                   count(*) AS n, CAST(NULL AS DOUBLE) AS v
            FROM part WHERE regexp_matches(p_name, '^(red|blue) .*(t|r)$')
            GROUP BY p_brand
        """,
        "f1_filter_project": """
            SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price
            FROM orders WHERE o_orderstatus = 'F' AND o_totalprice > 100000
        """,
        "j1_equi_join": """
            SELECT n_name, count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS revenue
            FROM orders JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "j2_broadcast_dim": """
            SELECT p_brand, round(sum(l_extendedprice), 2) AS revenue
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY p_brand
        """,
        "j5_theta_self_join": """
            SELECT a.l_orderkey, count(*) AS n_pairs
            FROM lineitem a JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY a.l_orderkey
        """,
        "j78_semi_anti": """
            SELECT 'semi' AS op, c_mktsegment AS k,
                   count(*) AS n
            FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)
            GROUP BY c_mktsegment
            UNION ALL
            SELECT 'anti' AS op, c_name AS k,
                   CAST(c_custkey AS BIGINT) AS n
            FROM customer
            WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        """,
        "j6_mapping_join": """
            WITH mapping AS (
              SELECT qa.question_id AS q_id, qa.id AS official_id
              FROM (
                SELECT unnest(p.qas) AS qa
                FROM (
                  SELECT unnest(d.paragraphs) AS p
                  FROM (SELECT unnest(data) AS d
                        FROM read_json('{J6_SOURCE}')) 
                )
              )
            )
            SELECT m.official_id AS id, e.q_id, e.question, e.answer,
                   CAST(e.na AS BOOLEAN) AS na
            FROM read_json('{J6_EXAMPLES}',
                           format='newline_delimited') e
            JOIN mapping m USING (q_id)
        """.replace("{J6_SOURCE}", _J6_SOURCE)
           .replace("{J6_EXAMPLES}", _J6_EXAMPLES),
        "j10_nway_membership": """
            SELECT o_custkey FROM orders
            GROUP BY o_custkey
            HAVING count(DISTINCT o_orderstatus) =
                   (SELECT count(DISTINCT o_orderstatus) FROM orders)
        """,
        "a1_partial_final_agg": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                       AS sum_disc_price,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "a2_vocab": """
            SELECT token, count(*) AS count,
                   CAST(row_number() OVER (ORDER BY count(*) DESC, token)
                        + 4 AS INT) AS vocab_id
            FROM (SELECT unnest(string_split(trim(text), ' ')) AS token
                  FROM documents)
            WHERE token <> ''
            GROUP BY token
        """,
        "a3_class_counts": """
            SELECT o_orderpriority,
                   count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
                   count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
                   count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
            FROM orders GROUP BY o_orderpriority
        """,
        "a6_duplicate_detection": """
            SELECT md5(text) AS content_hash, count(*) AS n_dups,
                   min(doc_id) AS keep_doc_id
            FROM documents GROUP BY md5(text) HAVING count(*) > 1
        """,
        "a7_fold_packing": """
            WITH counts AS (
              SELECT o_custkey AS class, count(*) AS count
              FROM orders GROUP BY o_custkey
            ),
            ranked AS (
              SELECT class, count,
                     row_number() OVER (ORDER BY count DESC, class) AS rank,
                     count(*) OVER () AS n
              FROM counts
            )
            SELECT CAST((least(rank, n + 1 - rank) - 1) % 10 AS INT)
                       AS fold,
                   count(*) AS n_classes,
                   CAST(sum(count) AS BIGINT) AS n_examples
            FROM ranked GROUP BY 1
        """,
        "a9_first_per_group": """
            SELECT o_custkey, o_orderkey,
                   CAST(epoch(o_orderdate) AS BIGINT) AS first_order_epoch
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey) AS rn
                  FROM orders) WHERE rn = 1
        """,
        "w2_stratified_sample": """
            SELECT c_custkey, c_mktsegment
            FROM (SELECT c_custkey, c_mktsegment, row_number() OVER (
                      PARTITION BY c_mktsegment ORDER BY c_custkey) AS rn
                  FROM customer) WHERE rn <= 10
        """,
        "w4_class_balance": """
            WITH capped AS (
              SELECT * FROM (
                SELECT event_id, event_type,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY event_id) AS rn,
                       (SELECT min(n) FROM (
                           SELECT count(*) AS n FROM events
                           GROUP BY event_type)) AS cap
                FROM events)
              WHERE rn <= cap
            )
            SELECT event_type, count(*) AS n, min(event_id) AS first_id
            FROM capped GROUP BY event_type
        """,
        "w4_round_robin": """
            WITH dedup AS (
              SELECT event_id, event_type
              FROM (SELECT event_id, event_type,
                           row_number() OVER (PARTITION BY user_id
                                              ORDER BY event_id) AS dd
                    FROM events) WHERE dd = 1
            ),
            ord AS (
              SELECT event_id, event_type,
                     md5(CAST(event_id AS VARCHAR) || '#7') AS o
              FROM dedup
            ),
            rounds AS (
              SELECT *, row_number() OVER (PARTITION BY event_type
                                           ORDER BY o) AS rnd
              FROM ord
            )
            SELECT event_id, event_type
            FROM (SELECT *, row_number() OVER (
                      ORDER BY rnd, event_type, o) AS pick
                  FROM rounds) WHERE pick <= 200
        """,
        "w6_topk": """
            SELECT CAST(rank AS INT) AS rank, o_orderkey,
                   round(o_totalprice, 2) AS price
            FROM (SELECT o_orderkey, o_totalprice, row_number() OVER (
                      ORDER BY o_totalprice DESC, o_orderkey) AS rank
                  FROM orders) WHERE rank <= 100
        """,
        "so_setops": """
            WITH f_ids AS (SELECT DISTINCT o_custkey FROM orders
                           WHERE o_orderstatus = 'F'),
                 o_ids AS (SELECT DISTINCT o_custkey FROM orders
                           WHERE o_orderstatus = 'O')
            SELECT 'union' AS op, count(*) AS n FROM
                (SELECT o_custkey FROM f_ids UNION
                 SELECT o_custkey FROM o_ids)
            UNION ALL
            SELECT 'intersect' AS op, count(*) AS n FROM
                (SELECT o_custkey FROM f_ids INTERSECT
                 SELECT o_custkey FROM o_ids)
            UNION ALL
            SELECT 'except' AS op, count(*) AS n FROM
                (SELECT o_custkey FROM f_ids EXCEPT
                 SELECT o_custkey FROM o_ids)
        """,
        "x6_char_span": """
            SELECT doc_id,
                   CAST(strpos(text, 'spark') - 1 AS INT) AS start_index,
                   CAST(strpos(text, 'spark') - 1 + length('spark') AS INT)
                       AS end_index
            FROM documents WHERE strpos(text, 'spark') > 0
        """,
        "x13_unit_extract": """
            SELECT p_partkey,
                   string_split(p_type, ' ')[-1] AS unit_word,
                   trim(regexp_replace('+' || CAST(p_size AS VARCHAR),
                                       '^\\+', '') || ' mm')
                       AS quantity_value
            FROM part
        """,
        "evt_tumbling_window": """
            SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT)
                       AS window_start_epoch,
                   event_type, count(*) AS n_events,
                   round(sum(value), 2) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "dedup_exact": """
            SELECT doc_id, lang, source FROM documents
            WHERE doc_id IN (
              SELECT min(doc_id) FROM documents GROUP BY md5(text))
        """,
        "dedup_near_jaccard": """
            WITH toks AS (
              SELECT DISTINCT lang, source, doc_id,
                     unnest(list_distinct(string_split(text, ' '))) AS token
              FROM documents
            ),
            sizes AS (
              SELECT doc_id, count(*) AS n_toks FROM toks GROUP BY doc_id
            ),
            shared AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     count(*) AS inter
              FROM toks a JOIN toks b
                ON a.lang = b.lang AND a.source = b.source
               AND a.token = b.token AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT doc_a, doc_b,
                   round(CAST(inter AS DOUBLE) /
                         (sa.n_toks + sb.n_toks - inter), 6) AS jaccard
            FROM shared
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE CAST(inter AS DOUBLE) / (sa.n_toks + sb.n_toks - inter)
                  >= 0.8
        """,
        "txt_stats": f"""
            WITH tok AS (
              SELECT doc_id,
                     CAST(len(string_split(trim(text), ' ')) AS INT)
                         AS ws_tokens,
                     CAST(len(regexp_extract_all(text,
                         '[A-Za-z]+|[0-9]+|[^ A-Za-z0-9]')) AS INT)
                         AS bpeish_tokens,
                     CAST(length(text) AS INT) AS n_chars
              FROM documents
            ),
            q AS (
              WITH w AS (
                SELECT doc_id, text, string_split(trim(text), ' ') AS words
                FROM documents
              )
              SELECT doc_id,
                     CAST(len(words) AS INT) AS n_words,
                     round(CAST(len(list_distinct(words)) AS DOUBLE)
                           / len(words), 6) AS distinct_ratio,
                     round(CAST(len(list_filter(words, w -> w IN
                           ('the','a','of','and','in','to','is'))) AS DOUBLE)
                           / len(words), 6) AS stopword_ratio,
                     round(CAST(list_sum(list_transform(words,
                           w -> length(w))) AS DOUBLE) / len(words), 6)
                         AS mean_word_len,
                     round(CAST(length(regexp_replace(text, '[^\\.,;:!?]', '',
                           'g')) AS DOUBLE) / length(text), 6) AS punct_ratio
              FROM w
            ),
            fp AS (
              WITH w AS (
                SELECT doc_id, string_split(text, ' ') AS words
                FROM documents
              )
              SELECT doc_id,
                     min(md5(words[i+1] || ' ' || words[i+2] || ' ' ||
                             words[i+3])) AS fingerprint
              FROM w, unnest(generate_series(0,
                       greatest(len(words) - 3, 0))) AS t(i)
              GROUP BY doc_id
            )
            , rep AS (
              WITH w AS (
                SELECT doc_id, string_split(text, ' ') AS words
                FROM documents
              ), g AS (
                SELECT doc_id,
                       [words[i] || ' ' || words[i+1] || ' ' || words[i+2]
                        for i in generate_series(1, len(words) - 2)] AS sh
                FROM w
              )
              SELECT doc_id,
                     CASE WHEN len(sh) = 0 THEN 0.0
                          ELSE round(1 - CAST(len(list_distinct(sh)) AS
                               DOUBLE) / len(sh), 6) END AS rep3_ratio
              FROM g
            )
            SELECT doc_id, ws_tokens, bpeish_tokens, n_chars, n_words,
                   distinct_ratio, stopword_ratio, mean_word_len,
                   punct_ratio, fingerprint, rep3_ratio
            FROM tok JOIN q USING (doc_id) JOIN fp USING (doc_id)
                     JOIN rep USING (doc_id)
        """,
        "evt_sessionize": """
            WITH flagged AS (
              SELECT user_id, event_id, ts,
                     CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER
                              (PARTITION BY user_id
                               ORDER BY ts, event_id)) > 1800000000
                          OR lag(ts) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id) IS NULL
                          THEN 1 ELSE 0 END AS new_session
              FROM events
            ),
            sessions AS (
              SELECT user_id, ts,
                     CAST(sum(new_session) OVER (
                         PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
              FROM flagged
            )
            SELECT user_id, session_seq, count(*) AS n_events,
                   min(epoch_us(ts)) // 1000000 AS session_start_epoch,
                   max(epoch_us(ts)) // 1000000 AS session_end_epoch
            FROM sessions GROUP BY user_id, session_seq
        """,
        "evt_session_window": """
            WITH flagged AS (
              SELECT user_id, event_id, value, ts,
                     CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER
                              (PARTITION BY user_id
                               ORDER BY ts, event_id)) > 1800000000
                          OR lag(ts) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id) IS NULL
                          THEN 1 ELSE 0 END AS new_session
              FROM events
            ),
            sessions AS (
              SELECT user_id, value, ts,
                     sum(new_session) OVER (
                         PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS session_seq
              FROM flagged
            )
            SELECT user_id,
                   min(epoch_us(ts)) AS window_start_us,
                   max(epoch_us(ts)) + 1800000000 AS window_end_us,
                   count(*) AS n_events,
                   round(sum(value), 2) AS sum_value
            FROM sessions GROUP BY user_id, session_seq
        """,
        "kg_canonical_map": """
            WITH RECURSIVE
            toks AS (
              SELECT DISTINCT p_brand AS brand, unnest(string_split(p_name, ' ')) AS tok
              FROM part
            ),
            sized AS (
              SELECT brand, tok FROM (
                SELECT *, count(*) OVER (PARTITION BY tok) AS n FROM toks)
              WHERE n <= 1000
            ),
            edges AS (
              SELECT DISTINCT a.brand AS src, b.brand AS dst
              FROM sized a JOIN sized b ON a.tok = b.tok
              WHERE a.brand <> b.brand
            ),
            reach(node, lab) AS (
              SELECT DISTINCT brand, brand FROM toks
              UNION
              SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node
            )
            SELECT node AS brand, min(lab) AS canonical
            FROM reach GROUP BY node
        """,
        "a4_mean_context_len": """
            SELECT lang,
                   round(avg(len(string_split(trim(text), ' '))), 6)
                       AS mean_tokens
            FROM documents GROUP BY lang
        """,
        "a5_distinct_ids": """
            SELECT DISTINCT o_custkey FROM orders
        """,
        "j9_fold_lookup": """
            WITH counts AS (
              SELECT o_custkey AS class, count(*) AS count
              FROM orders GROUP BY o_custkey
            ),
            ranked AS (
              SELECT class, count,
                     row_number() OVER (ORDER BY count DESC, class) AS rank,
                     count(*) OVER () AS n
              FROM counts
            ),
            folds AS (
              SELECT class AS o_custkey,
                     CAST((least(rank, n + 1 - rank) - 1) % 10 AS INT)
                         AS fold
              FROM ranked
            )
            SELECT fold, count(*) AS n_orders
            FROM orders JOIN folds USING (o_custkey)
            GROUP BY fold
        """,
        "j11_oov_coverage": """
            WITH toks AS (
              SELECT DISTINCT unnest(string_split(trim(text), ' ')) AS token
              FROM documents
            ),
            vocab(token) AS (VALUES ('spark'), ('join'), ('table'),
                             ('data'), ('filter'), ('nonexistent-token'))
            SELECT (SELECT count(*) FROM toks) AS n_tokens,
                   (SELECT count(*) FROM toks
                    WHERE token IN (SELECT token FROM vocab)) AS n_covered,
                   round(CAST((SELECT count(*) FROM toks
                               WHERE token IN (SELECT token FROM vocab))
                              AS DOUBLE)
                         / (SELECT count(*) FROM toks), 6) AS coverage
        """,
        "w5_sequential_splits": """
            WITH ranked AS (
              SELECT c_custkey,
                     row_number() OVER (ORDER BY c_custkey) AS rn
              FROM customer
            ),
            assigned AS (
              SELECT c_custkey,
                     CASE WHEN rn <= 100 THEN 'test'
                          WHEN rn <= 300 THEN 'dev'
                          ELSE 'train' END AS split
              FROM ranked
            )
            SELECT split, count(*) AS n, min(c_custkey) AS min_id,
                   max(c_custkey) AS max_id
            FROM assigned GROUP BY split
        """,
        "x2_text_clean": """
            SELECT doc_id,
                   md5(regexp_replace(
                       regexp_replace(
                           regexp_replace(
                               regexp_replace(text,
                                   '(?s)\\s*===?\\s(See also|Notes|Further reading|External links)\\s===?.*$',
                                   ''),
                               '===?\\s[^=]+\\s===?\\n?', '', 'g'),
                           '\\[[0-9]+\\]', '', 'g'),
                       '\\n{3,}', chr(10) || chr(10), 'g')) AS clean_hash
            FROM documents
        """,
        "x14_template_fill": """
            SELECT p_partkey, template_id,
                   replace(template, 'XXX', p_name) AS question
            FROM part CROSS JOIN (VALUES
                ('t1', 'Where is XXX made?'),
                ('t2', 'Who sells XXX?')) AS t(template_id, template)
        """,
        "x20_sublist_locations": """
            WITH w AS (SELECT doc_id, string_split(text, ' ') AS words
                       FROM documents)
            SELECT doc_id, CAST(i AS INT) AS match_start
            FROM w, unnest(generate_series(0, len(words) - 2)) AS t(i)
            WHERE words[i + 1] = 'join' AND words[i + 2] = 'order'
        """,
        "ann_topk_cosine": """
            WITH q AS (SELECT vec_id AS query_id,
                              CAST(embedding AS DOUBLE[]) AS qv
                       FROM embeddings WHERE vec_id < 8),
                 c AS (SELECT vec_id AS neighbor_id,
                              CAST(embedding AS DOUBLE[]) AS cv
                       FROM embeddings)
            SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank
            FROM (SELECT query_id, neighbor_id, row_number() OVER (
                      PARTITION BY query_id
                      ORDER BY list_cosine_similarity(qv, cv) DESC,
                               neighbor_id) AS rank
                  FROM q, c WHERE neighbor_id <> query_id)
            WHERE rank <= 5
        """,
        "dedup_embedding": """
            WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                       FROM embeddings)
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   round(list_cosine_similarity(a.e, b.e), 6) AS cosine
            FROM v a JOIN v b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.e, b.e) >= 0.5
        """,
        # generated oracles — constants shared with the operator modules
        "dedup_minhash_lsh": _minhash_lsh_oracle_sql(),
        "ann_topk_lsh": _ann_lsh_oracle_sql(),
        "ann_topk_ivf": _ann_ivf_oracle_sql(),
        "txt_langid": _langid_oracle_sql(),
        "txt_hygiene": _txt_hygiene_oracle_sql(),
        "evt_asof_join": EVT_ASOF_SQL,
        "seq_packing": SEQ_PACKING_SQL,
        "tfidf_topterms": TFIDF_SQL,
        "tbl_profile": TBL_PROFILE_SQL,
        "kg_triangles": KG_TRIANGLES_SQL,
        "w7_weighted_sample": W7_WEIGHTED_SAMPLE_SQL,
        "doc_chunks": DOC_CHUNKS_SQL,
        "doc_quantiles": DOC_QUANTILES_SQL,
    }
