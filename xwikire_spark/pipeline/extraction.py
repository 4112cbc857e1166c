"""Distant-supervision triple extraction over conversation transcripts.

Reference semantics being reproduced (SURVEY §3.1, §3.2):
- sentence segmentation per document        (src/builders/QA.py:34)
- whole-word co-occurrence in ONE sentence  (src/builders/QA.py:76-84)
- relation surface must also occur          (src/builders/SRL.py:93-103)
- first qualifying sentence wins            (src/builders/QA.py:80-84)
- triple id = sha1("subj pid obj")          (src/universal_schema.py:12-14)

Transcript mapping (BASELINE.json north_star): conv_id plays the article-id
role, turns play sentences/paragraphs; the *subject* is the earliest entity
mention in the sentence (the reference's subject is the page entity — a
transcript has no page entity, so document order decides, keeping the
first-match determinism the reference gets from iteration order).

Scale notes (100 TB plan):
- transcripts are repartitioned by hash(conv_id) once, up front; every
  subsequent per-conversation operation (windows, dedup) reuses that
  partitioning — one shuffle for the whole pipeline;
- alias/predicate dictionaries are broadcast (the reference's _prop_cache,
  src/builders/MergedWikis.py:28) — mention resolution never shuffles the
  fact table;
- the dedup window partitions by (conv_id, subj, pred, obj) — same hash
  family as the repartition, so AQE coalesces instead of reshuffling;
- hot entities skew only the *canonicalization* join, handled there with
  salting + AQE skew-join (see canonicalize.py).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from xwikire_spark.functions.ids import triple_id
from xwikire_spark.functions.udfs import longest_first_surfaces


def _alias_surface_ids(alias_dict: DataFrame) -> list[tuple[str, str]]:
    """(alias, entity_id) pairs — collisions preserved (one pair per id).
    The dictionary is collected once with Arrow and deduplicated on the
    driver (a Spark ``distinct`` would add a shuffle job)."""
    t = alias_dict.select("alias", "entity_id").toArrow()
    pairs = zip(*(t.column(c).to_pylist() for c in ("alias", "entity_id")))
    return [p for p in dict.fromkeys(pairs) if p[0]]


def _predicate_surface_ids(predicate_dict: DataFrame) -> list[tuple[str, str]]:
    """(surface, pid) pairs over label + aliases (src/builders/SRL.py:36-39)."""
    rows = predicate_dict.select("pid", "label", "aliases").collect()
    out: list[tuple[str, str]] = []
    for r in rows:
        if r["label"]:
            out.append((r["label"], r["pid"]))
        for a in r["aliases"] or []:
            out.append((a, r["pid"]))
    return out


def _bc(df: DataFrame, pairs: list[tuple[str, str]]):
    """Ship dictionary pairs via SparkContext.broadcast: one torrent
    transfer per executor instead of a pickle in every task closure."""
    return df.sparkSession.sparkContext.broadcast(pairs)


CANDIDATE_SCHEMA = (
    "conv_id string, turn_idx int, sent_idx int, sentence string, "
    "subj string, subj_surface string, pid string, p_surface string, "
    "obj string, obj_surface string, obj_start int"
)


def make_candidate_generator(alias_pairs, pred_pairs):
    """Fused mapInPandas kernel: segment + both dictionary automatons +
    candidate emission in ONE Python pass per Arrow batch.

    Why fused: three chained pandas UDFs (segment, mentions, predicates)
    cost three Arrow round-trips and nested array<struct> construction —
    measured ~5x the raw kernel time. This generator runs the same pure
    kernels once per sentence and emits flat candidate columns; everything
    relational (first-evidence dedup, ids) stays in Spark.

    Semantics (identical to the oracle): earliest mention = subject, ties by
    entity id (src/builders/QA.py:80-84 first-match determinism); earliest
    predicate surface, ties by pid; every other-entity mention is an object.

    ``alias_pairs`` / ``pred_pairs`` may be plain lists or
    ``SparkContext.broadcast`` handles (preferred — one ship per executor).
    """
    from xwikire_spark.functions.udfs import (
        _compile_dictionary,
        unwrap_broadcast,
    )

    def generate(batches):
        import pandas as pd

        from xwikire_spark.kernels.segmenter import segment_sentences

        ap, aids = _compile_dictionary(unwrap_broadcast(alias_pairs))
        pp, pids = _compile_dictionary(unwrap_broadcast(pred_pairs))
        cols = ("conv_id", "turn_idx", "sent_idx", "sentence", "subj",
                "subj_surface", "pid", "p_surface", "obj", "obj_surface",
                "obj_start")
        for pdf in batches:
            # batch-local first-evidence dedup: min_by is associative, so
            # keeping only each key's batch winner is safe and cuts the
            # shuffled candidate volume roughly in half; Spark's min_by
            # aggregate finishes the cross-batch/cross-partition merge.
            best: dict = {}
            for conv, turn, text in zip(
                pdf["conv_id"].values, pdf["turn_idx"].values,
                pdf["text"].values,
            ):
                text = (text or "").strip()
                if not text or ap is None or pp is None:
                    continue
                for sent_idx, sent in enumerate(segment_sentences(text)):
                    ms = [
                        (m.start(), i, m.group())
                        for m in ap.finditer(sent)
                        for i in aids[m.group()]
                    ]
                    if len(ms) < 2:
                        continue
                    ps = [
                        (m.start(), i, m.group())
                        for m in pp.finditer(sent)
                        for i in pids[m.group()]
                    ]
                    if not ps:
                        continue
                    _, subj, subj_surface = min(ms)
                    _, pid, p_surface = min(ps)
                    for o_start, obj, obj_surface in ms:
                        if obj == subj:
                            continue
                        key = (conv, subj, pid, obj)
                        order = (turn, sent_idx, o_start)
                        prev = best.get(key)
                        if prev is None or order < prev[0]:
                            best[key] = (
                                order,
                                (conv, turn, sent_idx, sent, subj,
                                 subj_surface, pid, p_surface, obj,
                                 obj_surface, o_start),
                            )
            rows = [v[1] for v in best.values()]
            # column-wise construction: pandas' row-tuple path is ~5x slower
            data = list(zip(*rows)) if rows else [[] for _ in cols]
            yield pd.DataFrame(dict(zip(cols, data)))

    return generate


def _first_evidence(cands: DataFrame) -> DataFrame:
    """Candidate rows (CANDIDATE_SCHEMA) -> one evidence triple per
    (conv_id, subj, pid, obj): first-evidence dedup as a min_by hash
    aggregate (partial combine map-side) — not a row_number sort window;
    the shuffle carries one row per key per map partition."""
    first = cands.groupBy("conv_id", "subj", "pid", "obj").agg(
        F.min_by(
            F.struct(
                "turn_idx", "sent_idx", "sentence",
                "subj_surface", "p_surface", "obj_surface",
            ),
            F.struct("turn_idx", "sent_idx", "obj_start"),
        ).alias("ev")
    )
    return first.select(
        triple_id("subj", "pid", "obj").alias("id"),
        F.col("subj"),
        F.col("pid").alias("pred"),
        F.col("obj"),
        "conv_id",
        F.col("ev.turn_idx").alias("turn_idx"),
        F.col("ev.sent_idx").alias("sent_idx"),
        F.col("ev.sentence").alias("evidence"),
        F.col("ev.subj_surface").alias("subj_surface"),
        F.col("ev.p_surface").alias("pred_surface"),
        F.col("ev.obj_surface").alias("obj_surface"),
    )


# ---------------------------------------------------------------------------
# JVM rlike prefilter: for dictionaries small enough to live in the plan, a
# whole-stage-codegen necessary-condition filter drops candidate-free turns
# before the Arrow hop, so they never reach a Python worker. Python regex
# semantics stay the spec: the filter may only let too much through.
# ---------------------------------------------------------------------------

# Characters on which Java (?U) regex and Python's re disagree — texts
# containing ANY of these bypass the prefilter and are always judged by the
# Python kernel (Python semantics are the spec: they are what the
# reference's \\b-regex distant supervision does):
# 1. whitespace: Python \\s / str.strip() treat 0x1C-0x1F as whitespace
#    (Unicode White_Space does not) — so any whitespace beyond
#    {space, newline} is out.
# 2. word chars: Java (?U)\\w includes combining marks (Mn/Mc/Me — e.g.
#    Kannada vowel signs), non-underscore connector punctuation (Pc) and
#    ZWJ/ZWNJ; Python \\w instead includes No numerics (like superscripts
#    and vulgar fractions). \\b sits on \\w transitions, so any such char
#    shifts match boundaries (caught live: the Kannada alias ends in a
#    vowel sign, so Java matched it before "." where Python does not).
_EXOTIC_WS = (
    "\t\x0b\x0c\r\x1c\x1d\x1e\x1f\x85\xa0\u1680"
    + "".join(chr(c) for c in range(0x2000, 0x200B))
    + "\u2028\u2029\u202f\u205f\u3000"
)
_JVM_INELIGIBLE_PATTERN = (
    "["
    + _EXOTIC_WS
    + "\u200c\u200d"
    + r"\p{Mn}\p{Mc}\p{Me}\p{No}[\p{Pc}&&[^_]]"
    + "]"
)

# Cap on distinct dictionary surfaces for the prefilter: beyond this the
# regex alternation literal bloats the plan (the IVF-centroid lesson:
# literals are a plan-size bomb at scale) and a backtracking alternation
# scan degrades anyway — larger dictionaries send every turn to the kernel.
JVM_MAX_SURFACES = 1000


def jvm_eligible() -> Column:
    """Rows a Java (?U) regex judges with bit-exact Python parity."""
    return ~F.col("text").rlike(_JVM_INELIGIBLE_PATTERN)


def _java_dict_pattern(pairs: list[tuple[str, str]]) -> str | None:
    """The Java twin of udfs._compile_dictionary's regex: same
    longest-first alternation (leftmost-longest with finditer-consumption
    semantics in both engines), (?U) so \\b is unicode-aware like Python."""
    by_len = longest_first_surfaces(pairs)
    if not by_len:
        return None
    return r"(?U)\b(?:" + "|".join(re.escape(s) for s in by_len) + r")\b"


def extract_triples(
    transcripts: DataFrame,
    alias_dict: DataFrame,
    predicate_dict: DataFrame,
    n_partitions: int | None = None,
    dict_strategy: str = "broadcast",
) -> DataFrame:
    """The flagship query: transcripts -> (subj, pred, obj) evidence triples.

    Semantics: within one sentence, the earliest entity mention is the
    subject; every other mention with a different entity_id is an object;
    the earliest predicate surface is the relation. Exactly one evidence
    sentence per (conv_id, subj, pred, obj) — the first in
    (turn_idx, sent_idx, m_start) order (X5 first-match parity).

    ``dict_strategy`` — where the dictionaries live:
    - "broadcast" (default): dictionaries collect to the driver once and
      ship to executors via SparkContext.broadcast; one fused mapInPandas
      does segmentation + both automatons + candidate emission (the
      reference's whole property dictionary is a process dict,
      src/builders/MergedWikis.py:28).
    - "join": dictionaries NEVER leave the cluster — sentence word-runs
      meet the dictionary's first tokens in a shuffle equi-join
      (extract_triples_join), candidates assemble relationally. Right for
      transcript-scale alias dictionaries (10^8+ surfaces) where a
      broadcast would OOM the executors; only the caller knows the alias
      table is cluster-sized, so it is never chosen automatically.

    The broadcast path puts a JVM-side ``rlike`` prefilter in front of the
    kernel when both dictionaries are non-empty and have at most
    ``JVM_MAX_SURFACES`` distinct surfaces. It drops turns containing no
    alias surface or no predicate surface BEFORE they reach Python. A
    candidate sentence needs >=1 alias and >=1 predicate surface (>=2
    post-expansion mentions can come from one collision surface),
    sentences are substrings of the turn, and segmentation only
    splits/trims — so a turn failing the turn-level test cannot yield a
    candidate. Texts outside jvm_eligible() bypass the filter, so a Java
    \\b miss can never drop a Python \\b match. Effect: the mapInPandas
    kernel sees only candidate-bearing turns (~25% of rows on the bench
    corpus).

    Both strategies, with the prefilter on or off, produce value-identical
    results (tests/test_pipeline.py strategy-equivalence tests).
    """
    if dict_strategy not in ("broadcast", "join"):
        raise ValueError(
            "dict_strategy must be 'broadcast' or 'join', "
            f"got {dict_strategy!r}"
        )
    if n_partitions:
        # explicit repartition by conv hash (north_rule); downstream
        # aggregations reuse this hash family.
        transcripts = transcripts.repartition(n_partitions, F.col("conv_id"))

    if dict_strategy == "join":
        return extract_triples_join(transcripts, alias_dict, predicate_dict)

    alias_pairs = _alias_surface_ids(alias_dict)
    pred_pairs = _predicate_surface_ids(predicate_dict)
    n_surfaces = max(
        len({s for s, _ in alias_pairs}), len({s for s, _ in pred_pairs})
    )

    # SINGLE Python pass (fused mapInPandas): segmentation + both automatons
    # + candidate emission. Chained per-column UDFs cost 3 Arrow round-trips
    # and re-execute in each DAG branch — measured 3-5x the kernel cost.
    gen = make_candidate_generator(
        _bc(transcripts, alias_pairs), _bc(transcripts, pred_pairs)
    )
    narrow = transcripts.select("conv_id", "turn_idx", "text")
    apat = _java_dict_pattern(alias_pairs)
    ppat = _java_dict_pattern(pred_pairs)
    if n_surfaces <= JVM_MAX_SURFACES and apat and ppat:
        # JVM pre-filter: a turn with no alias surface or no predicate
        # surface cannot produce a candidate (necessary condition — see the
        # docstring); regex-divergent texts bypass it so the decision is
        # always made with Python-parity semantics. This runs in
        # whole-stage codegen before the Arrow hop, so ~75% of turns never
        # cross into Python at all.
        keep = ~jvm_eligible() | (
            F.col("text").rlike(apat) & F.col("text").rlike(ppat)
        )
        narrow = narrow.where(keep)
    return _first_evidence(narrow.mapInPandas(gen, CANDIDATE_SCHEMA))


# ---------------------------------------------------------------------------
# Join-based mention path: for dictionaries too large to broadcast.
# ---------------------------------------------------------------------------

_MATCH_STRUCT = (
    "struct<start:int,neg_len:int,entity_id:string,surface:string,end:int>"
)


def _greedy_kept(ms_col: Column) -> Column:
    """Greedy leftmost-longest fold over a SORTED match-struct array —
    the regex automaton's finditer-consumption semantics (an earlier
    longer match consumes the text under it; same-span alias collisions
    all emit) as an aggregate fold over each sentence's match list in
    extract_triples_join."""
    acc0 = F.struct(
        F.lit(-1).alias("last_start"),
        F.lit(0).alias("cur_end"),
        F.array().cast(f"array<{_MATCH_STRUCT}>").alias("kept"),
    )

    def step(acc, x):
        take = (x["start"] >= acc["cur_end"]) | (
            (x["start"] == acc["last_start"]) & (x["end"] == acc["cur_end"])
        )
        return F.when(
            take,
            F.struct(
                x["start"].alias("last_start"),
                x["end"].alias("cur_end"),
                F.array_append(acc["kept"], x).alias("kept"),
            ),
        ).otherwise(acc)

    return F.aggregate(ms_col, acc0, step)["kept"]


def _predicate_pairs_df(predicate_dict: DataFrame) -> DataFrame:
    """(alias, entity_id=pid) rows over label + aliases — the DataFrame
    twin of _predicate_surface_ids, never collected."""
    lab = predicate_dict.select(
        F.col("label").alias("alias"), F.col("pid").alias("entity_id")
    )
    ali = predicate_dict.select(
        F.explode(F.coalesce("aliases", F.array())).alias("alias"),
        F.col("pid").alias("entity_id"),
    )
    return lab.unionByName(ali)


def extract_triples_join(
    transcripts: DataFrame,
    alias_dict: DataFrame,
    predicate_dict: DataFrame,
) -> DataFrame:
    """extract_triples' "join" strategy: same semantics, dictionaries stay
    distributed.

    Mention matching, relational after a dictionary-free tokenizer UDF:
    sentence word-runs (unicode \\w+ with char offsets) meet each alias's
    first word-run in a shuffle equi-join; the full surface is verified by
    substring equality at the offset plus a word-boundary check after it
    (word-run starts are boundaries by construction); then a sorted
    per-sentence match list is folded greedily leftmost-longest
    (``_greedy_kept``). Contract: aliases start and end with word
    characters; matching is case-sensitive like the broadcast path.

    Plan shape (engineered — see tests/test_plans.py): BOTH dictionaries
    union into one tagged table, so tokenization + the dictionary join run
    ONCE (a naive mentions/predicates split re-evaluates the Python
    tokenizer subtree per branch — measured 6 ArrowEval stages / 9
    exchanges).

    r7 optimization (guide §4.1 + §2.4, before/after plans in
    plans/r07/kg_triples_joinpath_*.txt): segmentation + word-run offsets
    run as ONE fused pandas UDF (was two chained ArrowEval stages — every
    sentence crossed the Arrow boundary twice), and the per-sentence
    subject/predicate selection folds into the SAME aggregate that
    collects the match lists (one sorted list per dictionary tag, greedy
    fold per tag) — the separate min-over-window pass, whose extra
    Exchange + sort carried every match row a second time, is gone.
    Value-identical: the per-tag sorted collect_list is exactly the
    per-(sentence, tag) list the old groupBy built, the fold is the same
    ``_greedy_kept``, and the old window-min over (m_start, entity_id,
    surface) equals element 1 of the folded list (entries are sorted by
    (start, neg_len, id, ...) and distinct starts — same-span collisions
    excepted, where both orders tie-break by entity_id)."""
    from xwikire_spark.functions.udfs import segment_word_offsets_udf

    ks = ["conv_id", "turn_idx", "sent_idx"]
    # (A keys-only token shuffle + a sentence attach-back join was
    # prototyped here — guide §8 "shuffle metadata, not payloads" — but
    # column pruning diverges the two consumers' subtrees below any
    # shared exchange, so the Python stage runs twice; measured net-worse
    # than one sentence-carrying shuffle. See OPTIMIZATION_r07.md.)
    sentences = (
        transcripts.where(F.length(F.trim(F.col("text"))) > 0)
        .select(
            "conv_id",
            "turn_idx",
            F.posexplode(segment_word_offsets_udf(F.col("text"))).alias(
                "sent_idx", "s"
            ),
        )
        .select(
            "conv_id",
            "turn_idx",
            "sent_idx",
            F.col("s.sentence").alias("sentence"),
            F.col("s.ws").alias("ws"),
        )
    )
    toks = sentences.select(
        *ks, "sentence", F.explode("ws").alias("w")
    ).select(
        *ks, "sentence",
        F.col("w.tok").alias("tok"), F.col("w.pos").alias("pos"),
    )

    tagged = alias_dict.select(
        "alias", "entity_id", F.lit("E").alias("tag")
    ).unionByName(
        _predicate_pairs_df(predicate_dict).select(
            "alias", "entity_id", F.lit("P").alias("tag")
        )
    )
    # Dictionary hygiene, ENFORCED in the plan (ADVICE r2): an alias must
    # start and end with a word character (regex \b parity). A violating
    # alias (e.g. '-foo') would otherwise be keyed on its first interior
    # word-run and then silently never pass substring verification —
    # dropping recall with no signal — so it is excluded here, visibly.
    contract = F.col("alias").rlike(r"(?Us)^\w(.*\w)?$")
    dic = (
        tagged.where(F.col("alias").isNotNull() & contract)
        .distinct()
        .withColumn("tok", F.regexp_extract("alias", r"(?U)\w+", 0))
        .where(F.col("tok") != "")
    )

    # r7: pin the join to SHUFFLED HASH with the dictionary as build side.
    # Catalyst's size estimate below the Python stage is garbage, and at
    # bench scale it chose BuildLeft — broadcasting the 3M-row tokenized
    # CORPUS (the whole ArrowEval chain collected through the driver) and
    # streaming the dictionary. The hint keeps the operator's contract
    # (the dictionary never leaves the cluster — it meets the tokens in a
    # shuffle, the honest at-scale shape) while building the per-partition
    # hash from the side that is bounded per partition.
    cand = toks.join(dic.hint("shuffle_hash"), "tok")
    after = F.substring(
        F.col("sentence"), F.col("pos") + F.length("alias") + 1, 1
    )
    verified = cand.where(
        (
            F.substring(F.col("sentence"), F.col("pos") + 1, F.length("alias"))
            == F.col("alias")
        )
        & ~F.coalesce(F.regexp_like(after, F.lit(r"(?U)\w")), F.lit(False))
    )
    mstruct = F.struct(
        F.col("pos").cast("int").alias("start"),
        (-F.length("alias")).cast("int").alias("neg_len"),
        F.col("entity_id").alias("entity_id"),
        F.col("alias").alias("surface"),
        (F.col("pos") + F.length("alias")).cast("int").alias("end"),
    )
    m = verified.select(*ks, "sentence", "tag", mstruct.alias("m"))
    grouped = m.groupBy(*ks, "sentence").agg(
        F.sort_array(
            F.collect_list(F.when(F.col("tag") == "E", F.col("m")))
        ).alias("ms_e"),
        F.sort_array(
            F.collect_list(F.when(F.col("tag") == "P", F.col("m")))
        ).alias("ms_p"),
    )
    # Generate barrier: fold each tag's list ONCE (downstream references
    # ke twice — subject pick + object explode — and projection collapse
    # would re-inline the aggregate fold per reference)
    g = grouped.select(
        *ks,
        "sentence",
        F.explode(
            F.array(
                F.struct(
                    _greedy_kept(F.col("ms_e")).alias("ke"),
                    _greedy_kept(F.col("ms_p")).alias("kp"),
                )
            )
        ).alias("r"),
    )
    sb = F.element_at(F.col("r.ke"), 1)
    pb = F.element_at(F.col("r.kp"), 1)
    cands = (
        g.where((F.size("r.ke") >= 1) & (F.size("r.kp") >= 1))
        .select(
            *ks,
            "sentence",
            sb["entity_id"].alias("subj"),
            sb["surface"].alias("subj_surface"),
            pb["entity_id"].alias("pid"),
            pb["surface"].alias("p_surface"),
            F.explode("r.ke").alias("k"),
        )
        .where(F.col("k.entity_id") != F.col("subj"))
        .select(
            *ks,
            "sentence",
            "subj",
            "subj_surface",
            "pid",
            "p_surface",
            F.col("k.entity_id").alias("obj"),
            F.col("k.surface").alias("obj_surface"),
            F.col("k.start").alias("obj_start"),
        )
    )
    return _first_evidence(cands)


def pair_mentions_in_window(
    mentions: DataFrame, max_turn_distance: int = 2
) -> DataFrame:
    """Conversation-window mention pairing (north_star: "aligning linked
    mention pairs within conversation windows").

    Pairs distinct entities whose mentions occur within
    ``max_turn_distance`` turns of each other in the same conversation.
    Implemented as a bucketed range join: each mention lands in bucket
    ``turn_idx / (d+1)`` and joins its own and the adjacent bucket only —
    a self-join on (conv_id, bucket) with a |Δturn| predicate, instead of a
    full per-conversation cross join. Scale: buckets keep the join fan-out
    O(mentions_per_window²), independent of conversation length.
    """
    d = max_turn_distance
    m = mentions.select(
        "conv_id", "turn_idx", "entity_id",
        (F.col("turn_idx") / (d + 1)).cast("long").alias("bucket"),
    ).dropDuplicates(["conv_id", "turn_idx", "entity_id"])

    in_range = (F.col("b.turn_idx") - F.col("a.turn_idx")).between(0, d)
    canonical_order = (F.col("b.turn_idx") > F.col("a.turn_idx")) | (
        (F.col("b.turn_idx") == F.col("a.turn_idx"))
        & (F.col("a.entity_id") < F.col("b.entity_id"))
    )
    distinct_entities = F.col("a.entity_id") != F.col("b.entity_id")

    pairs = None
    for shift in (0, 1):  # partner is in my bucket or the next one
        right = m.withColumn("bucket", F.col("bucket") - shift).alias("b")
        p = (
            m.alias("a")
            .join(right, ["conv_id", "bucket"])
            .where(in_range & canonical_order & distinct_entities)
            .select(
                "conv_id",
                F.col("a.entity_id").alias("entity_a"),
                F.col("b.entity_id").alias("entity_b"),
                F.col("a.turn_idx").alias("turn_a"),
                F.col("b.turn_idx").alias("turn_b"),
            )
        )
        pairs = p if pairs is None else pairs.unionByName(p)
    return pairs.dropDuplicates(
        ["conv_id", "entity_a", "entity_b", "turn_a", "turn_b"]
    )
