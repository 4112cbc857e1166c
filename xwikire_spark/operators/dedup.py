"""Deduplication operators over a document table (doc_id, text).

Scale design:
- exact dedup is one hash-aggregate (map-side partial combine, no Python);
- MinHash + LSH: signatures are computed JVM-side from shingle hashes via
  higher-order functions (no UDF); banding turns candidate generation into
  an equi-join on (band, band_hash) — the shuffle is proportional to
  bucket collisions, never O(n²);
- n-gram Jaccard verification runs only on LSH candidates (or within
  explicit small groups), never across the full corpus.

The reference's only dedup is a per-doc `seen` set over sentence sha1s
(src/builders/SRL.py:47-65) — generalized here to corpus scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def exact_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Groups of byte-identical documents (A6/A10 analog).
    Output: content_hash, n_dups, keep_doc_id (min id = canonical)."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .where(F.col("n_dups") > 1)
    )


def dedup_exact(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Keep one row (min doc_id) per distinct text."""
    w_min = (
        docs.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(F.min("doc_id").alias("doc_id"))
    )
    return docs.join(w_min, "doc_id", "left_semi")


def _shingles(text_col: str, k: int = 3):
    """k-word shingles as a column expression (JVM-side, no UDF).

    Built by zipping k shifted copies of the token array — k ``split``
    evaluations per document total. The index-transform alternative
    (element_at(words, i+j) per offset) makes Catalyst inline the split
    into every element access: O(words²) work per document (measured 3.5 s
    for 5k docs vs ~0.5 s for this shape)."""
    words = F.split(F.col(text_col), " ")
    zipped = words
    for j in range(1, k):
        shifted = F.slice(
            F.split(F.col(text_col), " "),
            j + 1,
            F.greatest(F.size(words) - j, F.lit(0)).cast("int"),
        )
        zipped = F.zip_with(
            zipped, shifted, lambda a, b: F.concat_ws(" ", a, b)
        )
    # zip_with pads to the longer side: drop the trailing partial shingles
    n = F.greatest(F.size(words) - (k - 1), F.lit(0)).cast("int")
    return F.slice(zipped, 1, n)


def _hash_sql(i: int) -> str:
    """SQL for the i-th hash of the MinHash family over the base hashes
    h1, h2 (see ``minhash_signatures``)."""
    if i < 2:
        return f"h{i + 1}"
    rot = (i * 13) % 63 + 1  # coprime stride -> distinct rotations
    return (
        f"h1 ^ (shiftleft(h2, {rot}) | shiftrightunsigned(h2, {64 - rot}))"
    )


def minhash_signatures(
    docs: DataFrame, text_col: str = "text", n_hashes: int = 32, k: int = 3
) -> DataFrame:
    """(doc_id, sig: array<long>) — min over shingle hashes per seed.

    Hash family: xxhash64(shingle, seed_i) — deterministic across runs.
    Shape: explode shingles once, hash each shingle n_hashes ways in the
    same projection, then ONE hash-aggregate of n_hashes mins (partial
    combine map-side). This deliberately avoids array_min-over-transform
    per seed, which makes Catalyst re-inline the shingle construction into
    every seed expression (measured 30x slower). Empty docs are dropped.

    The hash and min expressions here, and the band, pair and Jaccard
    expressions after them, are SQL strings: built from Column objects,
    they cost thousands of driver round trips to the JVM per call before
    the first job runs.
    """
    # explode the shingle expression itself: over a projected shingle
    # column, Catalyst infers a size(shingles) > 0 filter that builds the
    # shingles a second time
    exploded = docs.select(
        "doc_id", F.explode(_shingles(text_col, k)).alias("shingle")
    )
    # Kirsch-Mitzenmacher-style family: TWO real hashes per shingle, the
    # other n_hashes-2 derived by overflow-free bit mixing (h1 XOR rotl(h2,
    # i)) — ANSI mode forbids the classic h1 + i*h2 (long overflow), and 32
    # xxhash64 evaluations per shingle measured ~3x the whole stage cost.
    base = exploded.selectExpr(
        "doc_id", "xxhash64(shingle, 1) AS h1", "xxhash64(shingle, 2) AS h2"
    )
    hashed = base.selectExpr(
        "doc_id", *[f"{_hash_sql(i)} AS h{i}" for i in range(n_hashes)]
    )
    mins = ", ".join(f"min(h{i})" for i in range(n_hashes))
    return hashed.groupBy("doc_id").agg(F.expr(f"array({mins}) AS sig"))


def _banded(signatures: DataFrame, n_bands: int) -> DataFrame:
    """(doc_id, band, band_hash) — one row per signature band: each band
    is the xxhash64 of its slice of the MinHash signature, so two docs
    share a (band, band_hash) bucket exactly when they agree on that
    slice. `lsh_candidate_pairs` self-joins on it."""
    rows = f"(size(sig) / {n_bands})"
    band_hash = (
        f"b -> xxhash64(concat_ws(',', slice(sig, CAST(b * {rows} + 1 AS INT),"
        f" CAST({rows} AS INT))))"
    )
    return signatures.selectExpr(
        "doc_id",
        f"posexplode(transform(sequence(0, {n_bands - 1}), {band_hash}))"
        " AS (band, band_hash)",
    )


def lsh_candidate_pairs(
    signatures: DataFrame, n_bands: int = 8, max_bucket: int = 200
) -> DataFrame:
    """Band the signature and join docs sharing any band bucket.
    Output: doc_a < doc_b candidate pairs (distinct).

    ``max_bucket``: buckets larger than this are dropped before the
    self-join — a bucket shared by thousands of docs is non-discriminative
    (boilerplate shingles) and its pair blowup is quadratic; real near-dups
    collide on *specific* buckets too. This is the standard stop-bucket
    guard; at web scale it is the difference between a bounded join and a
    quadratic one on the hottest bucket.
    """
    # r7 shape (guide §2.4): ONE hash aggregate per bucket + in-row pair
    # expansion replaces the window-count + bucket self-join chain (the
    # window sorted every bucket partition, then the join re-probed it
    # and emitted each pair as a join row). Memory note: a bucket's
    # doc_id list lives in one aggregation buffer until the size filter
    # drops it — the same rows the old window buffered to sort, so the
    # hot-bucket exposure is unchanged and still bounded by the
    # max_bucket stop guard dropping oversized buckets before any pair
    # is generated.
    buckets = (
        _banded(signatures, n_bands)
        .groupBy("band", "band_hash")
        .agg(F.expr("array_sort(collect_list(doc_id)) AS ids"))
        .where(f"size(ids) <= {int(max_bucket)}")
    )
    return buckets.selectExpr(
        "inline(flatten(transform(ids, (x, i) -> transform("
        "slice(ids, i + 2, size(ids)),"
        " y -> named_struct('doc_a', x, 'doc_b', y)))))"
    ).distinct()


def jaccard_verify(
    docs: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    threshold: float = 0.8,
    shingle_k: int | None = None,
) -> DataFrame:
    """Exact set-Jaccard on candidate pairs only. With ``shingle_k`` the
    sets are k-word shingles — the SAME universe MinHash signatures hash
    over, so verification is consistent with candidate generation (token
    sets would accept pairs the signatures never modeled, and vice versa).
    Output: doc_a, doc_b, jaccard (>= threshold, rounded to 6)."""
    elems = (
        _shingles(text_col, shingle_k)
        if shingle_k
        else F.split(F.col(text_col), " ")
    )
    toks = docs.select("doc_id", F.array_distinct(elems).alias("toks"))
    j = (
        pairs.join(toks.toDF("doc_a", "toks_a"), "doc_a")
        .join(toks.toDF("doc_b", "toks_b"), "doc_b")
        .selectExpr(
            "doc_a", "doc_b", "toks_a", "toks_b",
            "size(array_intersect(toks_a, toks_b)) AS inter",
        )
        .selectExpr(
            "doc_a", "doc_b",
            "inter / (size(toks_a) + size(toks_b) - inter) AS jaccard",
        )
    )
    return j.where(F.col("jaccard") >= threshold).selectExpr(
        "doc_a", "doc_b", "round(jaccard, 6) AS jaccard"
    )


def near_duplicates_minhash(
    docs: DataFrame,
    text_col: str = "text",
    n_hashes: int = 32,
    n_bands: int = 8,
    threshold: float = 0.8,
    k: int = 3,
) -> DataFrame:
    """MinHash-LSH near-dup pipeline: signatures -> banded candidates ->
    exact shingle-Jaccard verify (the same k-shingle universe the
    signatures estimate). The canonical web-corpus dedup shape; because
    the verify step is exact, output precision is 1.0 by construction.

    Pipeline-order contract: run EXACT dedup first (dedup_exact).
    Identical-copy floods are the one way a true-duplicate bucket can
    exceed the max_bucket stop guard; with exact copies already collapsed,
    the guard only ever drops non-discriminative boilerplate buckets and
    near-dup recall follows the banding bound."""
    sigs = minhash_signatures(docs, text_col, n_hashes, k=k)
    cands = lsh_candidate_pairs(sigs, n_bands)
    return jaccard_verify(docs, cands, text_col, threshold, shingle_k=k)


def ngram_jaccard_pairs_within_groups(
    docs: DataFrame,
    group_cols: list[str],
    text_col: str = "text",
    threshold: float = 0.6,
    max_token_df: int | None = None,
) -> DataFrame:
    """Exact token-set Jaccard for all pairs within small groups — the
    SQL-checkable near-dup variant (inverted-index join on tokens, shared
    counts, then Jaccard). Only safe when groups are small; use
    ``near_duplicates_minhash`` for corpus-wide dedup.
    Output: doc_a, doc_b, jaccard.

    ``max_token_df`` (opt-in, default None = exact): (group, token)
    postings larger than this are dropped from the shared-evidence index
    before the self-join — the same stop-bucket guard as
    lsh_candidate_pairs' ``max_bucket``. A token present in d docs of one
    group contributes d² join rows; the cap bounds one hot (lang, source)
    group with a stopword-like token from turning the operator quadratic.
    Consequence when set (documented, like minhash recall): pairs whose
    overlap relied on capped tokens have their intersection — hence
    jaccard — underestimated, so exactness holds only while no group's
    token df exceeds the cap; n_a/n_b denominators are computed before the
    cap and stay exact. The default is None so exactness is never lost
    silently — callers running hot-group corpora opt in explicitly."""
    # r7 shape (guide §2.3/§2.4; before/after in plans/r07/
    # dedup_near_jaccard_*.txt): the old inverted-index self-join emitted
    # one row per (pair, shared token) — ~300M intermediate rows at sf1
    # (16.7M in-group pairs x ~18 shared tokens) feeding a pair-count
    # aggregate shuffle. Since a doc's distinct-token set rides one array
    # cell, the intersection size is computable PER PAIR in-stream
    # (array_intersect inside the join stage): the token-level join and
    # the giant aggregate disappear; the only shuffles left are the
    # group-key exchange of 50k set rows (reused on both join sides) and
    # nothing else. Same pair set, same jaccard values: |A ∩ B| via
    # array_intersect == the old per-token row count, and the inter >= 1
    # guard reproduces "pairs sharing at least one (uncapped) token".
    base = docs.select(
        *group_cols,
        "doc_id",
        F.array_distinct(F.split(F.col(text_col), " ")).alias("__tokset"),
    ).withColumn("__n", F.size("__tokset"))
    if max_token_df is not None:
        toks = base.select(
            *group_cols, "doc_id", "__n",
            F.explode("__tokset").alias("token"),
        )
        guarded = (
            toks.withColumn(
                "token_df",
                F.count(F.lit(1)).over(
                    Window.partitionBy(*group_cols, "token")
                ),
            )
            .where(F.col("token_df") <= max_token_df)
            .drop("token_df")
        )
        sets = guarded.groupBy(*group_cols, "doc_id", "__n").agg(
            F.collect_list("token").alias("__tokset")
        )
    else:
        sets = base
    a = sets.alias("a")
    b = sets.alias("b")
    inter = F.size(
        F.array_intersect(F.col("a.__tokset"), F.col("b.__tokset"))
    )
    # exact LENGTH FILTER before the intersection: jaccard <= min(n)/max(n)
    # (inter <= min and union >= max), so a pair whose size ratio is
    # strictly below the threshold can never qualify and skips the
    # set-intersection entirely. Compared in exact integer arithmetic
    # over the rational the threshold literal denotes (min*den >=
    # num*max), so the boundary ratio == threshold is KEPT — no
    # floating-point false negatives.
    from fractions import Fraction

    _t = Fraction(str(float(threshold)))
    len_ok = (
        F.least(F.col("a.__n"), F.col("b.__n")) * F.lit(_t.denominator)
        >= F.lit(_t.numerator)
        * F.greatest(F.col("a.__n"), F.col("b.__n"))
    )
    # generate barrier: materialize the intersection size once per pair
    # (naive select+filter lets projection collapse re-inline the
    # array_intersect into the threshold filter)
    g = (
        a.join(b, group_cols)
        .where((F.col("a.doc_id") < F.col("b.doc_id")) & len_ok)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.__n").alias("n_a"),
            F.col("b.__n").alias("n_b"),
            F.explode(F.array(inter)).alias("inter"),
        )
    )
    jaccard = F.col("inter") / (
        F.col("n_a") + F.col("n_b") - F.col("inter")
    )
    return (
        g.where((F.col("inter") > 0) & (jaccard >= threshold))
        .select("doc_a", "doc_b", F.round(jaccard, 6).alias("jaccard"))
    )


def _probe_shingles(
    probes: DataFrame, probe_text_col: str, k: int, broadcast_probes: bool
):
    probe_sh = probes.select(
        F.explode(_shingles(probe_text_col, k)).alias("shingle")
    ).distinct()
    return F.broadcast(probe_sh) if broadcast_probes else probe_sh


def contamination_hits(
    docs: DataFrame,
    probes: DataFrame,
    k: int = 8,
    text_col: str = "text",
    probe_text_col: str = "text",
    broadcast_probes: bool = True,
) -> DataFrame:
    """Shared building block for the contamination family: per hit doc,
    ``(doc_id, n_contaminated_shingles, example_shingle, hit_pos)`` where
    ``hit_pos`` is the set of 0-based word positions starting a matched
    k-shingle.

    Plan shape (the 100 TB point): posexplode -> (broadcast) equi-join
    FIRST — the join filters the corpus's shingle stream down to actual
    hits before anything shuffles, so the one hash-aggregate exchange
    carries only matched occurrences (benchmark overlap, tiny) instead of
    every shingle in the corpus. Distinct-counting happens INSIDE the
    aggregate (count_distinct), not as a pre-join ``.distinct()`` — an
    earlier version deduped (doc_id, shingle) before joining, which
    shuffled the entire corpus's shingle set to save nothing.

    ``n_contaminated_shingles`` counts DISTINCT shared shingles: a doc
    looping one contaminated 8-gram five times scores 1, not 5
    (repetitive text must not outrank docs genuinely sharing more
    benchmark content).

    ``decontaminate`` derives from this frame; a caller needing several hygiene outputs in one action
    (e.g. a tagged union) should build them all from ONE
    ``contamination_hits`` result — the branches then share an identical
    aggregate subtree and Spark's ReuseExchange serves them from a single
    shuffle write.
    """
    probe_sh = _probe_shingles(probes, probe_text_col, k, broadcast_probes)
    hits = docs.select(
        "doc_id",
        F.posexplode(_shingles(text_col, k)).alias("pos", "shingle"),
    ).join(probe_sh, "shingle")
    return hits.groupBy("doc_id").agg(
        F.count_distinct("shingle").alias("n_contaminated_shingles"),
        F.min("shingle").alias("example_shingle"),
        F.collect_set("pos").alias("hit_pos"),
    )


def excise_plan_exprs(text_col: str, hit_pos_col: str, k: int):
    """Stage-1 column expressions ``(words, gap_starts, gap_ends)`` for
    span excision (VERDICT r4 #2): the hit positions are sorted and merged
    into disjoint covered intervals [p, p+k-1] via shifted zip_with (a run
    starts where the previous hit is > k away, ends symmetrically), then
    inverted into the UNCOVERED word-index gaps. All O(hits log hits)
    array expressions; NULL hit list = one gap spanning the whole text.

    Callers MUST materialize the three arrays behind a Generate barrier
    (explode(array(struct(...)))) and build the kept text with
    ``excise_kept_expr`` over the materialized attributes. The previous
    single-expression shape ran a per-word exists() over the hit list —
    O(words x hits), quadratic on a fully-contaminated document (every
    word a hit start) — and slicing gaps directly here would re-inline
    the split() per gap lambda element (the documented Catalyst trap);
    attributes behind a Generate are evaluated once, so stage 2 is
    O(words + gaps)."""
    words = F.split(F.col(text_col), " ")
    hp = F.col(hit_pos_col)
    sorted_ = F.sort_array(hp)
    n = F.size(sorted_)
    tail_len = F.greatest(n - 1, F.lit(0)).cast("int")
    big = F.lit(1 << 30)
    # previous/next hit per position (sentinels at the ends); a hit s
    # STARTS a merged run iff prev < s - k (intervals [p, p+k-1] and
    # [s, s+k-1] stay disjoint iff s > p + k), ENDS one symmetrically
    prevs = F.concat(F.array(-big), F.slice(sorted_, 1, tail_len))
    nexts = F.concat(F.slice(sorted_, 2, tail_len), F.array(big))
    run_starts = F.filter(
        F.zip_with(
            sorted_, prevs, lambda s, p: F.when(s > p + F.lit(k), s)
        ),
        lambda x: x.isNotNull(),
    )
    run_ends = F.filter(
        F.zip_with(
            sorted_,
            nexts,
            lambda s, nx: F.when(nx > s + F.lit(k), s + F.lit(k - 1)),
        ),
        lambda x: x.isNotNull(),
    )
    # gaps = the complement of the merged runs over [0, n_words-1]
    # (degenerate gaps like [0, -1] slice to empty downstream)
    gap_starts = F.concat(
        F.array(F.lit(0)), F.transform(run_ends, lambda e: e + 1)
    )
    gap_ends = F.concat(
        F.transform(run_starts, lambda s: s - 1),
        F.array(F.size(words) - 1),
    )
    full = F.array(F.lit(0)), F.array(F.size(words) - 1)
    gs = F.when(hp.isNull(), full[0]).otherwise(gap_starts)
    ge = F.when(hp.isNull(), full[1]).otherwise(gap_ends)
    return words, gs, ge


def excise_kept_expr(words_col: str, gs_col: str, ge_col: str):
    """Stage-2 kept-words array from the barrier-materialized
    (words, gap_starts, gap_ends) attributes: slice each uncovered gap
    out of the word array and flatten — each word is copied at most once,
    so the whole excision is O(words + gaps) per document."""
    return F.flatten(
        F.zip_with(
            F.col(gs_col),
            F.col(ge_col),
            lambda a, b: F.slice(
                F.col(words_col),
                (a + 1).cast("int"),
                F.greatest(b - a + 1, F.lit(0)).cast("int"),
            ),
        )
    )


def decontaminate(
    docs: DataFrame,
    probes: DataFrame,
    k: int = 8,
    mode: str = "drop",
    text_col: str = "text",
    probe_text_col: str = "text",
    broadcast_probes: bool = True,
    hits: DataFrame | None = None,
) -> DataFrame:
    """The removal side of ``contamination_hits`` — the operator real
    pipelines run daily: given a benchmark/probe set, produce the scrubbed
    corpus.

    ``mode="drop"``: remove every document sharing any k-word shingle with
    the probes (left-anti join against the distinct hit doc_ids; schema
    unchanged). The strict choice — a contaminated doc may hold benchmark
    answers outside the matched span too.

    ``mode="excise"``: keep the document but cut the contaminated spans:
    every word participating in ANY matched k-shingle is removed and the
    text rebuilt with single spaces (token-level excision; overlapping
    matches merge naturally via index coverage). Adds
    ``n_removed_words``. Word-index coverage runs as JVM array expressions
    — the per-doc hit-position list is small (bounded by the probe set),
    so the exists() scan per word is O(words x hits) with tiny hits.

    Observability: metrics ride ``df.observe`` (named
    ``decontaminate`` — docs_kept + words_removed), so a 100 TB run gets
    its audit counters from the same single pass that writes the scrubbed
    corpus, not a second scan. Read them from a QueryExecutionListener or
    ``Observation`` object downstream.

    Scale shape: identical to contamination_hits — corpus explodes
    linearly, distinct probe shingles broadcast, never pairwise. Pass a
    precomputed ``hits`` (from ``contamination_hits``) to share its
    shuffle with sibling branches in the same action.
    """
    if mode not in ("drop", "excise"):
        raise ValueError(f"mode must be 'drop' or 'excise', got {mode!r}")
    if hits is None:
        hits = contamination_hits(
            docs, probes, k, text_col, probe_text_col, broadcast_probes
        )

    if mode == "drop":
        out = docs.join(
            hits.select("doc_id"), "doc_id", "left_anti"
        )
        return out.observe(
            "decontaminate",
            F.count(F.lit(1)).alias("docs_kept"),
            F.lit(0).alias("words_removed"),
        )

    # excise: matched shingle START positions per doc (0-based) -> merged
    # disjoint covered intervals -> slice out the uncovered gaps
    hit_pos = hits.select("doc_id", "hit_pos")
    words, gs, ge = excise_plan_exprs(text_col, "hit_pos", k)
    other_cols = [c for c in docs.columns if c != text_col]
    # Generate barrier: materialize words + gap bounds ONCE per row — the
    # stage-2 slicing lambda then reads attributes, so Catalyst can't
    # re-inline the split()/merge chain per gap (the round-1/2
    # projection-collapse trap)
    g = docs.join(hit_pos, "doc_id", "left").select(
        *other_cols,
        F.col(text_col).isNull().alias("_null_text"),
        F.explode(
            F.array(
                F.struct(
                    words.alias("w"), gs.alias("gs"), ge.alias("ge")
                )
            )
        ).alias("r"),
    )
    # second barrier: kept is referenced twice below (text + count)
    g2 = g.select(
        *other_cols,
        "_null_text",
        F.explode(
            F.array(
                F.struct(
                    excise_kept_expr("r.w", "r.gs", "r.ge").alias("kept"),
                    F.size("r.w").alias("n0"),
                )
            )
        ).alias("r"),
    )
    out = g2.select(
        *other_cols,
        F.when(F.col("_null_text"), F.lit(None).cast("string"))
        .otherwise(F.concat_ws(" ", F.col("r.kept")))
        .alias(text_col),
        F.coalesce(
            (F.col("r.n0") - F.size("r.kept")).cast("int"), F.lit(0)
        ).alias("n_removed_words"),
    )
    return out.observe(
        "decontaminate",
        F.count(F.lit(1)).alias("docs_kept"),
        F.sum("n_removed_words").alias("words_removed"),
    )
