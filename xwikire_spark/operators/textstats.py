"""Text analysis operators: token counts, quality scoring, language id,
document fingerprinting. All JVM-side except language id (pandas UDF over
n-gram profiles).

Reference analogs: context_size.py (mean token count, A4), vocabs.py
(frequency vocab, A2); the rest are the training-data-pipeline extensions
the 100 TB corpus needs.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

STOPWORDS = ["the", "a", "of", "and", "in", "to", "is"]

# BPE-ish token estimate: letter runs, digit runs, or single symbols —
# approximates subword counts without a tokenizer model. ASCII-literal class
# (no \d/\s escapes) so the same pattern string survives Spark SQL literal
# parsing and DuckDB regexps identically.
BPEISH_PATTERN = "[A-Za-z]+|[0-9]+|[^ A-Za-z0-9]"


def token_count_cols(text_col: str = "text") -> list:
    """The token-count features as named Columns — composable into a single
    projection alongside the other per-document stats (one scan, no joins:
    a stats pass over 100 TB must not read the corpus once per feature
    family)."""
    return [
        F.size(F.split(F.trim(F.col(text_col)), r"\s+")).alias("ws_tokens"),
        F.size(
            F.expr(f"regexp_extract_all({text_col}, '{BPEISH_PATTERN}', 0)")
        ).alias("bpeish_tokens"),
        F.length(F.col(text_col)).alias("n_chars"),
    ]


def quality_score_cols(text_col: str = "text") -> list:
    """Quality features as named Columns (see token_count_cols)."""
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size(words)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(words, lambda w: F.array_contains(stop_arr, w)))
    total_wlen = F.aggregate(
        words, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    n_punct = F.length(F.regexp_replace(F.col(text_col), r"[^\.,;:!?]", ""))
    return [
        n.alias("n_words"),
        F.round(F.size(F.array_distinct(words)) / n, 6).alias(
            "distinct_ratio"
        ),
        F.round(n_stop / n, 6).alias("stopword_ratio"),
        F.round(total_wlen / n, 6).alias("mean_word_len"),
        F.round(n_punct / F.length(F.col(text_col)), 6).alias("punct_ratio"),
    ]


def fingerprint_col(text_col: str = "text", k: int = 3):
    """min-md5-shingle fingerprint as a named Column."""
    from xwikire_spark.operators.dedup import _shingles

    return F.array_min(
        F.transform(_shingles(text_col, k), lambda s: F.md5(s))
    ).alias("fingerprint")


def repetition_col(text_col: str = "text", k: int = 3):
    """Within-document repetition as a named Column: the duplicated
    fraction of k-word shingles (Gopher-style duplicate-n-gram quality
    signal; 0 = no shingle repeats, ->1 = the document loops). Pure JVM
    expressions; docs shorter than k words score 0."""
    from xwikire_spark.operators.dedup import _shingles

    sh = _shingles(text_col, k)
    return F.when(F.size(sh) == 0, F.lit(0.0)).otherwise(
        F.round(1 - F.size(F.array_distinct(sh)) / F.size(sh), 6)
    ).alias(f"rep{k}_ratio")


# --- PII / URL scrubbing: the pre-training hygiene pass -------------------

# ASCII-literal classes only (no \d/\w escapes) so the identical pattern
# strings work in Spark's JVM regex, Spark SQL literals, and DuckDB.
URL_PATTERN = "https?://[-A-Za-z0-9._~:/?#@!$&*+,;=%]+"
# [.] instead of \. : Spark SQL string literals eat backslash escapes, so
# the same pattern string must not rely on them
EMAIL_PATTERN = (
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+([.][A-Za-z0-9-]+)*[.][A-Za-z][A-Za-z]+"
)


def scrub_pii(
    docs: DataFrame,
    text_col: str = "text",
    url_token: str = "<URL>",
    email_token: str = "<EMAIL>",
) -> DataFrame:
    """Redact URLs and email addresses and count what was removed — the
    standard hygiene pass before a corpus becomes training data.

    Adds to every row: ``n_urls``, ``n_emails`` (match counts on the raw
    text) and replaces ``text_col`` with the redacted text (URLs first so
    an address inside a URL query-string counts once, as part of the URL).
    Pure JVM expressions — no shuffle, scales as a map.
    Dedup note: run exact/minhash dedup AFTER scrubbing so documents
    differing only in tracking URLs or contact lines collapse.

    Regex-pass budget (r7, guide §2.3 "touch each byte once"): the naive
    one-projection form ran the URL pattern over every byte THREE times
    (count, inside the email-count chain, final replace). The generate
    barrier below materializes the URL-redacted text once, so both email
    expressions read it as a plain attribute: 2 URL passes + 2 EMAIL
    passes total, with the count passes as ``regexp_count`` (no matched-
    substring array is built). ``regexp_count(x, p)`` ==
    ``size(regexp_extract_all(x, p, 0))`` for never-empty-match patterns
    (both count the same non-overlapping find() iteration; null in, null
    out) — output bit-identical to the previous form.
    """
    col = F.col(text_col)
    others = [c for c in docs.columns if c != text_col]
    # the intermediate struct column must not shadow an input column
    # (Spark resolves names case-insensitively by default)
    taken = {c.lower() for c in docs.columns}
    tmp = "__s1"
    while tmp in taken:
        tmp = "_" + tmp
    s1 = docs.select(
        *others,
        F.explode(
            F.array(
                F.struct(
                    F.regexp_count(col, F.lit(URL_PATTERN)).alias("nu"),
                    F.regexp_replace(col, URL_PATTERN, url_token).alias(
                        "u"
                    ),
                )
            )
        ).alias(tmp),
    )
    return s1.select(
        *others,
        F.col(f"{tmp}.nu").alias("n_urls"),
        F.regexp_count(F.col(f"{tmp}.u"), F.lit(EMAIL_PATTERN)).alias(
            "n_emails"
        ),
        F.regexp_replace(
            F.col(f"{tmp}.u"), EMAIL_PATTERN, email_token
        ).alias(text_col),
    )


def document_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """ALL per-document stats (token counts + quality + fingerprint) in ONE
    projection: one corpus scan, zero joins/shuffles — the plan a stats
    sweep over 100 TB needs (joining the three per-doc frames instead
    costs three scans and two sort-merge shuffles of the whole corpus)."""
    return docs.select(
        "doc_id",
        *token_count_cols(text_col),
        *quality_score_cols(text_col),
        fingerprint_col(text_col),
        repetition_col(text_col),
    )


# --- language id: character-n-gram profiles, vectorized pandas UDF --------

# TRAINED char-trigram profiles (r3 next-round #3 closed): 64 distinctive
# trigrams per language, learned from the pinned generated corpus in
# kernels/langid_corpus.py (Cavnar-Trenkle-style top-N selection, kept
# distinctive across languages). Held-out accuracy is gated at >= 0.95 on
# 600 pinned snippets with DISJOINT content vocabulary
# (tests/test_kernels.py::TestLangId). Deterministic: the corpus is
# seed-pinned, so every worker trains the identical profile in ~ms at
# import; the DuckDB oracle SQL is generated from the same dict.
from xwikire_spark.kernels.langid_corpus import train_profiles

_LANG_PROFILES = train_profiles()


def langid_score(text: str, lang: str) -> int:
    """Integer marker score: total matched characters (occurrences x marker
    length). Integer on purpose — the DuckDB oracle reproduces it exactly
    ((length(t) - length(replace(t, m, ''))) is the same quantity), which a
    sqrt-weighted float score would not survive cross-engine."""
    return sum(text.count(m) * len(m) for m in _LANG_PROFILES[lang])


def make_langid_udf():
    """text -> predicted language code (pandas UDF; trigram hit scoring
    with marker-length weights; deterministic ties by lang code, 'und'
    when no marker hits).

    Fully vectorized (r3 nit closed): per-marker ``Series.str.count`` over
    the whole Arrow batch instead of a Python loop per row — idxmax over
    the sorted-lang column order reproduces the pure scorer's
    strictly-greater tie rule exactly (first max in lang-code order)."""

    @F.pandas_udf(StringType())
    def langid(texts: pd.Series) -> pd.Series:
        import re

        t = texts.fillna("").str.lower()
        langs = sorted(_LANG_PROFILES)
        scores = pd.DataFrame(
            {
                lang: sum(
                    (t.str.count(re.escape(m), flags=0) * len(m)
                     for m in _LANG_PROFILES[lang]),
                    start=pd.Series(0, index=t.index),
                )
                for lang in langs
            }
        )
        pred = scores.idxmax(axis=1).where(scores.max(axis=1) > 0, "und")
        return pred.astype(str)

    return langid


def language_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    return docs.select(
        "doc_id", make_langid_udf()(F.col(text_col)).alias("pred_lang")
    )
