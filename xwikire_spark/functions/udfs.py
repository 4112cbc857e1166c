"""Vectorized pandas UDFs wrapping the pure kernels.

Design rules (BASELINE.json input_hint: "no per-row Python"):
- every UDF here is Arrow-batched (`pandas_udf`) — rows cross the
  JVM<->Python boundary in columnar batches, not one at a time;
- dictionary matching (mention/predicate detection) compiles its
  automaton once per executor task from the broadcast dictionary, then
  reuses it across all Arrow batches — the Spark analog of the reference's
  process-lifetime ``_prop_cache`` (src/builders/MergedWikis.py:28,37-41);
  the compiler lives here, the fused kernel that runs it in
  ``pipeline.extraction``;
- heavy outputs are struct/array columns so downstream stays relational
  (posexplode, joins) instead of Python.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from xwikire_spark.kernels.dates import format_date
from xwikire_spark.kernels.segmenter import segment_sentences
from xwikire_spark.kernels.templates import fill_template
from xwikire_spark.kernels.tokenizer import tokenize_with_breaks

# ---------------------------------------------------------------------------
# Tokenization with break levels (X8): text -> struct<tokens, breaks>.
# Reference: sling-style contract (src/tokenizers/sling_tokenizer.py:8-13).
# ---------------------------------------------------------------------------

TOKENS_SCHEMA = StructType(
    [
        StructField("tokens", ArrayType(StringType())),
        StructField("breaks", ArrayType(IntegerType())),
    ]
)


@F.pandas_udf(TOKENS_SCHEMA)
def tokenize_udf(texts: pd.Series) -> pd.DataFrame:
    toks, brks = [], []
    for t in texts:
        tk, bk = tokenize_with_breaks(t or "")
        toks.append(tk)
        brks.append(bk)
    return pd.DataFrame({"tokens": toks, "breaks": brks})


# ---------------------------------------------------------------------------
# Dictionary mention detection (X4 generalized): longest whole-word match of
# any dictionary surface, all occurrences, left to right.
# The reference scans one entity label + one value per fact
# (src/builders/QA.py:76-84); entity linking over transcripts needs the
# full-dictionary variant. Alternation sorted by length desc gives
# leftmost-longest: at equal start offsets the longer surface is listed
# first, and finditer consumes the match (no overlaps). The automaton is
# compiled inside extraction's fused candidate generator.
# ---------------------------------------------------------------------------


def longest_first_surfaces(pairs: list[tuple[str, str]]) -> list[str]:
    """Distinct non-empty surfaces of (surface, id) pairs, longest first
    so a regex alternation over them is leftmost-longest. Ties break by
    the surface itself: the pattern text (and any plan embedding it) is
    then the same in every process, whatever the hash seed."""
    return sorted({s for s, _ in pairs if s}, key=lambda s: (-len(s), s))


def _compile_dictionary(surfaces: list[tuple[str, str]]):
    """Build (regex, surface -> [ids]) from (surface, id) pairs. Longest
    surface first so alternation is leftmost-longest. Case-sensitive like
    the reference's matching (src/builders/QA.py:78-81). A surface mapping
    to several ids (alias collision) emits one mention per id."""
    by_len = longest_first_surfaces(surfaces)
    if not by_len:
        return None, {}
    pattern = re.compile(
        r"\b(?:" + "|".join(re.escape(s) for s in by_len) + r")\b"
    )
    ids: dict[str, list[str]] = {}
    for s, i in surfaces:
        bucket = ids.setdefault(s, [])
        if i not in bucket:
            bucket.append(i)
    return pattern, ids


def unwrap_broadcast(surfaces):
    """(surface, id) pairs, from a plain list OR a pyspark Broadcast."""
    return surfaces.value if hasattr(surfaces, "value") else surfaces


# ---------------------------------------------------------------------------
# Segmentation fused with word-run offsets: text -> one struct per sentence
# carrying its unicode \w+ runs with 0-based char starts. Dictionary-FREE
# (nothing in the closure) — the tokenization half of the join-based
# mention path for dictionaries too large to broadcast; the dictionary side
# stays a DataFrame and meets these tokens in a shuffle equi-join
# (extraction.extract_triples_join). Two chained pandas UDFs would cost two
# Arrow round-trips and re-serialize every sentence into the second UDF
# (guide §4: you control how many columns cross and how often). One UDF,
# one Python stage.
# ---------------------------------------------------------------------------

_WORD_RUN = re.compile(r"\w+", re.UNICODE)

SENT_WORDS_SCHEMA = ArrayType(
    StructType(
        [
            StructField("sentence", StringType()),
            StructField(
                "ws",
                ArrayType(
                    StructType(
                        [
                            StructField("tok", StringType()),
                            StructField("pos", IntegerType()),
                        ]
                    )
                ),
            ),
        ]
    )
)

segment_word_offsets_udf = F.pandas_udf(
    lambda s: s.map(
        lambda t: [
            {
                "sentence": sent,
                "ws": [
                    {"tok": m.group(), "pos": m.start()}
                    for m in _WORD_RUN.finditer(sent)
                ],
            }
            for sent in segment_sentences(t or "")
        ]
    ),
    SENT_WORDS_SCHEMA,
)


# ---------------------------------------------------------------------------
# Date formatting (X11) and template filling (X14): plain scalar pandas
# UDFs over the pure kernels.
# ---------------------------------------------------------------------------


def make_format_date_udf(lang: str = "en"):
    @F.pandas_udf(StringType())
    def date_udf(raw_time: pd.Series, precision: pd.Series) -> pd.Series:
        return pd.Series(
            [
                format_date(t or "", int(p) if pd.notna(p) else 9, lang)
                for t, p in zip(raw_time, precision)
            ]
        )

    return date_udf


def make_fill_template_udf(lang: str = "en"):
    @F.pandas_udf(StringType())
    def template_udf(
        template: pd.Series, entity: pd.Series, article: pd.Series
    ) -> pd.Series:
        return pd.Series(
            [
                fill_template(t or "", e or "", lang=lang, article=a or "")
                for t, e, a in zip(template, entity, article)
            ]
        )

    return template_udf
