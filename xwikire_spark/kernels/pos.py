"""Deterministic rule-based POS tagging (X10 stand-in).

The reference tags with ``nltk.pos_tag`` (src/builders/WikiReading.py:12,
src/builders/SRL.py:20,50-53) — a trained model, not shippable here and not
deterministic across versions. Downstream only needs the VB* distinction
for the relation-verb filter (F7, src/srl.py:61-68: tags in
{VB, VBD, VBG, VBN, VBP, VBZ}); this tagger gets verbs right by lexicon +
suffix heuristics and is a pure function, so tests are stable. In
production, swap for a broadcast model inside the same pandas UDF.
"""

from __future__ import annotations

# common English verb lemmas (enough for the fixtures + synthetic corpus)
_VERB_LEMMAS = {
    "be", "is", "are", "was", "were", "been", "being", "am",
    "have", "has", "had", "do", "does", "did",
    "say", "said", "make", "made", "go", "went", "gone",
    "work", "works", "worked", "live", "lives", "lived",
    "move", "moves", "moved", "marry", "marries", "married",
    "bear", "born", "die", "dies", "died", "join", "joins", "joined",
    "reside", "resides", "resided", "visit", "visits", "visited",
    "found", "founded", "know", "knew", "known", "pass", "passed",
    "come", "came", "appear", "appears", "appeared", "mention",
    "mentioned", "contain", "contains", "contained", "locate", "located",
    "situate", "situated", "employ", "employed", "write", "wrote",
    "written",
}

_DETERMINERS = {"the", "a", "an", "this", "that", "these", "those"}
_PREPOSITIONS = {"in", "on", "at", "of", "to", "from", "by", "with", "for",
                 "near", "into", "across", "within"}
_PRONOUNS = {"he", "she", "it", "they", "we", "i", "you", "him", "her",
             "them", "us", "me"}
_CONJUNCTIONS = {"and", "or", "but", "nor", "so", "yet"}


def pos_tag(tokens: list[str]) -> list[str]:
    """Token sequence -> tag sequence (same length)."""
    tags: list[str] = []
    for tok in tokens:
        low = tok.lower()
        if not tok:
            tags.append("NN")
        elif all(not c.isalnum() for c in tok):
            tags.append(".")
        elif tok[0].isdigit():
            tags.append("CD")
        elif low in _DETERMINERS:
            tags.append("DT")
        elif low in _PREPOSITIONS:
            tags.append("IN")
        elif low in _PRONOUNS:
            tags.append("PRP")
        elif low in _CONJUNCTIONS:
            tags.append("CC")
        elif low in _VERB_LEMMAS:
            if low.endswith("ing"):
                tags.append("VBG")
            elif low.endswith("ed") or low in {"was", "were", "went", "said",
                                               "made", "knew", "wrote",
                                               "came", "born", "gone",
                                               "been", "had", "did"}:
                tags.append("VBD")
            elif low.endswith("s") and low not in {"is", "was", "does",
                                                   "has"}:
                tags.append("VBZ")
            elif low in {"is", "has", "does", "resides", "lives", "works"}:
                tags.append("VBZ")
            else:
                tags.append("VB")
        elif low.endswith("ing") and len(low) > 4:
            tags.append("VBG")
        elif low.endswith("ed") and len(low) > 3:
            tags.append("VBD")
        elif tok[0].isupper():
            tags.append("NNP")
        else:
            tags.append("NN")
    return tags


VERB_TAGS = {"VB", "VBD", "VBG", "VBN", "VBP", "VBZ"}

# --- trained tagger (X10 parity path) ---------------------------------------

_PERCEPTRON_MODEL: dict | None = None


def perceptron_model() -> dict:
    """The embedded-corpus averaged-perceptron model, trained once per
    process (deterministic: pinned corpora + seeded shuffle + seeded
    grammar). Training data = the 60 hand-tagged sentences plus 2000
    grammar-generated ones (kernels/pos_corpus.py) — held-out accuracy
    0.95+ on 400 pinned sentences with disjoint content vocabulary
    (tests/test_kernels.py::TestPerceptronCorpus). Driver-side callers
    broadcast this dict into the tagging kernel; executor-side lazy
    training yields the identical model."""
    global _PERCEPTRON_MODEL
    if _PERCEPTRON_MODEL is None:
        from xwikire_spark.kernels.perceptron import train_tagger
        from xwikire_spark.kernels.pos_corpus import generate_corpus
        from xwikire_spark.kernels.pos_data import TRAIN_CORPUS

        _PERCEPTRON_MODEL = train_tagger(
            TRAIN_CORPUS + generate_corpus(2000)
        )
    return _PERCEPTRON_MODEL


def contains_verb(tags: list[str], start: int, end: int) -> bool:
    """Any VB* tag within [start, end) — the relation-verb test
    (src/srl.py:61-68, src/builders/SRL.py:180-188)."""
    return any(t in VERB_TAGS for t in tags[start:end])
