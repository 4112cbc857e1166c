"""Whole-word distant-supervision matching and token-span search.

Re-implements the matching semantics of the reference:

- whole-word co-occurrence: ``re.search("\\b"+re.escape(x)+"\\b", sentence)``
  for entity label and fact value (reference src/builders/QA.py:76-84), plus
  an alternation group over relation surfaces returning the *matched* surface
  (src/builders/SRL.py:93-103);
- first-match-wins sentence selection: the first sentence in document order
  satisfying all templates (src/builders/QA.py:80-84);
- contiguous token sub-sequence search ``find_full_matches``
  (src/builders/SRL.py:113-121, src/utils/utils.py:13-20).
"""

from __future__ import annotations

import re
from functools import lru_cache


def whole_word_pattern(surface: str) -> str:
    """``\\b``-anchored escaped pattern (src/builders/QA.py:78-79)."""
    return r"\b" + re.escape(surface) + r"\b"


@lru_cache(maxsize=65536)
def _compiled(surface: str) -> re.Pattern:
    return re.compile(whole_word_pattern(surface))


def distant_supervision(
    answer: str, entity: str, sentences: list[str]
) -> str | None:
    """First sentence containing both ``entity`` and ``answer`` as whole
    words, else None (src/builders/QA.py:76-84)."""
    e = _compiled(entity)
    a = _compiled(answer)
    for sentence in sentences:
        if e.search(sentence) and a.search(sentence):
            return sentence
    return None


def distant_supervision_with_relation(
    answer: str, entity: str, relations: list[str], sentences: list[str]
) -> tuple[str, str] | None:
    """First sentence containing entity + answer + any relation surface;
    returns (sentence, matched_relation_surface) (src/builders/SRL.py:93-103).
    The relation alternation preserves list order, so ties resolve to the
    earliest *position* in the sentence, first listed surface on equal
    position — same as re alternation in the reference."""
    e = _compiled(entity)
    a = _compiled(answer)
    r = re.compile(
        "(?P<relation>"
        + "|".join(whole_word_pattern(rel) for rel in relations)
        + ")"
    )
    for sentence in sentences:
        rel_match = r.search(sentence)
        if rel_match and e.search(sentence) and a.search(sentence):
            return sentence, rel_match.group("relation")
    return None


def find_full_matches(sequence: list[str], sublist: list[str]) -> list[list[int]]:
    """All contiguous occurrences of ``sublist`` in ``sequence`` as index
    ranges (src/builders/SRL.py:113-121)."""
    if not sublist:
        return []
    results: list[list[int]] = []
    sll = len(sublist)
    first = sublist[0]
    for ind, e in enumerate(sequence):
        if e == first and sequence[ind : ind + sll] == sublist:
            results.append(list(range(ind, ind + sll)))
    return results


def find_matches(sequence: list[str], answer: list[str]) -> list[int]:
    """Indices of tokens that appear anywhere in ``answer``
    (src/builders/WikiReading.py:76-78)."""
    elements = set(answer)
    return [i for i, v in enumerate(sequence) if v in elements]


def flatten_locations(locations: list[list[int]]) -> tuple[list[int], list[int]]:
    """Flatten span lists and record intra-span break offsets
    (src/builders/SRL.py:190-201 — SRLExporter._get_locations)."""
    pos = [x for span in locations for x in span]
    breaks: list[int] = []
    if len(locations) > 1:
        i = 0
        for location in locations[:-1]:
            size = len(location)
            breaks.append(size + i)
            i += size
    return pos, breaks
