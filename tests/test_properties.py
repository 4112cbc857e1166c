"""Property-based tests (hypothesis) for the kernel invariants the
reference pins with golden fixtures (src/test/test_tokenizer.py:742-747)."""

import re

from hypothesis import given, settings
from hypothesis import strategies as st

from xwikire_spark.kernels.matching import (
    distant_supervision,
    find_full_matches,
)
from xwikire_spark.kernels.segmenter import segment_sentences
from xwikire_spark.kernels.tokenizer import rebuild_text, tokenize_with_breaks

# words over a few scripts (latin, accents, kannada, digits)
_word = st.text(
    alphabet=st.sampled_from("abcXYZéüßಕನಡ019"), min_size=1, max_size=8
)
# separators restricted to the tokenizer's invertible contract
_sep = st.sampled_from([" ", "\n", "\n\n"])


@st.composite
def contract_text(draw):
    n = draw(st.integers(min_value=1, max_value=30))
    words = [draw(_word) for _ in range(n)]
    parts = [words[0]]
    for w in words[1:]:
        parts.append(draw(_sep))
        parts.append(w)
    # optional sentence punctuation attached to random words
    return "".join(parts)


@settings(max_examples=200, deadline=None)
@given(contract_text())
def test_tokenizer_round_trip(text):
    tokens, breaks = tokenize_with_breaks(text)
    assert len(tokens) == len(breaks)
    assert rebuild_text(tokens, breaks) == text


@settings(max_examples=100, deadline=None)
@given(st.lists(_word, min_size=0, max_size=12),
       st.lists(_word, min_size=1, max_size=3))
def test_find_full_matches_is_correct(seq, sub):
    got = find_full_matches(seq, sub)
    # every reported span really equals the sublist; and a brute-force scan
    # agrees on the start offsets
    for span in got:
        assert [seq[i] for i in span] == sub
    brute = [i for i in range(len(seq) - len(sub) + 1)
             if seq[i:i + len(sub)] == sub]
    assert [s[0] for s in got] == brute


@settings(max_examples=100, deadline=None)
@given(st.lists(st.sampled_from(
    ["Alice met Bob.", "Bob visited Paris!", "Nothing here.",
     "Alice knows Paris."]), min_size=1, max_size=6))
def test_distant_supervision_first_match_invariant(sentences):
    got = distant_supervision("Paris", "Alice", sentences)
    pat_e, pat_a = r"\bAlice\b", r"\bParis\b"
    expected = next(
        (s for s in sentences if re.search(pat_e, s) and re.search(pat_a, s)),
        None,
    )
    assert got == expected


@settings(max_examples=100, deadline=None)
@given(contract_text())
def test_segmentation_preserves_content(text):
    # sentences contain exactly the non-whitespace content, in order
    joined = "".join("".join(s.split()) for s in segment_sentences(text))
    assert joined == "".join(text.split())
