"""Pinned PTB-tagged training corpus for the perceptron tagger (X10).

The container has no network and no nltk model download, so the trainer
ships with an embedded corpus instead (hand-tagged, Penn Treebank tag
conventions). Small by design: the point is the ARCHITECTURE parity with
nltk.pos_tag (averaged perceptron + greedy decode + suffix features that
generalize to unseen verbs), not treebank-scale accuracy — swap in a full
tagged corpus at deployment and nothing else changes.

HELDOUT_CORPUS sentences share no content words with TRAIN_CORPUS verbs —
they gate suffix-feature generalization (tests/test_kernels.py).
"""

from __future__ import annotations


def _parse(tagged: str) -> tuple[list[str], list[str]]:
    tokens, tags = [], []
    for pair in tagged.split():
        word, _, tag = pair.rpartition("/")
        tokens.append(word)
        tags.append(tag)
    return tokens, tags


_TRAIN = [
    "The/DT scientist/NN published/VBD a/DT paper/NN ./.",
    "She/PRP studied/VBD physics/NN in/IN Paris/NNP ./.",
    "He/PRP teaches/VBZ chemistry/NN at/IN the/DT university/NN ./.",
    "They/PRP discovered/VBD a/DT new/JJ element/NN ./.",
    "The/DT team/NN is/VBZ working/VBG on/IN the/DT project/NN ./.",
    "Marie/NNP Curie/NNP won/VBD the/DT prize/NN twice/RB ./.",
    "Einstein/NNP developed/VBD the/DT theory/NN of/IN relativity/NN ./.",
    "The/DT city/NN grew/VBD quickly/RB after/IN the/DT war/NN ./.",
    "Researchers/NNS analyzed/VBD the/DT data/NNS carefully/RB ./.",
    "The/DT results/NNS were/VBD surprising/JJ ./.",
    "A/DT small/JJ lab/NN opened/VBD in/IN Berlin/NNP ./.",
    "He/PRP was/VBD born/VBN in/IN Germany/NNP ./.",
    "She/PRP has/VBZ written/VBN three/CD books/NNS ./.",
    "The/DT committee/NN will/MD announce/VB the/DT winner/NN soon/RB ./.",
    "Students/NNS often/RB visit/VBP the/DT museum/NN ./.",
    "The/DT river/NN flows/VBZ through/IN the/DT valley/NN ./.",
    "Engineers/NNS built/VBD a/DT bridge/NN across/IN the/DT river/NN ./.",
    "The/DT company/NN employs/VBZ two/CD hundred/CD people/NNS ./.",
    "He/PRP moved/VBD to/TO London/NNP in/IN 1905/CD ./.",
    "The/DT professor/NN explained/VBD the/DT idea/NN clearly/RB ./.",
    "Children/NNS play/VBP in/IN the/DT park/NN every/DT day/NN ./.",
    "The/DT museum/NN displays/VBZ ancient/JJ artifacts/NNS ./.",
    "Scientists/NNS believe/VBP the/DT climate/NN is/VBZ changing/VBG ./.",
    "She/PRP joined/VBD the/DT institute/NN in/IN 1921/CD ./.",
    "The/DT old/JJ castle/NN stands/VBZ on/IN a/DT hill/NN ./.",
    "Workers/NNS repaired/VBD the/DT broken/JJ roof/NN ./.",
    "The/DT train/NN arrives/VBZ at/IN noon/NN ./.",
    "He/PRP wrote/VBD a/DT letter/NN to/TO his/PRP$ friend/NN ./.",
    "The/DT government/NN founded/VBD the/DT academy/NN in/IN 1900/CD ./.",
    "Birds/NNS migrate/VBP south/RB in/IN winter/NN ./.",
    "The/DT doctor/NN examined/VBD the/DT patient/NN ./.",
    "She/PRP lives/VBZ near/IN the/DT station/NN ./.",
    "The/DT book/NN describes/VBZ the/DT revolution/NN ./.",
    "Farmers/NNS grow/VBP wheat/NN and/CC corn/NN ./.",
    "The/DT artist/NN painted/VBD a/DT portrait/NN of/IN the/DT queen/NN ./.",
    "The/DT war/NN ended/VBD in/IN 1945/CD ./.",
    "He/PRP received/VBD an/DT award/NN for/IN his/PRP$ work/NN ./.",
    "The/DT ship/NN sailed/VBD from/IN the/DT harbor/NN ./.",
    "Tourists/NNS visited/VBD the/DT famous/JJ cathedral/NN ./.",
    "The/DT physicist/NN explained/VBD quantum/JJ mechanics/NNS ./.",
    "They/PRP married/VBD in/IN 1895/CD ./.",
    "The/DT observatory/NN opened/VBD last/JJ year/NN ./.",
    "He/PRP died/VBD in/IN Vienna/NNP in/IN 1951/CD ./.",
    "The/DT team/NN collaborated/VBD with/IN foreign/JJ researchers/NNS ./.",
    "The/DT sun/NN rises/VBZ in/IN the/DT east/NN ./.",
    "She/PRP directed/VBD the/DT laboratory/NN for/IN ten/CD years/NNS ./.",
    "The/DT bank/NN financed/VBD the/DT expedition/NN ./.",
    "Philosophers/NNS debate/VBP the/DT nature/NN of/IN truth/NN ./.",
    "The/DT empire/NN collapsed/VBD after/IN the/DT revolt/NN ./.",
    "He/PRP founded/VBD a/DT school/NN in/IN Athens/NNP ./.",
    "The/DT printer/NN produces/VBZ color/NN images/NNS ./.",
    "The/DT mayor/NN announced/VBD new/JJ plans/NNS ./.",
    "Rivers/NNS carry/VBP sediment/NN to/TO the/DT sea/NN ./.",
    "The/DT singer/NN performed/VBD at/IN the/DT festival/NN ./.",
    "The/DT glacier/NN melted/VBD during/IN the/DT summer/NN ./.",
    "The/DT child/NN draws/VBZ pictures/NNS with/IN crayons/NNS ./.",
    "The/DT author/NN revised/VBD the/DT manuscript/NN twice/RB ./.",
    "Engineers/NNS are/VBP designing/VBG a/DT faster/JJR engine/NN ./.",
    "He/PRP had/VBD visited/VBN Rome/NNP before/IN the/DT war/NN ./.",
    "The/DT crowd/NN cheered/VBD loudly/RB ./.",
]

TRAIN_CORPUS: list[tuple[list[str], list[str]]] = [_parse(s) for s in _TRAIN]

# held-out: content verbs unseen in training — exercises suffix features
HELDOUT_CORPUS: list[tuple[list[str], list[str]]] = [
    _parse(s)
    for s in (
        "The/DT historian/NN documented/VBD the/DT battle/NN ./.",
        "Workers/NNS assembled/VBD the/DT machine/NN ./.",
        "The/DT explorer/NN reached/VBD the/DT coast/NN ./.",
        "The/DT curator/NN restored/VBD the/DT painting/NN ./.",
        "She/PRP organizes/VBZ the/DT archive/NN ./.",
        "The/DT village/NN celebrated/VBD the/DT harvest/NN ./.",
    )
]
