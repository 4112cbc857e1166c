"""Kernel unit tests with golden values ported from the reference's own
test suite (reference src/test/*.py)."""

from xwikire_spark.kernels.articles import extract_article
from xwikire_spark.kernels.dates import format_date, int2roman, ordinal
from xwikire_spark.kernels.matching import (
    distant_supervision,
    distant_supervision_with_relation,
    find_full_matches,
    find_matches,
    flatten_locations,
)
from xwikire_spark.kernels.segmenter import segment_sentences
from xwikire_spark.kernels.templates import fill_template
from xwikire_spark.kernels.tokenizer import (
    paragraph_break_indices,
    rebuild_text,
    sentence_break_indices,
    tokenize_with_breaks,
)


class TestTokenizer:
    # golden fixture from reference src/test/test_tokenizer.py:10-21
    TEXT = (
        "Oecomys is a genus of rodent within the tribe Oryzomyini of family "
        "Cricetidae. It contains about 17 species, which live in trees and "
        "are distributed across forested parts of South America, extending "
        "into Panama and Trinidad.\n\nCarleton"
    )
    GT_TOKENS = ["Oecomys", "is", "a", "genus", "of", "rodent", "within",
                 "the", "tribe", "Oryzomyini", "of", "family", "Cricetidae",
                 ".", "It", "contains", "about", "17", "species", ",",
                 "which", "live", "in", "trees", "and", "are", "distributed",
                 "across", "forested", "parts", "of", "South", "America",
                 ",", "extending", "into", "Panama", "and", "Trinidad", ".",
                 "Carleton"]
    GT_BREAKS = [0, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 3, 1, 1, 1, 1, 0,
                 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 1, 1, 1, 1, 1, 0,
                 4]

    def test_golden_en(self):
        tokens, breaks = tokenize_with_breaks(self.TEXT)
        assert tokens == self.GT_TOKENS
        assert breaks == self.GT_BREAKS

    def test_round_trip(self):
        # reference round-trip property src/test/test_tokenizer.py:742-747
        tokens, breaks = tokenize_with_breaks(self.TEXT)
        assert rebuild_text(tokens, breaks) == self.TEXT

    def test_round_trip_unicode(self):
        # Kannada round-trip (src/test/test_tokenizer.py:750-758)
        text = "ಕನ್ನಡ ಒಂದು ಭಾಷೆ. ಇದು ಭಾರತದಲ್ಲಿ ಇದೆ!\n\nಹೊಸ ಪ್ಯಾರಾ."
        tokens, breaks = tokenize_with_breaks(text)
        assert rebuild_text(tokens, breaks) == text
        assert len(tokens) == len(breaks)

    def test_break_derivations(self):
        # src/builders/WikiReading.py:56-57
        _, breaks = tokenize_with_breaks(self.TEXT)
        assert sentence_break_indices(breaks) == [14, 40]
        assert paragraph_break_indices(breaks) == [40]

    def test_round_trip_punctuation(self):
        text = "Wait… what?! Yes - it's e.g. a test (v2.0), okay?"
        tokens, breaks = tokenize_with_breaks(text)
        assert rebuild_text(tokens, breaks) == text


class TestSegmenter:
    def test_basic(self):
        text = "A is in B. C was born in 1920! Is D in E?"
        assert segment_sentences(text) == [
            "A is in B.", "C was born in 1920!", "Is D in E?"]

    def test_paragraph_collapse(self):
        # reference collapses \n\n before splitting (src/builders/QA.py:34)
        text = "First sentence.\n\nSecond line"
        assert segment_sentences(text) == ["First sentence.", "Second line"]

    def test_empty(self):
        assert segment_sentences("") == []
        assert segment_sentences("   ") == []


class TestMatching:
    def test_distant_supervision_first_match(self):
        # first qualifying sentence wins (src/builders/QA.py:80-84)
        sentences = ["Paris is nice.", "Einstein lived in Paris.",
                     "Einstein also visited Paris."]
        assert distant_supervision("Paris", "Einstein", sentences) == \
            "Einstein lived in Paris."

    def test_distant_supervision_whole_word(self):
        assert distant_supervision("Paris", "Einstein",
                                   ["Einstein owns Parisian art."]) is None

    def test_distant_supervision_with_relation(self):
        sentences = ["Einstein was born in Ulm."]
        got = distant_supervision_with_relation(
            "Ulm", "Einstein", ["died in", "born in"], sentences)
        assert got == ("Einstein was born in Ulm.", "born in")

    def test_find_full_matches(self):
        # src/builders/SRL.py:113-121
        seq = ["a", "b", "c", "a", "b"]
        assert find_full_matches(seq, ["a", "b"]) == [[0, 1], [3, 4]]
        assert find_full_matches(seq, ["b", "a"]) == []
        assert find_full_matches(seq, []) == []

    def test_find_matches(self):
        # src/builders/WikiReading.py:76-78
        assert find_matches(["x", "y", "x", "z"], ["x", "z"]) == [0, 2, 3]

    def test_flatten_locations(self):
        # src/builders/SRL.py:190-201
        pos, breaks = flatten_locations([[1, 2], [7, 8, 9]])
        assert pos == [1, 2, 7, 8, 9]
        assert breaks == [2]
        pos, breaks = flatten_locations([[4, 5]])
        assert (pos, breaks) == ([4, 5], [])


class TestDates:
    # goldens from reference src/test/test_date_formatter.py
    def test_millennium_en(self):
        assert format_date("+0000020000-01-01T00:00:00Z", 6, "en") == \
            "21st millennium"
        assert format_date("-00000002000-01-01T00:00:00Z", 6, "en") == \
            "3rd millennium BC"

    def test_century_en(self):
        assert format_date("+00000001900-01-01T00:00:00Z", 7, "en") == \
            "20th century"
        assert format_date("-00000001900-01-01T00:00:00Z", 7, "en") == \
            "20th century BC"

    def test_year_en(self):
        assert format_date("+00000001920-01-01T00:00:00Z", 9, "en") == "1920"
        assert format_date("-00000001920-01-01T00:00:00Z", 9, "en") == \
            "1920 BC"

    def test_month_en(self):
        assert format_date("+00000001920-01-00T00:00:00Z", 10, "en") == \
            "January 1920"
        assert format_date("-000000020-01-00T00:00:00Z", 10, "en") == \
            "January 20 BC"

    def test_day_en(self):
        assert format_date("+00000001920-01-01T00:00:00Z", 11, "en") == \
            "1 January 1920"
        assert format_date("-000000020-01-01T00:00:00Z", 11, "en") == \
            "1 January 20 BC"

    def test_month_fr(self):
        assert format_date("+00000001920-01-02T00:00:00Z", 10, "fr") == \
            "janvier 1920"
        assert format_date("-000000020-01-10T00:00:00Z", 10, "fr") == \
            "janvier 20 J.-C"

    def test_day_fr(self):
        assert format_date("+00000001920-01-02T00:00:00Z", 11, "fr") == \
            "2 janvier 1920"
        assert format_date("-000000020-01-01T00:00:00Z", 11, "fr") == \
            "1er janvier 20 J.-C"

    def test_day_it(self):
        assert format_date("+00000001920-01-02T00:00:00Z", 11, "it") == \
            "2 gennaio 1920"
        assert format_date("-000000020-01-01T00:00:00Z", 11, "it") == \
            "1° gennaio 20 a.C."

    def test_month_it(self):
        assert format_date("+00000001920-01-01T00:00:00Z", 10, "it") == \
            "gennaio 1920"
        assert format_date("-000000020-01-01T00:00:00Z", 10, "it") == \
            "gennaio 20 a.C."

    def test_de(self):
        assert format_date("+00000001920-01-01T00:00:00Z", 10, "de") == \
            "Januar 1920"
        assert format_date("-000000020-01-01T00:00:00Z", 10, "de") == \
            "Januar 20 v. Chr."
        assert format_date("+000002000-01-01T00:00:00Z", 6, "de") == \
            "3. Jahrtausend"
        assert format_date("-00000001000-01-01T00:00:00Z", 6, "de") == \
            "2. Jahrtausend v. Chr."
        assert format_date("+00000200-01-01T00:00:00Z", 7, "de") == \
            "3. Jahrhundert"
        assert format_date("-0000000100-01-01T00:00:00Z", 7, "de") == \
            "2. Jahrhundert v. Chr."

    def test_roman_langs(self):
        assert format_date("+0000020000-01-01T00:00:00Z", 6, "it") == \
            "XXI millennio"
        assert format_date("-00000002000-01-01T00:00:00Z", 6, "it") == \
            "III millennio a.C."
        assert format_date("+00000001900-01-01T00:00:00Z", 7, "fr") == \
            "XXe siècle"
        assert format_date("-0000000800-01-01T00:00:00Z", 7, "fr") == \
            "IXe siècle J.-C"
        assert format_date("+00000001900-01-01T00:00:00Z", 7, "es") == \
            "siglo XX"
        assert format_date("-0000000801-01-01T00:00:00Z", 7, "es") == \
            "siglo IX a. C."

    def test_day_es(self):
        assert format_date("+00000001920-01-01T00:00:00Z", 11, "es") == \
            "1 de enero de 1920"
        assert format_date("-000000020-01-01T00:00:00Z", 11, "es") == \
            "1 de enero de 20 a. C."

    def test_helpers(self):
        assert ordinal(21) == "21st"
        assert ordinal(12) == "12th"
        assert int2roman(9) == "IX"
        assert int2roman(21) == "XXI"


class TestTemplates:
    # goldens from reference src/test/test_template_fillers.py
    def test_italian_gli(self):
        # src/test/test_template_fillers.py:7-11
        got = fill_template("Chi è il presidente diYYY XXX?", "Stati Uniti",
                            lang="it", article="Gli")
        assert got == "Chi è il presidente degli Stati Uniti?"

    def test_italian_l(self):
        # src/test/test_template_fillers.py:13-17
        got = fill_template("Chi è il presidente diYYY XXX?", "America",
                            lang="it", article="L")
        assert got == "Chi è il presidente dell'America?"

    def test_italian_la_in(self):
        # src/test/test_template_fillers.py:19-23
        got = fill_template("Chi è l'autore diYYY XXX?",
                            "La bella e la bestia", lang="it", article="La")
        assert got == "Chi è l'autore della bella e la bestia?"

    def test_italian_gender(self):
        # src/test/test_template_fillers.py:25-29
        got = fill_template("Quando è statGGG lanciatGGG YYY XXX?",
                            "Falcon 9 v1.0", lang="it", article="Il")
        assert got == "Quando è stato lanciato il Falcon 9 v1.0?"

    def test_italian_in_capital(self):
        # src/test/test_template_fillers.py:31-34
        got = fill_template("Quando è uscitGGG YYY XXX?", "La conversazione",
                            lang="it", article="La")
        assert got == "Quando è uscita La conversazione?"

    def test_english_plain(self):
        assert fill_template("Where is XXX?", "Paris", lang="en") == \
            "Where is Paris?"

    def test_french_elision(self):
        got = fill_template("Quelle est la capitale de XXX?", "Italie",
                            lang="fr")
        assert got == "Quelle est la capitale d'Italie?"

    def test_german_capitalization(self):
        got = fill_template("wo liegt YYY XXX?", "Der Rhein", lang="de",
                            article="Der")
        assert got == "Wo liegt Der Rhein?"

    def test_spanish_del(self):
        got = fill_template("¿Cuál es la capital deYYY XXX?", "Ecuador",
                            lang="es", article="el")
        assert got == "¿Cuál es la capital del Ecuador?"


class TestArticles:
    # behavior from reference src/test/test_article_extractors.py
    def test_italian_from_entity(self):
        assert extract_article("", "La Scala", lang="it") == "La"

    def test_italian_from_text(self):
        text = "Fu costruito presso il Duomo di Milano nel 1386."
        assert extract_article(text, "Duomo di Milano", lang="it") == "il"

    def test_apostrophe(self):
        assert extract_article("", "L'Aquila", lang="it") == "L"

    def test_negative(self):
        assert extract_article("Niente articoli qui.", "Roma", lang="it") == ""

    def test_english_dummy(self):
        assert extract_article("The thing.", "The thing", lang="en") == ""


class TestPerceptronTagger:
    """X10 trained-tagger path: nltk.pos_tag architecture parity
    (averaged perceptron, greedy decode) on the pinned fixture corpus."""

    def test_training_is_deterministic(self):
        from xwikire_spark.kernels.perceptron import train_tagger
        from xwikire_spark.kernels.pos_data import TRAIN_CORPUS

        assert train_tagger(TRAIN_CORPUS) == train_tagger(TRAIN_CORPUS)

    def test_heldout_golden_accuracy(self):
        # held-out sentences share no content verbs with training — this
        # gates suffix/context generalization, which the 50-lemma rule
        # tagger cannot do
        from xwikire_spark.kernels.perceptron import tag_with_model
        from xwikire_spark.kernels.pos import perceptron_model
        from xwikire_spark.kernels.pos_data import HELDOUT_CORPUS

        m = perceptron_model()
        ok = tot = 0
        for toks, tags in HELDOUT_CORPUS:
            got = tag_with_model(toks, m)
            ok += sum(g == t for g, t in zip(got, tags))
            tot += len(tags)
        assert ok / tot >= 0.9, f"held-out accuracy {ok}/{tot}"

    def test_f7_verb_contract_on_unseen_verbs(self):
        # the relation-verb filter (F7) must see VB* for verbs OUTSIDE the
        # rule lexicon when the perceptron path is selected
        from xwikire_spark.kernels.perceptron import tag_with_model
        from xwikire_spark.kernels.pos import (
            contains_verb,
            perceptron_model,
            pos_tag,
        )

        # irregular past 'won': no -ed/-ing suffix, not in the rule
        # lexicon -> the rule tagger calls it NN
        toks = "The team won the prize .".split()
        rule = pos_tag(toks)
        perc = tag_with_model(toks, perceptron_model())
        assert not contains_verb(rule, 2, 3)  # rule lexicon misses it
        assert contains_verb(perc, 2, 3)  # perceptron gets it


class TestTextFix:
    """X16 mojibake repair — the ftfy.fix_text analog
    (src/builders/SRL.py:111)."""

    def test_golden_repairs(self):
        from xwikire_spark.kernels.textfix import fix_text

        latin1_once = "Café".encode("utf-8").decode("latin-1")
        cp1252_once = "don’t".encode("utf-8").decode("windows-1252")
        double = latin1_once.encode("utf-8").decode("latin-1")
        assert fix_text(latin1_once) == "Café"
        assert fix_text(cp1252_once) == "don’t"
        assert fix_text(double) == "Café"

    def test_clean_text_is_untouched(self):
        from xwikire_spark.kernels.textfix import fix_text

        for clean in ("plain ascii.", "Köln is fine", "Ã alone",
                      "ಕನ್ನಡ text", ""):
            assert fix_text(clean) == clean


class TestPerceptronCorpus:
    """VERDICT r2 #5: treebank-scale(ish) training data for X10 — 2000
    grammar-generated pinned sentences + held-out accuracy >= 0.9 on >= 300
    pinned sentences with disjoint content vocabulary."""

    def test_generator_deterministic(self):
        from xwikire_spark.kernels.pos_corpus import generate_corpus

        assert generate_corpus(50) == generate_corpus(50)
        assert generate_corpus(50, heldout=True) == generate_corpus(
            50, heldout=True
        )

    def test_content_vocab_disjoint(self):
        # generated train and heldout share NO content words (closed-class
        # words are shared by design; the 60 hand sentences in TRAIN_CORPUS
        # add a handful of overlapping nouns, measured and accepted — the
        # held-out signal is dominated by the disjoint generated vocab)
        from xwikire_spark.kernels.pos_corpus import generate_corpus

        from xwikire_spark.kernels.pos_corpus import _RB_PLAIN

        content = {"NN", "NNS", "JJ", "RB", "NNP",
                   "VB", "VBP", "VBZ", "VBD", "VBN", "VBG"}
        shared_rb = set(_RB_PLAIN)  # closed-class-ish, shared by design
        tr = {w.lower() for s, tags in generate_corpus(500)
              for w, t in zip(s, tags) if t in content} - shared_rb
        he = {w.lower() for s, tags in generate_corpus(500, heldout=True)
              for w, t in zip(s, tags) if t in content} - shared_rb
        assert not tr & he, sorted(tr & he)[:10]

    def test_heldout_accuracy_at_scale(self):
        from xwikire_spark.kernels.pos import perceptron_model
        from xwikire_spark.kernels.pos_corpus import evaluate, generate_corpus

        held = generate_corpus(400, heldout=True)
        assert len(held) >= 300
        acc = evaluate(perceptron_model(), held)
        assert acc >= 0.9, f"held-out accuracy {acc:.4f}"


class TestLangId:
    """Trained char-trigram language id (kernels/langid_corpus.py — r3
    next-round #3): profiles learned from the pinned generated corpus,
    gated on held-out snippets with DISJOINT content vocabulary."""

    def test_heldout_accuracy(self):
        from xwikire_spark.kernels.langid_corpus import snippets
        from xwikire_spark.operators.textstats import (
            _LANG_PROFILES,
            langid_score,
        )

        held = snippets("heldout")  # 600 pinned mixed-language snippets
        assert len(held) >= 200
        ok = 0
        for lang, t in held:
            tl = t.lower()
            best, best_score = "und", 0
            for lg in sorted(_LANG_PROFILES):
                s = langid_score(tl, lg)
                if s > best_score:
                    best, best_score = lg, s
            ok += best == lang
        acc = ok / len(held)
        assert acc >= 0.95, f"held-out accuracy {acc:.3f} < 0.95"

    def test_profiles_deterministic_and_sql_safe(self):
        """Every worker must train the identical profile (seed-pinned
        corpus), and every trigram must survive verbatim embedding in a
        single-quoted SQL literal (the oracle generator's contract)."""
        from xwikire_spark.kernels.langid_corpus import LANGS, train_profiles

        train_profiles.cache_clear()
        a = train_profiles()
        train_profiles.cache_clear()
        b = train_profiles()
        assert a == b
        assert set(a) == set(LANGS)
        for lang, tris in a.items():
            assert len(tris) >= 40, lang
            for t in tris:
                assert len(t) == 3
                assert "'" not in t and "\\" not in t

    def test_train_heldout_content_disjoint(self):
        from xwikire_spark.kernels.langid_corpus import (
            _CONTENT_WORDS,
            _split,
        )

        for lang, words in _CONTENT_WORDS.items():
            tr, he = set(_split(words, "train")), set(_split(words, "heldout"))
            assert tr and he and not (tr & he), lang

    def test_udf_matches_pure_scoring(self, spark):
        """The vectorized UDF and the pure scorer agree (same profiles,
        same tie rules) on a mixed batch including null/empty."""
        from xwikire_spark.kernels.langid_corpus import snippets
        from xwikire_spark.operators.textstats import (
            _LANG_PROFILES,
            langid_score,
            language_id,
        )

        rows = [(f"d{i}", t) for i, (_, t) in enumerate(snippets("heldout")[:30])]
        rows += [("dnull", None), ("dempty", "")]
        docs = spark.createDataFrame(rows, "doc_id string, text string")
        got = {r["doc_id"]: r["pred_lang"]
               for r in language_id(docs).collect()}

        def pure(t):
            tl = (t or "").lower()
            best, bs = "und", 0
            for lg in sorted(_LANG_PROFILES):
                s = langid_score(tl, lg)
                if s > bs:
                    best, bs = lg, s
            return best

        for doc_id, t in rows:
            assert got[doc_id] == pure(t), doc_id


class TestMp3Meta:
    """MPEG frame-layer metadata (kernels/mp3meta.py). Validation is by
    an INDEPENDENT hand-packed header writer in this class — the frame
    length is computed here with the canonical published formula
    (144*bitrate/rate + padding for MPEG1 Layer III), written differently
    from the module's samples*(bitrate/8)/rate form, so the two
    derivations cross-check. Sample decode is a documented permanent
    skip (module docstring) gated here as NotImplementedError + F5
    quarantine routing."""

    _VBITS = {"1": 3, "2": 2, "2.5": 0}
    _LBITS = {1: 3, 2: 2, 3: 1}
    _RATE_IDX = {44100: 0, 48000: 1, 32000: 2,
                 22050: 0, 24000: 1, 16000: 2}
    # kbps -> bitrate index for MPEG1 Layer III
    _BR_IDX_V1L3 = {32: 1, 40: 2, 48: 3, 56: 4, 64: 5, 80: 6, 96: 7,
                    112: 8, 128: 9, 160: 10, 192: 11, 224: 12, 256: 13,
                    320: 14}

    def _header(self, version="1", layer=3, kbps=128, rate=44100,
                padding=0, mono=False, crc=False):
        b1 = (0xE0 | (self._VBITS[version] << 3)
              | (self._LBITS[layer] << 1) | (0 if crc else 1))
        if version == "1" and layer == 3:
            br = self._BR_IDX_V1L3[kbps]
        elif version == "2" and layer == 3:
            br = {8: 1, 16: 2, 24: 3, 32: 4, 40: 5, 48: 6, 56: 7,
                  64: 8}[kbps]
        elif version == "1" and layer == 1:
            br = {32: 1, 64: 2, 96: 3, 128: 4, 160: 5, 192: 6,
                  224: 7, 256: 8}[kbps]
        else:
            raise AssertionError("unsupported test combo")
        b2 = (br << 4) | (self._RATE_IDX[rate] << 2) | (padding << 1)
        b3 = (3 << 6) if mono else 0
        return bytes([0xFF, b1, b2, b3])

    def _frame(self, kbps=128, rate=44100, padding=0, fill=0xAA, **kw):
        h = self._header(kbps=kbps, rate=rate, padding=padding, **kw)
        # canonical MPEG1 Layer III length formula (independent of module)
        flen = 144 * kbps * 1000 // rate + padding
        return h + bytes([fill]) * (flen - 4)

    def test_cbr_walk(self):
        from xwikire_spark.kernels import mp3meta as m

        blob = b"".join(self._frame(padding=i % 2) for i in range(20))
        assert m.sniff_mp3(blob)
        info = m.mp3_info(blob)
        assert info["n_frames"] == 20
        assert info["version"] == "1" and info["layer"] == 3
        assert info["sample_rate"] == 44100 and info["channels"] == 2
        assert info["duration_sec"] == 20 * 1152 / 44100
        assert info["bitrate_kbps_mean"] == 128.0
        assert not info["vbr"]

    def test_vbr_mean_and_flag(self):
        from xwikire_spark.kernels import mp3meta as m

        blob = (self._frame(kbps=128) + self._frame(kbps=192)
                + self._frame(kbps=64))
        info = m.mp3_info(blob)
        assert info["vbr"] and info["n_frames"] == 3
        assert info["bitrate_kbps_mean"] == (128 + 192 + 64) / 3

    def test_id3v2_skip_and_id3v1_trailer(self):
        from xwikire_spark.kernels import mp3meta as m

        # syncsafe size 0x0201 = 2*128+1 = 257 payload bytes
        tag = b"ID3" + bytes([3, 0, 0]) + bytes([0, 0, 2, 1]) + b"\xff" * 257
        blob = tag + self._frame() * 3 + b"TAG" + b"\x00" * 125
        assert m.sniff_mp3(blob)
        info = m.mp3_info(blob)
        assert info["id3v2_bytes"] == 10 + 257
        assert info["n_frames"] == 3

    def test_xing_frame_count(self):
        from xwikire_spark.kernels import mp3meta as m

        f = bytearray(self._frame(fill=0))
        # stereo MPEG1 L3, no CRC: side info 32 bytes after the 4 header
        p = 4 + 32
        f[p:p + 4] = b"Xing"
        f[p + 4:p + 8] = (1).to_bytes(4, "big")      # FRAMES flag
        f[p + 8:p + 12] = (777).to_bytes(4, "big")
        blob = bytes(f) + self._frame() * 2
        info = m.mp3_info(blob)
        assert info["xing_frames"] == 777 and info["vbr"]

    def test_other_layers_and_versions(self):
        from xwikire_spark.kernels import mp3meta as m

        # MPEG2 Layer III: 576 samples, 72*br/rate
        f = self._header(version="2", layer=3, kbps=64, rate=24000)
        flen = 72 * 64000 // 24000
        info = m.mp3_info(f + b"\x00" * (flen - 4))
        assert info["n_frames"] == 1
        assert info["duration_sec"] == 576 / 24000
        # MPEG1 Layer I: slot-of-4 padding arithmetic, 384 samples
        h = self._header(version="1", layer=1, kbps=128, rate=32000,
                         padding=1)
        flen = (12 * 128000 // 32000 + 1) * 4
        info = m.mp3_info(h + b"\x00" * (flen - 4))
        assert info["n_frames"] == 1 and info["duration_sec"] == 384 / 32000

    def test_desync_and_sniff_rejection(self):
        import pytest

        from xwikire_spark.kernels import mp3meta as m

        assert not m.sniff_mp3(b"\x00" * 64)
        # a lone 0xFF Ex pair mid-garbage: lookahead must reject
        fake = b"\xff\xfb\x90\x00" + b"\x12" * 500
        assert not m.sniff_mp3(fake)
        good = self._frame() * 2
        with pytest.raises(ValueError):
            m.mp3_info(good + b"\x13\x37\x13\x37" + b"\x00" * 100)
        # truncated FINAL frame tolerated (streaming rip)
        assert m.mp3_info(good + self._frame()[:50])["n_frames"] == 3


class TestAacMeta:
    """ADTS frame-layer metadata (kernels/aacmeta.py). Validation is by an
    INDEPENDENT hand-packed header writer: this class concatenates the 56
    header bits into one integer MSB-first and serializes big-endian,
    while the module parses byte-indexed shift/mask fields — the two
    derivations cross-check. Sample decode is a documented permanent skip
    gated as NotImplementedError + F5 quarantine routing."""

    _SF_IDX = {96000: 0, 48000: 3, 44100: 4, 22050: 7, 8000: 11}
    _PROF = {"Main": 0, "LC": 1, "SSR": 2, "LTP": 3}

    def _header(self, profile="LC", rate=44100, chan_cfg=2, frame_len=0,
                crc=False, mpeg4=True, blocks=1, fullness=0x7FF):
        val = 0xFFF                              # syncword
        val = (val << 1) | (0 if mpeg4 else 1)   # ID
        val = (val << 2) | 0                     # layer (must be 00)
        val = (val << 1) | (0 if crc else 1)     # protection_absent
        val = (val << 2) | self._PROF[profile]
        val = (val << 4) | self._SF_IDX[rate]
        val = (val << 1) | 0                     # private
        val = (val << 3) | chan_cfg
        val = (val << 4) | 0                     # orig/home/copyright x2
        val = (val << 13) | frame_len
        val = (val << 11) | fullness
        val = (val << 2) | (blocks - 1)
        return val.to_bytes(7, "big")

    def _frame(self, payload_len=100, fill=0xAA, **kw):
        hlen = 9 if kw.get("crc") else 7
        h = self._header(frame_len=hlen + payload_len, **kw)
        crc_bytes = b"\x00\x00" if kw.get("crc") else b""
        return h + crc_bytes + bytes([fill]) * payload_len

    def test_cbr_walk(self):
        from xwikire_spark.kernels import aacmeta as m

        blob = self._frame() * 20
        assert m.sniff_aac(blob)
        info = m.aac_info(blob)
        assert info["n_frames"] == 20
        assert info["profile"] == "LC" and info["mpeg4"]
        assert info["sample_rate"] == 44100 and info["channels"] == 2
        assert info["duration_sec"] == 20 * 1024 / 44100
        # payload-only bitrate: 100 bytes per 1024/44100 sec
        want = 100 * 8 * 20 / (20 * 1024 / 44100) / 1000
        assert abs(info["bitrate_kbps_mean"] - want) < 1e-9
        assert not info["vbr"] and not info["crc"]

    def test_vbr_and_multiblock(self):
        from xwikire_spark.kernels import aacmeta as m

        blob = self._frame(payload_len=80) + self._frame(payload_len=120)
        info = m.aac_info(blob)
        assert info["vbr"] and info["n_frames"] == 2
        # 2 raw data blocks -> 2048 samples in one frame
        info = m.aac_info(self._frame(blocks=2))
        assert info["duration_sec"] == 2048 / 44100
        h = m.parse_adts_header(self._frame(blocks=4))
        assert h["raw_data_blocks"] == 4 and h["samples"] == 4096

    def test_crc_header_length(self):
        from xwikire_spark.kernels import aacmeta as m

        blob = self._frame(crc=True) * 3
        info = m.aac_info(blob)
        assert info["crc"] and info["n_frames"] == 3
        h = m.parse_adts_header(blob)
        assert h["header_len"] == 9 and h["frame_len"] == 109

    def test_fields_roundtrip(self):
        from xwikire_spark.kernels import aacmeta as m

        for rate, idx in self._SF_IDX.items():
            h = m.parse_adts_header(self._header(rate=rate, frame_len=7))
            assert h["sample_rate"] == rate, idx
        for prof in self._PROF:
            h = m.parse_adts_header(
                self._header(profile=prof, frame_len=7)
            )
            assert h["profile"] == prof
        h = m.parse_adts_header(
            self._header(chan_cfg=7, frame_len=7, mpeg4=False)
        )
        assert h["channels"] == 8 and not h["mpeg4"]
        assert m.parse_adts_header(
            self._header(chan_cfg=0, frame_len=7)
        )["channels"] is None  # PCE-signalled

    def test_desync_sniff_and_cross_format(self):
        import pytest

        from xwikire_spark.kernels import aacmeta as a
        from xwikire_spark.kernels import mp3meta as p

        assert not a.sniff_aac(b"\x00" * 64)
        # lone header mid-garbage: lookahead rejects
        assert not a.sniff_aac(self._header(frame_len=50) + b"\x12" * 500)
        good = self._frame() * 2
        with pytest.raises(ValueError):
            a.aac_info(good + b"\x13\x37" + b"\x00" * 20)
        # truncated FINAL frame tolerated
        assert a.aac_info(good + self._frame()[:5])["n_frames"] == 2
        # frame_len shorter than its own header is rejected
        assert a.parse_adts_header(self._header(frame_len=3)) is None
        # the two audio sniffers never both claim a payload: MP3 headers
        # carry layer!=00 where ADTS demands 00, and ADTS layer=00 is
        # reserved in MPEG audio
        mp3 = bytes([0xFF, 0xFB, 0x90, 0x00])
        mp3 += b"\xAA" * (144 * 128000 // 44100 - 4)
        assert p.sniff_mp3(mp3 * 2) and not a.sniff_aac(mp3 * 2)
        assert a.sniff_aac(good) and not p.sniff_mp3(good)


class TestWebpMeta:
    """WebP container metadata (kernels/webpmeta.py). The packers here
    derive the bit layouts independently (VP8L packs width/height into
    the 32-bit word via arithmetic on the full value; VP8 packs the
    14-bit dims + 2-bit scale as one 16-bit integer) so parser and packer
    cross-check. Pixel decode is a documented permanent skip."""

    def _riff(self, *chunks):
        import struct

        body = b"WEBP"
        for fourcc, data in chunks:
            body += fourcc + struct.pack("<I", len(data)) + data
            if len(data) & 1:
                body += b"\x00"  # chunks pad to even length
        return b"RIFF" + struct.pack("<I", len(body)) + body

    def _vp8l(self, w, h, alpha=False):
        bits = (w - 1) + ((h - 1) * (1 << 14)) + (
            (1 << 28) if alpha else 0
        )
        return b"\x2f" + bits.to_bytes(4, "little")

    def _vp8(self, w, h, hscale=0, vscale=0):
        import struct

        tag = (0 << 0) | (3 << 1) | (1 << 4) | (2000 << 5)  # keyframe
        return (
            tag.to_bytes(3, "little") + b"\x9d\x01\x2a"
            + struct.pack("<H", w | (hscale << 14))
            + struct.pack("<H", h | (vscale << 14))
            + b"\x00" * 8
        )

    def _vp8x(self, w, h, flags):
        return (
            bytes([flags]) + b"\x00" * 3
            + (w - 1).to_bytes(3, "little")
            + (h - 1).to_bytes(3, "little")
        )

    def test_lossless(self):
        from xwikire_spark.kernels import webpmeta as m

        blob = self._riff((b"VP8L", self._vp8l(100, 50, alpha=True)))
        assert m.sniff_webp(blob)
        info = m.webp_info(blob)
        assert info["variant"] == "lossless"
        assert (info["width"], info["height"]) == (100, 50)
        assert info["alpha"] and info["n_frames"] == 1
        # 14-bit maxima round-trip
        info = m.webp_info(
            self._riff((b"VP8L", self._vp8l(16384, 16384)))
        )
        assert (info["width"], info["height"]) == (16384, 16384)
        assert not info["alpha"]

    def test_lossy_scale_bits_masked(self):
        from xwikire_spark.kernels import webpmeta as m

        blob = self._riff((b"VP8 ", self._vp8(320, 240, hscale=3,
                                              vscale=1)))
        info = m.webp_info(blob)
        assert info["variant"] == "lossy"
        assert (info["width"], info["height"]) == (320, 240)

    def test_extended_animation(self):
        from xwikire_spark.kernels import webpmeta as m

        blob = self._riff(
            (b"VP8X", self._vp8x(2000, 1000, 0x10 | 0x02)),
            (b"ANIM", b"\x00" * 6),
            (b"ANMF", b"\x00" * 17),  # odd size exercises pad skipping
            (b"ANMF", b"\x00" * 17),
            (b"ANMF", b"\x00" * 17),
        )
        info = m.webp_info(blob)
        assert info["variant"] == "extended"
        assert (info["width"], info["height"]) == (2000, 1000)
        assert info["alpha"] and info["animation"]
        assert info["n_frames"] == 3
        assert not info["icc"] and not info["exif"]

    def test_alph_chunk_and_flags(self):
        from xwikire_spark.kernels import webpmeta as m

        blob = self._riff(
            (b"VP8X", self._vp8x(6, 4, 0x20 | 0x08 | 0x04)),
            (b"ALPH", b"\x00" * 9),
            (b"VP8 ", self._vp8(6, 4)),
        )
        info = m.webp_info(blob)
        assert info["alpha"]  # from ALPH, not the flags byte
        assert info["icc"] and info["exif"] and info["xmp"]
        assert info["n_frames"] == 1

    def test_rejection_contract(self):
        import pytest

        from xwikire_spark.kernels import webpmeta as m

        assert not m.sniff_webp(b"RIFF\x00\x00\x00\x00WAVE" + b"\x00" * 8)
        assert not m.sniff_webp(b"\x00" * 32)
        good = self._riff((b"VP8L", self._vp8l(8, 8)))
        with pytest.raises(ValueError):
            m.webp_info(good[:-3])  # truncated chunk
        bad_ver = bytearray(self._vp8l(8, 8))
        bad_ver[4] |= 0xE0  # version bits nonzero
        with pytest.raises(ValueError):
            m.webp_info(self._riff((b"VP8L", bytes(bad_ver))))
        interframe = bytearray(self._vp8(8, 8))
        interframe[0] |= 1
        with pytest.raises(ValueError):
            m.webp_info(self._riff((b"VP8 ", bytes(interframe))))
        with pytest.raises(ValueError):
            m.webp_info(self._riff((b"ALPH", b"\x00" * 4)))
