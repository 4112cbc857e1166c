"""Tests for the remaining pipeline stages: negatives (J5), QA assembly
(J4/X6/X14), typed facts (MergedWikis), WikiReading locations, I/O formats."""

import hashlib

import pandas as pd
import pytest

from xwikire_spark.pipeline.facts import build_facts, universal_schema_export
from xwikire_spark.pipeline.negatives import generate_negatives
from xwikire_spark.pipeline.qa import assemble_qa_examples
from xwikire_spark.pipeline.wikireading import (
    answer_locations,
    tokenize_documents,
)


class TestNegatives:
    @pytest.fixture(scope="class")
    def positives(self, spark):
        rows = [
            # conv c1, type wikibase: three positives, two props
            dict(conv_id="c1", type="wikibase", prop_id="P19",
                 relation="born in", sentence="A was born in X.",
                 answer="X", id="q1"),
            dict(conv_id="c1", type="wikibase", prop_id="P20",
                 relation="died in", sentence="A died in Y.",
                 answer="Y", id="q2"),
            dict(conv_id="c1", type="wikibase", prop_id="P19",
                 relation="born in", sentence="B was born in Y near X.",
                 answer="Y", id="q3"),
        ]
        return spark.createDataFrame(pd.DataFrame(rows))

    def test_pair_semantics(self, spark, positives):
        negs = generate_negatives(positives).collect()
        got = {(n.source_a, n.source_b) for n in negs}
        # (q1,q2): P19 vs P20, 'X' not in 'A died in Y.' -> negative
        assert ("q1", "q2") in got
        # (q1,q3): same prop -> skipped
        assert ("q1", "q3") not in got
        # (q2,q3): P20 vs P19, 'Y' IS in q3's sentence -> skipped
        assert ("q2", "q3") not in got

    def test_negative_id_is_reference_sha1(self, spark, positives):
        neg = generate_negatives(positives).collect()[0]
        want = hashlib.sha1("q1 P19 q2".encode()).hexdigest()
        assert neg.id == want  # src/builders/QA.py:103 id scheme
        assert neg.example == "negative"
        assert neg.answer == ""
        assert neg.sentence == "A died in Y."  # b's sentence


class TestQAAssembly:
    def test_examples(self, spark):
        qa = spark.createDataFrame(pd.DataFrame([
            dict(prop_id="P19", relation="born in",
                 sentence="Einstein was born in Ulm.", answer="Ulm",
                 id="x1", example="positive", entity_label="Einstein",
                 entity_article=""),
            dict(prop_id="P19", relation="born in",
                 sentence="Some other evidence.", answer="",
                 id="x2", example="negative", entity_label="Einstein",
                 entity_article=""),
            dict(prop_id="P99", relation="off-list",
                 sentence="Einstein knew Bohr.", answer="Bohr",
                 id="x3", example="positive", entity_label="Einstein",
                 entity_article=""),
        ]))
        templates = spark.createDataFrame(pd.DataFrame([
            dict(prop_id="P19", template="Where was XXX born?"),
            dict(prop_id="P19", template="What is the birthplace of XXX?"),
        ]))
        whitelist = spark.createDataFrame(pd.DataFrame([
            dict(prop_id="P19")]))
        out = assemble_qa_examples(qa, templates, whitelist).collect()
        # P99 filtered (F3); positives x 2 templates + negatives x 2
        assert {r.prop_id for r in out} == {"P19"}
        pos = [r for r in out if r.example == "positive"]
        neg = [r for r in out if r.example == "negative"]
        assert len(pos) == 2 and len(neg) == 2
        p = pos[0]
        # X6 char span: context.index(answer) semantics (QA.py:149-153)
        assert p.context[p.start_index:p.end_index] == "Ulm"
        assert p.na == 1
        assert p.question in {"Where was Einstein born?",
                              "What is the birthplace of Einstein?"}
        assert neg[0].start_index == -1 and neg[0].na == 0


class TestFacts:
    @pytest.fixture(scope="class")
    def built(self, spark):
        claims = spark.createDataFrame(pd.DataFrame([
            dict(claim_id="c1", entity_id="Q1", pid="P1", datatype="string",
                 string_type="string", string_value="  hello  ",
                 object_id=None, amount=None, unit_uri=None, raw_time=None,
                 precision=None),
            dict(claim_id="c2", entity_id="Q1", pid="P2", datatype="string",
                 string_type="external-id", string_value="X99",
                 object_id=None, amount=None, unit_uri=None, raw_time=None,
                 precision=None),
            dict(claim_id="c3", entity_id="Q1", pid="P3",
                 datatype="wikibase-entityid", string_type=None,
                 string_value=None, object_id="Q2", amount=None,
                 unit_uri=None, raw_time=None, precision=None),
            dict(claim_id="c4", entity_id="Q1", pid="P4", datatype="quantity",
                 string_type=None, string_value=None, object_id=None,
                 amount="+42",
                 unit_uri="http://www.wikidata.org/entity/Q11573",
                 raw_time=None, precision=None),
            dict(claim_id="c5", entity_id="Q1", pid="P5", datatype="time",
                 string_type=None, string_value=None, object_id=None,
                 amount=None, unit_uri=None,
                 raw_time="+00000001920-01-01T00:00:00Z", precision=11),
        ]))
        entities = spark.createDataFrame(pd.DataFrame([
            dict(entity_id="Q1", label="Subject", aliases=["S"]),
            dict(entity_id="Q2", label="Object Label", aliases=["O"]),
            dict(entity_id="Q11573", label="metre", aliases=[]),
        ]))
        facts = build_facts(claims, entities)
        return {r.pid: r for r in facts.collect()}, facts, entities, spark

    def test_string_fact(self, built):
        by_pid, *_ = built
        # trimmed, id == value (MergedWikis.py:156-160)
        assert by_pid["P1"].value == "hello"
        assert by_pid["P1"].value_id == "hello"
        assert by_pid["P1"].value_type == "value"

    def test_external_id_dropped(self, built):
        by_pid, *_ = built
        assert "P2" not in by_pid  # F2 (MergedWikis.py:53-55)

    def test_wikibase_fact(self, built):
        by_pid, *_ = built
        assert by_pid["P3"].value == "Object Label"
        assert by_pid["P3"].value_id == "Q2"

    def test_quantity_fact(self, built):
        by_pid, *_ = built
        # '+' stripped, unit label appended, id = amount + unit id
        # (MergedWikis.py:168-175)
        assert by_pid["P4"].value == "42 metre"
        assert by_pid["P4"].value_id == "42Q11573"

    def test_time_fact(self, built):
        by_pid, *_ = built
        assert by_pid["P5"].value == "1 January 1920"
        assert by_pid["P5"].value_id == "+00000001920-01-01T00:00:00Z"

    def test_universal_schema(self, built):
        _, facts, entities, spark = built
        props = spark.createDataFrame(pd.DataFrame([
            dict(pid=p, label=f"label-{p}", aliases=[]) for p in
            ["P1", "P3", "P4", "P5"]]))
        us = universal_schema_export(facts, entities, props).collect()
        row = {r.property_id: r for r in us}["P3"]
        want = hashlib.sha1("Q1 P3 Q2".encode()).hexdigest()
        assert row.id == want  # src/universal_schema.py:12-14
        assert row.entity_label == "Subject"
        assert row.value_label == "Object Label"


class TestWikiReading:
    def test_tokenize_and_locations(self, spark):
        docs = spark.createDataFrame(pd.DataFrame([
            dict(entity_id="Q1",
                 text="Alpha beta gamma. Beta gamma delta!\n\nNew para."),
        ]))
        facts = spark.createDataFrame(pd.DataFrame([
            dict(entity_id="Q1", pid="P2", value="beta gamma"),
            dict(entity_id="Q1", pid="P1", value="gamma"),
        ]))
        tk = tokenize_documents(docs)
        row = tk.first()
        assert row.string_sequence[:3] == ["Alpha", "beta", "gamma"]
        assert len(row.string_sequence) == len(row.break_levels)
        assert row.sentence_breaks and row.paragraph_breaks

        loc = answer_locations(tk, facts).collect()
        # A9: only the FIRST property (P1 sorts before P2) is emitted
        assert {r.pid for r in loc} == {"P1"}
        r = loc[0]
        # 'gamma' occurs at token idx 2 and 5
        assert r.answer_location == [2, 5]
        assert r.full_match_answer_location == [[2], [5]]

    def test_empty_answer_yields_no_matches(self, spark):
        # a value that tokenizes to zero tokens must emit NO spans, not
        # vacuous full-table matches (find_full_matches empty-sublist
        # contract)
        docs = spark.createDataFrame(pd.DataFrame([
            dict(entity_id="Q1", text="Alpha beta gamma."),
        ]))
        facts = spark.createDataFrame(pd.DataFrame([
            dict(entity_id="Q1", pid="P1", value="   "),
        ]))
        r = answer_locations(tokenize_documents(docs), facts).first()
        assert r.answer_location == []
        assert r.full_match_answer_location == []


class TestIO:
    def test_jsonl_round_trip(self, spark, tmp_path):
        from xwikire_spark.sources.io import read_jsonl, write_jsonl

        df = spark.createDataFrame(pd.DataFrame([
            dict(id="a", text="héllo wörld"), dict(id="b", text="ಕನ್ನಡ")]))
        p = str(tmp_path / "out.jsonl")
        write_jsonl(df, p)
        back = read_jsonl(spark, p)
        assert {(r.id, r.text) for r in back.collect()} == {
            ("a", "héllo wörld"), ("b", "ಕನ್ನಡ")}

    def test_templates_csv(self, spark, tmp_path):
        from xwikire_spark.sources.io import read_templates_csv

        p = tmp_path / "templates.csv"
        p.write_text(
            "P19,born,eng,google,Where was XXX born?\n"
            "P19,born,eng,google,\n"
            "P20,died,eng,google,Where did XXX die?\n",
            encoding="utf8",
        )
        t = read_templates_csv(spark, str(p)).collect()
        assert {(r.prop_id, r.template) for r in t} == {
            ("P19", "Where was XXX born?"), ("P20", "Where did XXX die?")}

    def test_conll_sink(self, spark, tmp_path):
        from xwikire_spark.sources.io import write_conll

        df = spark.createDataFrame(pd.DataFrame([
            dict(tokens=["A", "b", "."], tags=["DT", "NN", "."]),
        ]))
        p = str(tmp_path / "conll")
        write_conll(df, p)
        text = spark.read.text(p).collect()
        vals = [r.value for r in text]
        assert "A\tDT" in vals and "b\tNN" in vals

    def test_squad_source(self, spark, tmp_path):
        from xwikire_spark.sources.io import read_squad_json

        p = tmp_path / "squad.json"
        p.write_text(
            '{"data": [{"paragraphs": [{"qas": '
            '[{"question": "Who?", "id": "q-1"}]}]}]}',
            encoding="utf8",
        )
        rows = read_squad_json(spark, str(p)).collect()
        assert [(r.question, r.q_id) for r in rows] == [("Who?", "q-1")]
