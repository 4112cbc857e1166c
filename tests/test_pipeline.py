"""End-to-end pipeline tests: Spark output vs the pure-Python oracle
(reference semantics), planted-fact recall, per-turn text equality,
canonicalization, and manifest resume."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from oracle.reference_impl import extract_triples_oracle, precision_recall
from xwikire_spark import datagen
from xwikire_spark.functions.udfs import tokenize_udf
from xwikire_spark.kernels.tokenizer import rebuild_text
from xwikire_spark.pipeline.canonicalize import (
    canonical_entity_map,
    canonicalize_triples,
)
from xwikire_spark.pipeline.extraction import (
    extract_triples,
    pair_mentions_in_window,
)
from xwikire_spark.pipeline.manifests import pending_buckets, run_with_manifests

TRIPLE_KEY = ["conv_id", "subj", "pred", "obj", "turn_idx", "sent_idx",
              "evidence", "id"]


@pytest.fixture(scope="module")
def corpus(spark):
    rows, planted = datagen.generate_transcripts(n_convs=40, turns_per_conv=10)
    transcripts = spark.createDataFrame(pd.DataFrame(rows))
    alias_df = spark.createDataFrame(pd.DataFrame(datagen.alias_rows()))
    pred_df = spark.createDataFrame(pd.DataFrame(datagen.predicate_rows()))
    return rows, planted, transcripts, alias_df, pred_df


def _oracle(rows):
    alias_pairs = [(a, e) for a, e, _, _ in datagen.ALIASES]
    pred_surfaces = []
    for pid, label, aliases in datagen.PREDICATES:
        pred_surfaces.append((label, pid))
        pred_surfaces.extend((a, pid) for a in aliases)
    return extract_triples_oracle(rows, alias_pairs, pred_surfaces)


class TestExtraction:
    def test_matches_oracle_exactly(self, spark, corpus):
        rows, _, transcripts, alias_df, pred_df = corpus
        got = extract_triples(transcripts, alias_df, pred_df).select(
            *TRIPLE_KEY).collect()
        want = _oracle(rows)

        got_set = {tuple(r[k] for k in TRIPLE_KEY) for r in got}
        want_set = {tuple(w[k] for k in TRIPLE_KEY) for w in want}
        p, r = precision_recall(got_set, want_set)
        # BASELINE target is P/R >= 0.95; same-semantics construction gives 1.0
        assert p == 1.0 and r == 1.0, (
            f"P={p:.3f} R={r:.3f}; spark-only={list(got_set - want_set)[:3]} "
            f"oracle-only={list(want_set - got_set)[:3]}"
        )

    def test_planted_facts_covered(self, corpus):
        """Every planted fact the reference's own distant-supervision test
        (\\b co-occurrence, src/builders/QA.py:76-84) would accept must be
        covered. Aliases ending in combining marks (Kannada) legitimately
        fail \\b at a punctuation boundary — in the reference too — and are
        excluded by using the same kernel as the gate."""
        from xwikire_spark.kernels.matching import distant_supervision
        from xwikire_spark.kernels.segmenter import segment_sentences

        rows, planted, *_ = corpus
        texts = {(r["conv_id"], r["turn_idx"]): r["text"] for r in rows}
        want = _oracle(rows)
        by_conv_pid = {(w["conv_id"], w["pred"]) for w in want}

        coverable = [
            f for f in planted
            if distant_supervision(
                f.obj_alias, f.subj_alias,
                segment_sentences(texts[(f.conv_id, f.turn_idx)]),
            )
        ]
        # ~11% of planted facts use the Kannada alias whose final combining
        # mark defeats \b (reference-parity); the rest must be coverable.
        assert len(coverable) / len(planted) > 0.85  # generator health
        missed = [f for f in coverable
                  if (f.conv_id, f.pid) not in by_conv_pid]
        assert not missed, missed[:5]

    def test_jvm_prefilter_matches_unfiltered(self, spark, corpus,
                                              monkeypatch):
        """Round-4 scaling lever: the JVM rlike pre-filter in front of the
        fused kernel is a NECESSARY-condition filter — output must be
        bit-identical with it on or off, including on the Kannada turns
        whose combining marks make Java \\b diverge from Python \\b (those
        must bypass the filter rather than be judged by Java semantics).
        The filter is off when the dictionaries exceed JVM_MAX_SURFACES,
        so a cap of 0 switches it off."""
        from xwikire_spark.pipeline import extraction

        _, _, transcripts, alias_df, pred_df = corpus
        cols = TRIPLE_KEY + ["subj_surface", "pred_surface", "obj_surface"]
        on_df = extract_triples(transcripts, alias_df, pred_df)
        monkeypatch.setattr(extraction, "JVM_MAX_SURFACES", 0)
        off_df = extract_triples(transcripts, alias_df, pred_df)
        on = {tuple(r[k] for k in cols)
              for r in on_df.select(*cols).collect()}
        off = {tuple(r[k] for k in cols)
               for r in off_df.select(*cols).collect()}
        assert on == off and len(on) > 0
        # the filter must be IN the plan when on (codegen-side RLike before
        # the Arrow hop), and absent when off
        # analyzed plan, not optimized: the test corpus is a LocalRelation,
        # which Catalyst folds deterministic filters into at optimize time
        plan_on = on_df._jdf.queryExecution().analyzed().toString()
        plan_off = off_df._jdf.queryExecution().analyzed().toString()
        assert "RLIKE" in plan_on.upper()
        assert "RLIKE" not in plan_off.upper()

    def test_dictionary_pattern_order_is_fixed(self):
        """Equal-length surfaces are ordered by the surface, not by set
        iteration order, so the Python regex and the prefilter's rlike
        literal (and the plan text embedding it) do not depend on the
        process's hash seed. Checked against a literal: 8 surfaces have
        8! orders, and the literal is the sorted one."""
        from xwikire_spark.functions.udfs import _compile_dictionary
        from xwikire_spark.pipeline.extraction import _java_dict_pattern

        pairs = [(s, f"Q{i}") for i, s in enumerate(
            ["Paris", "Lima", "Oslo", "Kyiv", "Bern", "Riga", "Sofia",
             "Minsk"])]
        body = "Minsk|Paris|Sofia|Bern|Kyiv|Lima|Oslo|Riga"
        assert _java_dict_pattern(pairs) == rf"(?U)\b(?:{body})\b"
        assert _compile_dictionary(pairs)[0].pattern == rf"\b(?:{body})\b"

    def test_join_strategy_matches_broadcast(self, spark, corpus):
        """The join-based dictionary path (no broadcast, dictionaries stay
        distributed) must reproduce the fused-automaton path exactly —
        including overlapping-alias consumption (Einstein inside Albert
        Einstein) and alias collisions (Paris -> Q4 and Q9)."""
        _, _, transcripts, alias_df, pred_df = corpus
        cols = TRIPLE_KEY + ["sent_idx", "subj_surface", "pred_surface",
                             "obj_surface"]
        a = {tuple(r[k] for k in cols)
             for r in extract_triples(transcripts, alias_df, pred_df)
             .select(*cols).collect()}
        b = {tuple(r[k] for k in cols)
             for r in extract_triples(
                 transcripts, alias_df, pred_df, dict_strategy="join")
             .select(*cols).collect()}
        assert a == b, (
            f"broadcast-only={list(a - b)[:3]} join-only={list(b - a)[:3]}"
        )

    @pytest.mark.parametrize("strategy", ["jvm", "auto", "bogus"])
    def test_unknown_dict_strategy_raises(self, corpus, strategy):
        """Only "broadcast" and "join" exist; any other value (a removed
        tier, a typo) must fail loudly instead of running broadcast."""
        _, _, transcripts, alias_df, pred_df = corpus
        with pytest.raises(ValueError, match="dict_strategy"):
            extract_triples(
                transcripts, alias_df, pred_df, dict_strategy=strategy
            )

    def test_jvm_strategy_routes_exotic_text_to_python(self, spark, corpus):
        """Turns containing engine-divergent characters are ineligible for
        Java-side judgement: the prefilter lets them through to Python."""
        from xwikire_spark.pipeline.extraction import jvm_eligible

        _, _, transcripts, _, _ = corpus
        flags = {
            r["text"]: r["ok"]
            for r in transcripts.select(
                "text", jvm_eligible().alias("ok")
            ).collect()
        }
        kannada = [t for t in flags if "ಬ" in t or "ಸ" in t]
        assert kannada and all(flags[t] is False for t in kannada)
        plain = [t for t in flags if t.isascii() and "\t" not in t]
        assert plain and all(flags[t] for t in plain)

    def test_jvm_plan_compiles_at_surface_cap(self, spark):
        """1000-surface dictionaries (the JVM_MAX_SURFACES cap) keep the
        prefilter on and must build, analyze and run in seconds — the
        1000-way rlike literal must not be a plan-size bomb (the
        IVF-centroid lesson)."""
        import time

        t = spark.createDataFrame(
            [("c1", 0, "alias7 and alias13 rel5 here")],
            "conv_id string, turn_idx int, text string",
        )
        aliases = spark.createDataFrame(
            [(f"alias{i}", f"Q{i}") for i in range(1000)],
            "alias string, entity_id string",
        )
        preds = spark.createDataFrame(
            [(f"P{i}", f"rel{i}", []) for i in range(1000)],
            "pid string, label string, aliases array<string>",
        )
        t0 = time.time()
        df = extract_triples(t, aliases, preds)
        plan = df._jdf.queryExecution().analyzed().toString()
        rows = df.collect()
        assert time.time() - t0 < 60
        assert "RLIKE" in plan.upper()
        assert {(r["subj"], r["pred"], r["obj"]) for r in rows} == {
            ("Q7", "P5", "Q13")
        }

    def test_join_strategy_100k_surface_dictionary(self, spark, corpus):
        """A >100k-surface alias dictionary through the join path: the
        padding surfaces never occur in the corpus, so the result must be
        identical to the small-dictionary run — and the dictionary is never
        collected to the driver."""
        _, _, transcripts, alias_df, pred_df = corpus
        pad = spark.range(100_000).select(
            F.concat(F.lit("zqx"), F.col("id"), F.lit("pad"),
                     F.col("id")).alias("alias"),
            F.concat(F.lit("QPAD"), F.col("id")).alias("entity_id"),
        )
        big = alias_df.select("alias", "entity_id").unionByName(pad)
        small = {tuple(r[k] for k in TRIPLE_KEY)
                 for r in extract_triples(
                     transcripts, alias_df, pred_df, dict_strategy="join")
                 .select(*TRIPLE_KEY).collect()}
        padded = {tuple(r[k] for k in TRIPLE_KEY)
                  for r in extract_triples(
                      transcripts, big, pred_df, dict_strategy="join")
                  .select(*TRIPLE_KEY).collect()}
        assert small == padded

    def test_triple_id_is_reference_sha1(self, spark, corpus):
        import hashlib

        _, _, transcripts, alias_df, pred_df = corpus
        row = extract_triples(transcripts, alias_df, pred_df).first()
        expected = hashlib.sha1(
            f"{row.subj} {row.pred} {row.obj}".encode()
        ).hexdigest()
        assert row.id == expected

    def test_per_turn_text_equality(self, spark, corpus):
        # input_hint invariant: tokenization must preserve each turn's text
        _, _, transcripts, _, _ = corpus
        t = transcripts.withColumn("tk", tokenize_udf("text"))
        bad = 0
        for r in t.select("text", "tk.tokens", "tk.breaks").collect():
            if rebuild_text(r.tokens, r.breaks) != r.text:
                bad += 1
        assert bad == 0

    def test_window_pairing(self, spark):
        # mentions with kg_mentions_df's columns: pairs within 2 turns of
        # one conversation, across a bucket boundary (turns 1 and 3), none
        # at distance 3, none of an entity with itself, a repeated mention
        # counted once, and a same-turn pair ordered by entity id
        mentions = spark.createDataFrame(
            [("c1", 0, "one", "Q1", 1), ("c1", 0, "two", "Q2", 9),
             ("c1", 1, "three", "Q3", 1), ("c1", 3, "one", "Q1", 1),
             ("c1", 6, "four", "Q4", 1),
             ("c2", 0, "one", "Q1", 1), ("c2", 0, "one", "Q1", 20),
             ("c2", 2, "two", "Q2", 1), ("c2", 2, "one", "Q1", 9),
             ("c3", 0, "five", "Q5", 1)],
            "conv_id string, turn_idx int, alias string, entity_id string, "
            "pos int",
        )
        rows = pair_mentions_in_window(mentions, max_turn_distance=2).select(
            "conv_id", "entity_a", "entity_b", "turn_a", "turn_b"
        ).collect()
        assert sorted(tuple(r) for r in rows) == [
            ("c1", "Q1", "Q2", 0, 0),
            ("c1", "Q1", "Q3", 0, 1),
            ("c1", "Q2", "Q3", 0, 1),
            ("c1", "Q3", "Q1", 1, 3),
            ("c2", "Q1", "Q2", 0, 2),
            ("c2", "Q1", "Q2", 2, 2),
        ]


class TestCanonicalization:
    def test_collision_merged(self, spark, corpus):
        *_, alias_df, _ = corpus
        m = {r.entity_id: r.canonical_id
             for r in canonical_entity_map(alias_df).collect()}
        # "Paris" maps to both Q4 and Q9 -> one component, min id wins
        assert m["Q4"] == m["Q9"] == "Q4"
        # unrelated entities stay themselves
        assert m["Q1"] == "Q1" and m["Q2"] == "Q2"

    def test_triples_rewritten(self, spark, corpus):
        _, _, transcripts, alias_df, pred_df = corpus
        t = extract_triples(transcripts, alias_df, pred_df)
        c = canonicalize_triples(t, alias_df)
        assert c.where(F.col("subj") == "Q9").count() == 0
        assert c.where(F.col("obj") == "Q9").count() == 0
        # ids re-keyed consistently
        row = c.first()
        import hashlib

        assert row.id == hashlib.sha1(
            f"{row.subj} {row.pred} {row.obj}".encode()
        ).hexdigest()
        # a precomputed map (perfbench's traced run passes one) rewrites
        # exactly as the alias-dict form does
        cols = ["id", "subj", "pred", "obj", "conv_id", "turn_idx"]
        pre = canonicalize_triples(
            t, None, entity_map=canonical_entity_map(alias_df)
        )
        assert {tuple(r) for r in pre.select(*cols).collect()} \
            == {tuple(r) for r in c.select(*cols).collect()}

    def test_driver_map_matches_distributed(self, spark, monkeypatch):
        """The driver path (alias table within the bound) and the
        collision_edges + connected_components path (bound 0) give the
        same map: a chain across surfaces merges, while a null alias, a
        null entity_id and a surface over the fan-out cap link nothing."""
        from xwikire_spark.pipeline import graph
        from xwikire_spark.pipeline.canonicalize import (
            DEFAULT_MAX_ALIAS_FANOUT,
        )

        hot = [f"H{i:04d}" for i in range(DEFAULT_MAX_ALIAS_FANOUT + 1)]
        rows = (
            [("a", "Q1"), ("a", "Q2"), ("b", "Q2"), ("b", "Q3"),
             ("a", "Q1"), (None, "Q4"), (None, "Q5"), ("c", None),
             ("c", "Q6"), ("d", "Q7")]
            + [("hot", h) for h in hot]
        )
        alias_df = spark.createDataFrame(
            pd.DataFrame(rows, columns=["alias", "entity_id"])
        )

        def entity_map():
            m = canonical_entity_map(alias_df)
            assert m.columns == ["entity_id", "canonical_id"]
            return sorted(map(tuple, m.collect()), key=repr)

        on_driver = entity_map()
        monkeypatch.setattr(graph, "DRIVER_LOOP_MAX_ROWS", 0)
        assert entity_map() == on_driver
        want = {"Q1": "Q1", "Q2": "Q1", "Q3": "Q1", "Q4": "Q4", "Q5": "Q5",
                "Q6": "Q6", "Q7": "Q7", None: None, **{h: h for h in hot}}
        assert on_driver == sorted(want.items(), key=repr)


def _text_transcripts(spark, rows):
    """Transcripts of one turn per ``(conv_id, text)`` row."""
    return spark.createDataFrame(
        [(c, i, t) for i, (c, t) in enumerate(rows)],
        "conv_id string, turn_idx int, text string",
    )


def _text_edges(df):
    """One triple per turn of text ``"<subj> <obj> <conv>"``: ``-`` is a
    null subj or obj, and a third word other than ``+`` a null conv_id."""
    w = F.split("text", " ")
    return df.select(
        F.when(w[2] == "+", F.col("conv_id")).alias("conv_id"),
        F.when(w[0] != "-", w[0]).alias("subj"),
        F.lit("p").alias("pred"),
        F.when(w[1] != "-", w[1]).alias("obj"),
        "turn_idx",
    )


class TestManifests:
    def test_first_run_reads_empty_manifest(self, spark, tmp_path):
        """No ``_manifests`` yet: the existence check goes through the
        Hadoop FileSystem and yields an empty frame of the manifest
        schema instead of a caught PATH_NOT_FOUND read."""
        from xwikire_spark.pipeline.manifests import (
            MANIFEST_SCHEMA,
            read_manifest,
        )

        out = str(tmp_path / "fresh")
        got = read_manifest(spark, out)
        assert got.count() == 0
        assert got.schema == spark.createDataFrame([], MANIFEST_SCHEMA).schema
        spark.createDataFrame([(3, 1, 2, 5, 7, 9, 1)], MANIFEST_SCHEMA)\
            .write.parquet(str(tmp_path / "fresh" / "_manifests"))
        assert [tuple(r) for r in read_manifest(spark, out).collect()] \
            == [(3, 1, 2, 5, 7, 9, 1)]

    def test_manifest_read_names_no_hidden_root(self, spark, tmp_path):
        """The manifest scan is planned over the part files, not the
        ``_manifests`` directory: Spark counts a root path whose name
        starts with ``_`` as hidden and warns on every resume run."""
        from xwikire_spark.pipeline.manifests import (
            MANIFEST_SCHEMA,
            read_manifest,
        )

        out = str(tmp_path / "kg")
        for seq in (1, 2):
            spark.createDataFrame([(3, 1, 2, 5, 7, 9, seq)], MANIFEST_SCHEMA)\
                .coalesce(1).write.mode("append")\
                .parquet(str(tmp_path / "kg" / "_manifests"))
        got = read_manifest(spark, out)
        leaves = got._jdf.queryExecution().analyzed().collectLeaves()
        assert leaves.length() == 1
        roots = leaves.apply(0).relation().location().rootPaths()
        names = [roots.apply(i).getName() for i in range(roots.length())]
        assert not [n for n in names if n.startswith("_")], names
        assert len(names) == 2
        assert sorted(tuple(r) for r in got.collect()) == [
            (3, 1, 2, 5, 7, 9, 1), (3, 1, 2, 5, 7, 9, 2)
        ]

    # the output's one table format, named in the test id
    @pytest.mark.parametrize("table_format", ["parquet"])
    def test_row_count_matches_frame(self, spark, tmp_path, table_format):
        """The row count ``_run_with_manifests`` returns with its frame
        (collected values only: the written counts of the buckets
        processed now, the latest manifest counts of the others) equals
        the frame's count on a first run, a run with nothing pending, a
        run with one drifted conversation, and a run whose input no
        longer reaches some buckets (their old files go and count 0)."""
        from xwikire_spark.pipeline.manifests import _run_with_manifests

        out = str(tmp_path / "m")
        a = [(f"c{i}", f"a{i} b{i} +") for i in range(8)]
        drifted = a[:-1] + [("c7", "z y +")]
        for rows in (a, a, drifted, drifted[:2]):
            df, n = _run_with_manifests(
                spark, _text_transcripts(spark, rows), _text_edges, out, 4
            )
            assert n == df.count() > 0

    # the output's one table format, named in the test id
    @pytest.mark.parametrize("table_format", ["parquet"])
    def test_buckets_the_input_leaves_lose_their_edges(
        self, spark, tmp_path, monkeypatch, table_format
    ):
        """8 conversations, then 2 of them in the same directory: the
        buckets the 2 no longer reach lose their edges, so the edges,
        the vertices and the row count ``_run_with_manifests`` returns
        equal a fresh run on the 2. Their manifest rows record them as
        empty: a third run over the 2 finds nothing pending. Then an
        empty input leaves no edge, vertex or row, also on the run after
        it, which has nothing pending and no part file to read."""
        from xwikire_spark.pipeline import manifests
        from xwikire_spark.pipeline.graph import materialize_graph

        counts, real = [], manifests._run_with_manifests

        def counted(*a):
            df, n = real(*a)
            counts.append(n)
            return df, n

        monkeypatch.setattr(manifests, "_run_with_manifests", counted)
        rows = [(f"c{i}", f"a{i} b{i} +") for i in range(8)]

        def graph(rows, out):
            edges, vertices = materialize_graph(
                spark, _text_transcripts(spark, rows), _text_edges,
                str(tmp_path / out), n_buckets=4,
            )
            return [sorted(tuple(r) for r in df.collect())
                    for df in (edges, vertices)], counts[-1]

        graph(rows, "g")
        resumed = graph(rows[:2], "g")
        assert resumed == graph(rows[:2], "fresh")
        assert len(resumed[0][0]) == resumed[1] == 2
        assert pending_buckets(
            spark, _text_transcripts(spark, rows[:2]), str(tmp_path / "g"), 4
        ) == []
        assert graph([], "g") == graph([], "g") == ([[], []], 0)

    def test_resume_skips_done_buckets(self, spark, corpus, tmp_path):
        _, _, transcripts, alias_df, pred_df = corpus
        out = str(tmp_path / "kg")
        n_buckets = 4

        def build(df):
            return extract_triples(df, alias_df, pred_df)

        full = run_with_manifests(spark, transcripts, build, out, n_buckets)
        n1 = full.count()
        assert n1 > 0
        # second run: nothing pending, output unchanged
        assert pending_buckets(spark, transcripts, out, n_buckets) == []
        again = run_with_manifests(spark, transcripts, build, out, n_buckets)
        assert again.count() == n1

    def test_input_drift_reprocesses_only_changed_bucket(
        self, spark, corpus, tmp_path
    ):
        rows, _, transcripts, alias_df, pred_df = corpus
        out = str(tmp_path / "kg2")
        n_buckets = 4

        def build(df):
            return extract_triples(df, alias_df, pred_df)

        from xwikire_spark.pipeline.manifests import (
            bucket_fingerprints,
            read_manifest,
        )

        seen = []

        def check_new_rows(df, run_seq, buckets=None):
            """The last run appended one manifest row per bucket in
            ``buckets`` (default: every bucket of ``df``), carrying the
            bucket's fingerprint, its written triple count and
            ``run_seq``."""
            new = [tuple(r) for r in read_manifest(spark, out).collect()
                   if tuple(r) not in seen]
            seen.extend(new)
            fp = {r["part_bucket"]: (r["convs_in"], r["rows_in"],
                                     r["input_hash"])
                  for r in bucket_fingerprints(df, n_buckets).collect()}
            written = dict(
                spark.read.parquet(out + "/triples")
                .groupBy(F.col("part_bucket").cast("bigint"))
                .count().collect()
            )
            assert sorted(r[0] for r in new) == sorted(buckets or fp)
            for bucket, convs, n_rows, triples_out, input_hash, _, seq in new:
                assert (convs, n_rows, input_hash) == fp[bucket]
                assert triples_out == written.get(bucket, 0)
                assert seq == run_seq

        run_with_manifests(spark, transcripts, build, out, n_buckets)
        check_new_rows(transcripts, 1)
        # mutate one conversation's text -> exactly its bucket pending
        drifted = transcripts.withColumn(
            "text",
            F.when(
                F.col("conv_id") == "conv-00000",
                F.concat(F.col("text"), F.lit(" Einstein married Curie.")),
            ).otherwise(F.col("text")),
        )
        todo = pending_buckets(spark, drifted, out, n_buckets)
        assert len(todo) == 1
        merged = run_with_manifests(spark, drifted, build, out, n_buckets)
        check_new_rows(drifted, 2, todo)
        # result equals a from-scratch run on the drifted input
        fresh = extract_triples(drifted, alias_df, pred_df)
        got = {tuple(r) for r in
               merged.select("conv_id", "subj", "pred", "obj").collect()}
        want = {tuple(r) for r in
                fresh.select("conv_id", "subj", "pred", "obj").collect()}
        assert got == want
        # back to the original input (A -> B -> A): the bucket's latest
        # manifest row is B's, so it is pending again, and the output
        # equals a from-scratch run on A, row for row
        assert len(pending_buckets(spark, transcripts, out, n_buckets)) == 1
        back = run_with_manifests(spark, transcripts, build, out, n_buckets)
        check_new_rows(transcripts, 3, todo)
        cols = ["id", "subj", "pred", "obj", "conv_id", "turn_idx"]
        assert sorted(map(tuple, back.select(*cols).collect())) == sorted(
            map(tuple, extract_triples(transcripts, alias_df, pred_df)
                .select(*cols).collect())
        )


    def test_local_frames_are_local_relations(
        self, spark, tmp_path, monkeypatch
    ):
        """The frames built on the driver (a first run's empty manifest,
        and the ``_metrics`` row and manifest rows a batch appends) come
        from Arrow tables, so Spark holds them as a LocalRelation: no
        Python RDD, no Python worker to write them."""
        from xwikire_spark.pipeline.manifests import (
            _MANIFEST_COLS,
            _run_with_manifests,
            read_manifest,
        )

        def leaf_kinds(df):
            leaves = df._jdf.queryExecution().analyzed().collectLeaves()
            return {leaves.apply(i).getClass().getSimpleName()
                    for i in range(leaves.length())}

        transcripts = _text_transcripts(
            spark, [(f"c{i}", f"a{i} b{i} +") for i in range(4)]
        )
        built = []
        create = spark.createDataFrame

        def recording(*args, **kwargs):
            built.append(create(*args, **kwargs))
            return built[-1]

        monkeypatch.setattr(spark, "createDataFrame", recording)
        out = str(tmp_path / "kg")
        assert read_manifest(spark, out).count() == 0
        _run_with_manifests(spark, transcripts, _text_edges, out, 4)
        # the empty manifest read above and in the run's plan, then the
        # batch's _metrics row and its manifest rows
        assert [tuple(f.columns) for f in built] == [
            _MANIFEST_COLS, _MANIFEST_COLS,
            ("triples_out", "approx_convs", "approx_subjects",
             "approx_objects", "wall_ms", "n_buckets_processed"),
            _MANIFEST_COLS,
        ]
        assert [leaf_kinds(f) for f in built] == [{"LocalRelation"}] * 4

    def test_resume_after_a_failed_write(self, spark, tmp_path, monkeypatch):
        """Input A, then input B (c7 drifted) whose write job fails after
        the drifted bucket's old files were removed, then A again: the
        third run's triples and the rows ``_run_with_manifests`` counts
        equal a fresh run's on A, and the run after it finds nothing
        pending. The failed batch's intent marker makes the bucket
        pending although A's manifest row matches it again.

        Still open: readers are not isolated from a batch in flight.
        With parquet directories, a read while B runs misses the
        drifted bucket, which only the next run restores."""
        run = _counted_runs(spark, monkeypatch)
        out = str(tmp_path / "kg")

        def failing(df):
            return _text_edges(df).withColumn(
                "subj",
                F.when(
                    F.col("subj") == "drifted",
                    F.raise_error(F.lit("injected failure")),
                ).otherwise(F.col("subj")),
            )

        run(_CRASH_A, out)
        with pytest.raises(Exception, match="injected failure"):
            run(_CRASH_B, out, failing)
        assert run(_CRASH_A, out) == run(_CRASH_A, str(tmp_path / "fresh"))
        assert pending_buckets(
            spark, _text_transcripts(spark, _CRASH_A), out, 4
        ) == []

    def test_resume_after_a_failed_manifest_append(
        self, spark, tmp_path, monkeypatch
    ):
        """Input A, then input B (c7 drifted) whose data commit succeeds
        and whose manifest append fails, then A again: the third run's
        triples and the rows ``_run_with_manifests`` counts equal a fresh
        run's on A (no ``drifted`` triple left from B), and the run after
        it finds nothing pending.

        Still open: readers are not isolated from a batch in flight.
        With parquet directories, a read between B's data commit and the
        next run sees B's triples for c7 although the manifest records
        A's input."""
        from pyspark.sql import DataFrameWriter

        run = _counted_runs(spark, monkeypatch)
        out = str(tmp_path / "kg")
        parquet = DataFrameWriter.parquet

        def failing(self, path, *args, **kwargs):
            if path.endswith("_manifests"):
                raise OSError("injected failure")
            return parquet(self, path, *args, **kwargs)

        run(_CRASH_A, out)
        with monkeypatch.context() as m:
            m.setattr(DataFrameWriter, "parquet", failing)
            with pytest.raises(OSError, match="injected failure"):
                run(_CRASH_B, out)
        assert run(_CRASH_A, out) == run(_CRASH_A, str(tmp_path / "fresh"))
        assert pending_buckets(
            spark, _text_transcripts(spark, _CRASH_A), out, 4
        ) == []


# 8 conversations in 4 buckets, then the same with c7's text drifted
_CRASH_A = [(f"c{i}", f"a{i} b{i} +") for i in range(8)]
_CRASH_B = _CRASH_A[:-1] + [("c7", "drifted y +")]


def _counted_runs(spark, monkeypatch):
    """``run(rows, out, build=_text_edges)``: ``run_with_manifests`` over
    ``rows`` into ``out`` with 4 buckets -> (the sorted rows read back,
    the row count ``_run_with_manifests`` returned with them)."""
    from xwikire_spark.pipeline import manifests

    counts, real = [], manifests._run_with_manifests

    def counted(*a):
        df, n = real(*a)
        counts.append(n)
        return df, n

    monkeypatch.setattr(manifests, "_run_with_manifests", counted)

    def run(rows, out, build=_text_edges):
        df = manifests.run_with_manifests(
            spark, _text_transcripts(spark, rows), build, out, 4
        )
        return sorted(tuple(r) for r in df.collect()), counts[-1]

    return run

class TestGraphMaterialization:
    def test_edges_vertices_and_metrics(self, spark, corpus, tmp_path):
        from xwikire_spark.pipeline.graph import materialize_graph

        _, _, transcripts, alias_df, pred_df = corpus
        out = str(tmp_path / "graph")

        def build(df):
            return extract_triples(df, alias_df, pred_df)

        edges, vertices = materialize_graph(
            spark, transcripts, build, out, n_buckets=4
        )
        n_edges = edges.count()
        assert n_edges > 0
        # vertex degrees reconcile exactly with the edge table
        v = {r.entity_id: r for r in vertices.collect()}
        for r in edges.groupBy("subj").count().collect():
            assert v[r.subj].out_degree == r["count"]
        for r in edges.groupBy("obj").count().collect():
            assert v[r.obj].in_degree == r["count"]
        # observe() metrics landed with the write job (no extra pass)
        m = spark.read.parquet(out + "/_metrics").collect()
        assert len(m) == 1
        assert m[0].triples_out == n_edges
        assert m[0].empty_evidence == 0
        assert m[0].approx_convs > 0

    def test_spark_job_count(self, spark, corpus, tmp_path):
        """A pipeline run (graph write + salience) stays within its Spark
        job budget. Answers with at most n_buckets rows, or as many as
        the alias dictionary, are collected once and used on the driver;
        the bound is the measured count plus 2 for adaptive-execution
        variance."""
        from xwikire_spark.pipeline.graph import (
            entity_salience,
            materialize_graph,
        )

        _, _, transcripts, alias_df, pred_df = corpus
        sc = spark.sparkContext

        def build(df):
            return canonicalize_triples(
                extract_triples(df, alias_df, pred_df), alias_df
            )

        group = "test_spark_job_count"
        sc.setJobGroup(group, group)
        try:
            edges, _ = materialize_graph(
                spark, transcripts, build, str(tmp_path / "g"), n_buckets=4
            )
            assert entity_salience(edges).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        # measured: 16 (27 while the vertex table and the salience answer
        # ran as Spark shuffles and the written parquet was read back with
        # schema inference; 39 while the resume decision, the manifest
        # rows and the entity map ran as Spark shuffles)
        assert n_jobs <= 16 + 2, n_jobs

    def test_rerun_replaces_vertex_table(self, spark, tmp_path):
        """A run over input B in the directory of a run over input A: the
        vertex table read back is exactly ``vertex_table`` of B's edges,
        with no row left from A in a bucket B's entities do not reach."""
        from xwikire_spark.pipeline.graph import (
            materialize_graph,
            vertex_table,
        )

        out = str(tmp_path / "g")
        a = [(f"c{i}", f"a{i} b{i} +") for i in range(8)]
        b = [(f"c{i}", "x y +") for i in range(8)]
        for rows in (a, b):
            edges, vertices = materialize_graph(
                spark, _text_transcripts(spark, rows), _text_edges, out,
                n_buckets=4,
            )
        got = sorted(tuple(r) for r in vertices.drop("part_bucket").collect())
        assert got == [("x", 8, 0, 8), ("y", 0, 8, 8)]
        assert got == sorted(tuple(r) for r in vertex_table(edges).collect())

    def test_writes_leave_session_overwrite_mode(self, spark, tmp_path):
        """The graph and manifest writes choose their partition overwrite
        mode per write: the session's setting is the same after each call
        as before it."""
        from xwikire_spark.pipeline.graph import materialize_graph

        key = "spark.sql.sources.partitionOverwriteMode"
        old = spark.conf.get(key)
        spark.conf.set(key, "STATIC")
        rows = [(f"c{i}", f"a{i} b{i} +") for i in range(4)]
        try:
            run_with_manifests(
                spark, _text_transcripts(spark, rows), _text_edges,
                str(tmp_path / "m"), n_buckets=4,
            )
            assert spark.conf.get(key) == "STATIC"
            materialize_graph(
                spark, _text_transcripts(spark, rows), _text_edges,
                str(tmp_path / "g"), n_buckets=4,
            )
            assert spark.conf.get(key) == "STATIC"
        finally:
            spark.conf.set(key, old)

    # the output's one table format, named in the test id
    @pytest.mark.parametrize("table_format", ["parquet"])
    def test_driver_vertices_match_vertex_table(
        self, spark, tmp_path, monkeypatch, table_format
    ):
        """The vertex table built on the driver equals the one
        ``vertex_table`` aggregates above the bound (monkeypatched to 0):
        multi-edges, a null subj, a null obj and a null conv_id (the null
        entity is one row; conv_mentions counts non-null convs). The
        driver path is taken only at the default bound, and its table is
        written one file per bucket. The returned edges and vertices have
        the schemas an inferred read of the written parquet gives."""
        import os

        from xwikire_spark.pipeline import graph

        rows = [
            ("c1", "a b +"), ("c1", "a b +"), ("c2", "a b +"),
            ("c2", "b a +"), ("c3", "a a +"), ("c1", "- a +"),
            ("c4", "b - +"), ("c4", "c d x"), ("c5", "- - +"),
        ]
        real, calls, got = graph._vertex_frame, [], {}
        monkeypatch.setattr(
            graph, "_vertex_frame",
            lambda *a: calls.append(a) or real(*a),
        )
        for bound in (graph.DRIVER_LOOP_MAX_ROWS, 0):
            monkeypatch.setattr(graph, "DRIVER_LOOP_MAX_ROWS", bound)
            out = str(tmp_path / f"g{bound}")
            n_calls = len(calls)
            edges, vertices = graph.materialize_graph(
                spark, _text_transcripts(spark, rows), _text_edges, out,
                n_buckets=4,
            )
            assert (len(calls) > n_calls) == (bound > 0), bound
            if bound:
                # the driver-built frame is written by one task: one file
                # per bucket
                v_root = os.path.join(out, "vertices")
                for d in os.listdir(v_root):
                    if d.startswith("part_bucket="):
                        files = os.listdir(os.path.join(v_root, d))
                        assert len(
                            [f for f in files if f.endswith(".parquet")]
                        ) == 1, d
            got[bound] = sorted(
                (tuple(r) for r in vertices.collect()), key=repr
            )
            want = sorted(
                (tuple(r) for r in graph.vertex_table(edges).withColumn(
                    "part_bucket", F.pmod(F.xxhash64("entity_id"), F.lit(4))
                ).collect()),
                key=repr,
            )
            assert got[bound] == want, bound
            for df, name in ((edges, "triples"), (vertices, "vertices")):
                inferred = spark.read.parquet(os.path.join(out, name))
                assert df.schema == inferred.schema, name
        assert got[0] == got[graph.DRIVER_LOOP_MAX_ROWS]
        by_id = {r[0]: r[1:4] for r in got[0]}
        assert by_id == {
            "a": (4, 3, 3), "b": (2, 3, 3), "c": (1, 0, 0), "d": (0, 1, 0),
            None: (2, 2, 3),
        }


class TestMentionPathEquivalence:
    def test_randomized_dictionary_equivalence(self, spark):
        """Randomized cross-check (fixed seed): on 60 random one- or
        two-sentence turns, an alias dictionary with overlaps ('beta gamma'
        vs 'beta' vs 'gamma delta') and collisions, and a predicate
        dictionary with a multi-word alias and a collision, the join
        path's greedy fold must reproduce the broadcast automaton's triples
        exactly — every column, evidence and surfaces included. Every
        surface starts and ends with a word character (the join path's
        contract)."""
        import random

        rng = random.Random(99)
        pool = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta",
                "theta", "iota", "kappa"]
        surfaces = [
            ("beta", "E1"), ("beta gamma", "E2"), ("gamma delta", "E3"),
            ("delta", "E4"), ("eps zeta eta", "E5"), ("zeta", "E6"),
            # collision: one surface, two ids
            ("kappa", "E7"), ("kappa", "E8"),
        ]
        predicates = [
            {"pid": "P1", "label": "theta", "aliases": ["iota theta"]},
            # collision with P1's alias word: 'iota' alone is P2 and P3
            {"pid": "P2", "label": "iota", "aliases": []},
            {"pid": "P3", "label": "alpha eta", "aliases": ["iota"]},
        ]
        rows = []
        for i in range(60):
            text = ". ".join(
                " ".join(rng.choice(pool) for _ in range(rng.randint(6, 14)))
                for _ in range(rng.randint(1, 2))
            ) + "."
            rows.append(dict(conv_id=f"c{i % 7}", turn_idx=i // 7,
                             text=text))
        transcripts = spark.createDataFrame(pd.DataFrame(rows))
        alias_df = spark.createDataFrame(
            pd.DataFrame([{"alias": a, "entity_id": e} for a, e in surfaces])
        )
        pred_df = spark.createDataFrame(
            pd.DataFrame(predicates), "pid string, label string, "
            "aliases array<string>",
        )
        out = {
            strategy: extract_triples(
                transcripts, alias_df, pred_df, dict_strategy=strategy
            )
            for strategy in ("broadcast", "join")
        }
        cols = out["broadcast"].columns
        assert out["join"].columns == cols
        broadcast, join = (
            {tuple(r) for r in out[s].select(*cols).collect()}
            for s in ("broadcast", "join")
        )
        assert broadcast == join, (
            f"broadcast-only={list(broadcast - join)[:4]} "
            f"join-only={list(join - broadcast)[:4]}"
        )
        assert len(broadcast) > 100  # the corpus actually exercises it

    def test_auto_strategy_is_single_kernel_pass(self, spark, corpus):
        """The default is the fused broadcast kernel: the plan must contain
        NO regexp_extract_all (no literal dictionary in the plan) and
        exactly one Python chain, also above the surface cap."""
        _, _, transcripts, alias_df, pred_df = corpus
        pad = spark.range(1500).select(
            F.concat(F.lit("zqx"), F.col("id")).alias("alias"),
            F.concat(F.lit("QP"), F.col("id")).alias("entity_id"),
        )
        big = alias_df.select("alias", "entity_id").unionByName(pad)
        plan = (
            extract_triples(transcripts, big, pred_df)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "regexp_extract_all" not in plan
        assert plan.count("ArrowEvalPython") + plan.count("MapInPandas") == 1
        # and values still match the small-dictionary run (padding never hits)
        small = {tuple(r) for r in extract_triples(
            transcripts, alias_df, pred_df, dict_strategy="broadcast"
        ).select(*TRIPLE_KEY).collect()}
        got = {tuple(r) for r in extract_triples(
            transcripts, big, pred_df
        ).select(*TRIPLE_KEY).collect()}
        assert got == small


class TestPageRank:
    """pipeline.graph.pagerank vs an independent numpy power iteration
    on a pinned graph exercising every structural case: hub, chain,
    dangling vertex, isolated vertex, 2-cycle."""

    EDGES = [
        ("a", "b"), ("a", "c"), ("a", "d"),   # hub fan-out
        ("b", "c"), ("c", "d"),               # chain
        ("d", "a"),                           # cycle back
        ("e", "a"),                           # feeder
        ("c", "f"),                           # f is DANGLING (no out)
        # g is ISOLATED (only via explicit vertices)
    ]
    VERTS = list("abcdefg")

    def _numpy_ranks(self, damping=0.85, n_iter=10, ids=None, edges=None):
        import numpy as np

        ids = ids if ids is not None else self.VERTS
        edges = edges if edges is not None else self.EDGES
        idx = {v: i for i, v in enumerate(ids)}
        n = len(ids)
        out = [0] * n
        for s, _ in edges:
            out[idx[s]] += 1
        r = np.ones(n)
        for _ in range(n_iter):
            msg = np.zeros(n)
            for s, d in edges:
                msg[idx[d]] += r[idx[s]] / out[idx[s]]
            dang = sum(r[i] for i in range(n) if out[i] == 0)
            r = (1 - damping) + damping * (msg + dang / n)
        return {v: r[idx[v]] for v in ids}

    def test_matches_numpy_power_iteration(self, spark):
        import pandas as pd

        from xwikire_spark.pipeline.graph import pagerank

        e = spark.createDataFrame(
            pd.DataFrame(self.EDGES, columns=["src", "dst"])
        )
        v = spark.createDataFrame(pd.DataFrame({"id": self.VERTS}))
        got = {r["id"]: r["rank"] for r in pagerank(e, vertices=v).collect()}
        want = self._numpy_ranks()
        assert set(got) == set(want)
        for k in want:
            assert abs(got[k] - want[k]) < 1e-9, (k, got[k], want[k])
        # normalization invariant: ranks sum to N
        assert abs(sum(got.values()) - len(self.VERTS)) < 1e-9
        # structure sanity: the hub 'a' (fed by d and e) outranks the
        # isolated vertex, which bottoms out at the no-inlink fixpoint
        assert got["a"] > got["g"]
        min_rank = got["g"]
        assert all(r >= min_rank - 1e-12 for r in got.values())

    def test_entity_salience_matches_numpy(self, spark):
        """VERDICT r4 #5: the served salience frame (pagerank ⋈ vertex
        degrees, global_rank top-k) against the same numpy differential
        plus independently-counted degree stats."""
        import pandas as pd

        from xwikire_spark.pipeline.graph import entity_salience

        convs = ["c1", "c2", "c1", "c2", "c1", "c2", "c1", "c1"]
        triples = spark.createDataFrame(
            pd.DataFrame(
                [(s, "related_to", o, c)
                 for (s, o), c in zip(self.EDGES, convs)],
                columns=["subj", "pred", "obj", "conv_id"],
            )
        )
        got = entity_salience(triples, top_k=4).collect()
        # vertices derive from edges: a..f (no isolated g)
        ids = sorted({s for s, _ in self.EDGES}
                     | {o for _, o in self.EDGES})
        want = self._numpy_ranks(ids=ids)
        order = sorted(want, key=lambda v: (-want[v], v))
        assert [r["entity_id"] for r in got] == order[:4]
        assert [r["salience_rank"] for r in got] == [1, 2, 3, 4]
        outd = {v: sum(1 for s, _ in self.EDGES if s == v) for v in ids}
        ind = {v: sum(1 for _, o in self.EDGES if o == v) for v in ids}
        cm = {
            v: len({c for (s, o), c in zip(self.EDGES, convs)
                    if v in (s, o)})
            for v in ids
        }
        for r in got:
            v = r["entity_id"]
            assert abs(r["rank"] - want[v]) < 1e-6, (v, r["rank"], want[v])
            assert r["out_degree"] == outd[v]
            assert r["in_degree"] == ind[v]
            assert r["conv_mentions"] == cm[v]

    def test_incomplete_vertices_raise(self, spark):
        """ADVICE r4 (low): a supplied vertices frame missing an edge
        endpoint would silently leak rank mass (left-join drop) — it must
        raise instead of violating the ranks-sum-to-N invariant."""
        import pandas as pd
        import pytest as _pytest

        from xwikire_spark.pipeline.graph import pagerank

        e = spark.createDataFrame(
            pd.DataFrame(self.EDGES, columns=["src", "dst"])
        )
        v = spark.createDataFrame(pd.DataFrame({"id": list("abcde")}))  # no f
        with _pytest.raises(ValueError, match="superset"):
            pagerank(e, vertices=v)

    def test_multigraph_matches_per_edge_rows(self, spark):
        """Parallel edges (cnt > 1 after the weighted-edge collapse)
        against a reference that sums one term per edge ROW."""
        import pandas as pd

        from xwikire_spark.pipeline.graph import pagerank

        multi = self.EDGES + [("a", "b")] * 3 + [("c", "f")] * 2 \
            + [("e", "a")]
        e = spark.createDataFrame(pd.DataFrame(multi, columns=["src", "dst"]))
        v = spark.createDataFrame(pd.DataFrame({"id": self.VERTS}))
        got = {r["id"]: r["rank"] for r in pagerank(e, vertices=v).collect()}
        want = self._numpy_ranks(edges=multi)
        assert set(got) == set(want)
        for k in want:
            assert abs(got[k] - want[k]) < 1e-9, (k, got[k], want[k])

    def test_vertex_check_runs_before_any_checkpoint(self, spark, monkeypatch):
        """The ValueError for an incomplete vertices frame comes before
        the distinct-edge aggregate is materialized."""
        import pandas as pd
        import pytest as _pytest

        from xwikire_spark.pipeline.graph import pagerank

        e = spark.createDataFrame(
            pd.DataFrame(self.EDGES, columns=["src", "dst"])
        )
        v = spark.createDataFrame(pd.DataFrame({"id": list("abcde")}))

        def no_checkpoint(self, *a, **k):
            raise AssertionError("checkpoint before the vertex check")

        monkeypatch.setattr(type(e), "localCheckpoint", no_checkpoint)
        with _pytest.raises(ValueError, match="superset"):
            pagerank(e, vertices=v)

    def test_null_endpoint_edges_are_dropped(self, spark):
        """Derived vertices are the non-null endpoints; an edge with a
        null endpoint carries no rank and adds no out-degree (the
        distributed loop once kept a null vertex and leaked rank mass)."""
        from xwikire_spark.pipeline.graph import pagerank

        extra = [(None, "a"), ("c", None), ("g", None), (None, None)]
        e = spark.createDataFrame(
            self.EDGES + extra, "src string, dst string"
        )
        got = {r["id"]: r["rank"] for r in pagerank(e).collect()}
        want = self._numpy_ranks(ids=self.VERTS)
        assert set(got) == set(want)
        for k in want:
            assert abs(got[k] - want[k]) < 1e-9, (k, got[k], want[k])

    def test_uniform_on_cycle_and_derived_vertices(self, spark):
        import pandas as pd

        from xwikire_spark.pipeline.graph import pagerank

        cyc = [("x", "y"), ("y", "z"), ("z", "x")]
        e = spark.createDataFrame(pd.DataFrame(cyc, columns=["src", "dst"]))
        got = {r["id"]: r["rank"] for r in pagerank(e).collect()}
        # vertices derived from edges; symmetric cycle -> all ranks 1.0
        assert set(got) == {"x", "y", "z"}
        assert all(abs(r - 1.0) < 1e-12 for r in got.values())


class TestPageRankDistributed(TestPageRank):
    """Every TestPageRank case again on the distributed loop: a bound of
    0 rows sends every graph past the driver path."""

    @pytest.fixture(autouse=True)
    def _distributed(self, monkeypatch):
        from xwikire_spark.pipeline import graph

        monkeypatch.setattr(graph, "DRIVER_LOOP_MAX_ROWS", 0)


def test_pagerank_vertices_count_toward_the_bound(spark, monkeypatch):
    """The bound counts distinct edges plus supplied vertex rows: one
    below that sum runs the distributed loop, one at it the driver path,
    and both match the numpy reference."""
    from xwikire_spark.pipeline import graph

    ref = TestPageRank()
    e = spark.createDataFrame(pd.DataFrame(ref.EDGES, columns=["src", "dst"]))
    v = spark.createDataFrame(pd.DataFrame({"id": ref.VERTS}))
    n_rows = len(set(ref.EDGES)) + len(ref.VERTS)
    want = ref._numpy_ranks()
    real = graph._pagerank_numpy
    for bound, on_driver in ((n_rows - 1, False), (n_rows, True)):
        calls = []
        monkeypatch.setattr(graph, "DRIVER_LOOP_MAX_ROWS", bound)
        monkeypatch.setattr(
            graph, "_pagerank_numpy",
            lambda *a, **k: calls.append(a) or real(*a, **k),
        )
        got = {r["id"]: r["rank"]
               for r in graph.pagerank(e, vertices=v).collect()}
        assert bool(calls) == on_driver, bound
        assert set(got) == set(want)
        for k in want:
            assert abs(got[k] - want[k]) < 1e-9, (bound, k)


SALIENCE_CASES = {
    "multi_edges": [
        ("a", "b", "c1"), ("a", "b", "c1"), ("a", "b", "c2"),
        ("b", "a", "c1"), ("b", "c", "c2"), ("c", "a", "c3"),
    ],
    "null_subj_obj_conv": [
        ("a", "b", "c1"), (None, "a", "c1"), ("b", None, "c2"),
        ("b", "c", None), (None, None, "c3"), ("c", "a", "c1"),
        ("d", None, "c4"),
    ],
    "dangling": [
        ("a", "b", "c1"), ("a", "c", "c1"), ("b", "d", "c2"),
        ("c", "d", "c2"), ("e", "a", "c3"),
    ],
    "rank_ties": [
        ("c", "d", "c1"), ("a", "b", "c1"), ("e", "f", "c2"),
        ("d", "c", "c2"), ("b", "a", "c3"), ("g", "h", "c3"),
    ],
}


@pytest.mark.parametrize("top_k", [3, 100])
@pytest.mark.parametrize("case", sorted(SALIENCE_CASES))
def test_entity_salience_driver_matches_distributed(
    spark, monkeypatch, case, top_k
):
    """``entity_salience`` computed on the driver and, with the bound
    monkeypatched to 0, by the Spark aggregates and the distributed
    PageRank loop: same schema, same entities in the same order, same
    degree stats and ranks within 1e-9 — on multi-edges, null
    subj/obj/conv_id, dangling vertices, exact rank ties (ordered by
    entity_id) and a top_k larger than the entity count."""
    from xwikire_spark.pipeline import graph

    triples = spark.createDataFrame(
        SALIENCE_CASES[case], "subj string, obj string, conv_id string"
    )
    real, calls, got = graph._salience_numpy, [], {}
    monkeypatch.setattr(
        graph, "_salience_numpy",
        lambda *a, **k: calls.append(a) or real(*a, **k),
    )
    for bound in (graph.DRIVER_LOOP_MAX_ROWS, 0):
        monkeypatch.setattr(graph, "DRIVER_LOOP_MAX_ROWS", bound)
        n_calls = len(calls)
        df = graph.entity_salience(triples, top_k=top_k)
        got[bound] = (df.schema, [tuple(r) for r in df.collect()])
        assert (len(calls) > n_calls) == (bound > 0), bound
    (schema, rows), (schema0, rows0) = got.values()
    assert schema == schema0
    ids = {v for t in SALIENCE_CASES[case] for v in t[:2] if v is not None}
    assert len(rows) == min(top_k, len(ids))
    assert [r[0] for r in rows] == list(range(1, len(rows) + 1))
    assert [r[1] for r in rows] == [r[1] for r in rows0]
    assert [r[3:] for r in rows] == [r[3:] for r in rows0]
    for r, r0 in zip(rows, rows0):
        assert abs(r[2] - r0[2]) < 1e-9, (r, r0)
    for r, nxt in zip(rows, rows[1:]):
        assert (-r[2], r[1]) < (-nxt[2], nxt[1])
    if case == "rank_ties":  # the two 2-cycles tie, a..d in id order
        assert "".join(r[1] for r in rows)[:4] == "abcd"[:len(rows)]


def _codegen_compiles(spark):
    """Generated classes compiled so far in this JVM (Spark's
    ``CodegenMetrics``)."""
    return spark._jvm.org.apache.spark.metrics.source.CodegenMetrics\
        .METRIC_COMPILATION_TIME().getCount()


def test_second_run_compiles_no_class(spark, corpus, tmp_path, monkeypatch):
    """A fixed sequence of plans run twice — the test-corpus pipeline
    (graph write + salience) and six operators whose plans do not
    depend on adaptive execution — compiles no generated class the
    second time. The sequence needs more than 100 distinct classes,
    Spark's default cache size, so this holds only while the session's
    codegen cache holds them all (``session.get_spark``). The triangle
    count runs its Spark joins (bound 0): the driver path would take
    its plans out of the sequence."""
    from xwikire_spark.operators.asof import asof_join
    from xwikire_spark.operators.chunking import chunk_documents
    from xwikire_spark.operators.dedup import near_duplicates_minhash
    from xwikire_spark.operators.graph_metrics import triangle_counts
    from xwikire_spark.operators.quantiles import exact_group_quantiles
    from xwikire_spark.operators.textstats import scrub_pii
    from xwikire_spark.pipeline import graph
    from xwikire_spark.pipeline.canonicalize import connected_components
    from xwikire_spark.pipeline.graph import (
        entity_salience,
        materialize_graph,
    )

    _, _, transcripts, alias_df, pred_df = corpus
    words = "alpha beta gamma delta epsilon zeta eta theta".split()
    docs = spark.createDataFrame(
        [(i, ["en", "de"][i % 2],
          " ".join(words[(i + j) % 8] for j in range(12))
          + f" see http://x.org/{i} or mail a{i}@x.org")
         for i in range(16)],
        "doc_id long, lang string, text string",
    )
    links = spark.createDataFrame(
        [(i, (i + 1) % 6) for i in range(6)] + [(0, 2), (7, 8)],
        "src long, dst long",
    )
    nodes = spark.createDataFrame([(i,) for i in range(9)], "id long")
    events = spark.createDataFrame(
        [(i, i % 3, i * 10, float(i)) for i in range(12)],
        "event_id long, user_id long, ts long, value double",
    )

    def build(df):
        return canonicalize_triples(
            extract_triples(df, alias_df, pred_df), alias_df
        )

    def sequence(run):
        edges, _ = materialize_graph(
            spark, transcripts, build, str(tmp_path / f"g{run}"), n_buckets=4
        )
        entity_salience(edges).collect()
        near_duplicates_minhash(docs, threshold=0.5).collect()
        scrub_pii(docs).collect()
        with monkeypatch.context() as m:
            m.setattr(graph, "DRIVER_LOOP_MAX_ROWS", 0)
            triangle_counts(links).collect()
        exact_group_quantiles(
            docs.withColumn("n_chars", F.length("text")), "n_chars", "lang",
            [0.5, 1.0], tiebreak_col="doc_id",
        ).collect()
        chunk_documents(docs, chunk_tokens=8, overlap=2).collect()
        asof_join(
            events.where(F.col("event_id") % 2 == 0).select(
                "event_id", "user_id", "ts"),
            events.where(F.col("event_id") % 2 == 1).select(
                "user_id", "ts", "value"),
            on="ts", by="user_id",
        ).collect()
        connected_components(nodes, links).collect()

    # empty the JVM-wide compiled-class cache first, so the first run
    # compiles every class the sequence needs whatever ran before it
    gen = spark._jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$"
    )
    cache = gen.getDeclaredMethod("cache", None)
    cache.setAccessible(True)
    cache.invoke(gen.getField("MODULE$").get(None), None).invalidateAll()
    n = [_codegen_compiles(spark)]
    for run in range(2):
        sequence(run)
        n.append(_codegen_compiles(spark))
    assert n[1] - n[0] > 100, n
    assert n[2] - n[1] == 0, n
