"""Operator-level behavior tests: MinHash-LSH recall on planted near-dups,
ANN recall vs brute force, vocab ranks, round-robin balancing."""

import random

import pandas as pd
import pytest
from pyspark.sql import functions as F

VOCAB = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
         "lambda mu nu xi omicron pi rho sigma tau upsilon").split()


def _mk_docs(n_base=40, words_per_doc=60, seed=3):
    """Base docs + one planted near-duplicate per base doc (2 word edits
    out of 60 -> token-set Jaccard ~0.9)."""
    rng = random.Random(seed)
    rows, planted = [], []
    doc_id = 0
    for b in range(n_base):
        words = [rng.choice(VOCAB) for _ in range(words_per_doc)]
        rows.append({"doc_id": doc_id, "text": " ".join(words)})
        base_id = doc_id
        doc_id += 1
        dup = list(words)
        for _ in range(2):
            dup[rng.randrange(words_per_doc)] = rng.choice(VOCAB)
        rows.append({"doc_id": doc_id, "text": " ".join(dup)})
        planted.append((base_id, doc_id))
        doc_id += 1
    return rows, planted


class TestMinHashLSH:
    def test_planted_near_dup_recall(self, spark):
        from xwikire_spark.operators.dedup import near_duplicates_minhash

        rows, planted = _mk_docs()
        docs = spark.createDataFrame(pd.DataFrame(rows))
        found = {
            (r.doc_a, r.doc_b)
            for r in near_duplicates_minhash(
                docs, n_hashes=32, n_bands=8, threshold=0.5
            ).collect()
        }
        hits = sum(1 for p in planted if p in found)
        recall = hits / len(planted)
        assert recall >= 0.9, f"recall {recall}"
        # precision: every reported pair really is >= threshold Jaccard
        # (jaccard_verify computed it exactly; check values are sane)
        assert found, "no pairs at all"

    def test_signatures_deterministic(self, spark):
        from xwikire_spark.operators.dedup import minhash_signatures

        rows, _ = _mk_docs(n_base=5)
        docs = spark.createDataFrame(pd.DataFrame(rows))
        a = {r.doc_id: r.sig for r in minhash_signatures(docs).collect()}
        b = {r.doc_id: r.sig for r in minhash_signatures(docs).collect()}
        assert a == b

    def test_pinned_signatures_and_bands(self, spark):
        """Literal signatures (8 hashes) and band hashes (32 hashes in 8
        bands) of three fixed documents: the hash family, its derived
        rotations and the banding are pinned value for value. Docs 1 and
        2 differ in their last shingle only."""
        from xwikire_spark.operators.dedup import _banded, minhash_signatures

        docs = spark.createDataFrame([
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "near duplicate documents share most of their shingles"),
        ], "doc_id long, text string")
        sigs = {r.doc_id: r.sig for r in
                minhash_signatures(docs, n_hashes=8).collect()}
        shared = [-6884962307884821852, -7190716267515777504,
                  -9132097452267241473]
        tail = [-9194547420715905643, -5688520431801304420,
                -4020706592271022009, -8310123853791181541]
        assert sigs == {
            1: shared + [-7072468282479702673] + tail,
            2: shared + [-8460658860012774640] + tail,
            3: [-9211548128559556783, -8211999570075171638,
                -4820731886317463885, -7009644990891907591,
                -4753281629093205522, -8652389669515396288,
                -1832542893807745417, -5842786347856534854],
        }
        bands = {}
        for r in _banded(minhash_signatures(docs), 8).collect():
            bands.setdefault(r.doc_id, {})[r.band] = r.band_hash
        assert {d: [b[i] for i in range(8)] for d, b in bands.items()} == {
            1: [-8305919243092643257, -8144661521383912812,
                7946408915780909472, 9042395278151010444,
                -2650573345011883930, 6297000309162402481,
                1510213790908074850, 240336440576318514],
            2: [-4062598748392730870, -8144661521383912812,
                -1520256964988042090, 9042395278151010444,
                650800962618175508, -5719624754826268834,
                -3949440572861559045, 3430910428682159593],
            3: [-582764273277363820, -7455163332959339709,
                -3149515335380107610, 8610032941255418087,
                -6212940078438693627, 3559241184111053262,
                1300182685910629452, 8020069252273423231],
        }


class TestANN:
    @pytest.fixture(scope="class")
    def embeddings(self, spark):
        rng = random.Random(11)
        rows = []
        for i in range(300):
            base = [rng.gauss(0, 1) for _ in range(64)]
            rows.append({"vec_id": i, "embedding": base})
            # planted near neighbor for first 20 vectors
            if i < 20:
                rows.append({
                    "vec_id": 1000 + i,
                    "embedding": [x + rng.gauss(0, 0.05) for x in base],
                })
        return spark.createDataFrame(pd.DataFrame(rows))

    def test_bruteforce_finds_planted(self, spark, embeddings):
        from xwikire_spark.operators.similarity import cosine_topk_bruteforce

        q = embeddings.where(F.col("vec_id") < 20)
        top = cosine_topk_bruteforce(q, embeddings, k=1).collect()
        assert all(r.neighbor_id == 1000 + r.query_id for r in top)

    def test_lsh_recall_at_k(self, spark, embeddings):
        from xwikire_spark.operators.similarity import (
            ann_topk_lsh,
            cosine_topk_bruteforce,
        )

        q = embeddings.where(F.col("vec_id") < 20)
        exact = {
            (r.query_id, r.neighbor_id)
            for r in cosine_topk_bruteforce(q, embeddings, k=1).collect()
        }
        approx = {
            (r.query_id, r.neighbor_id)
            for r in ann_topk_lsh(
                q, embeddings, k=5, n_bands=6, planes_per_band=4
            ).collect()
        }
        # near-identical vectors collide on sign bits with high prob
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.9, f"recall@planted {recall}"

    def test_ivf_recall_at_k(self, spark, embeddings):
        from xwikire_spark.operators.similarity import (
            ann_topk_ivf,
            cosine_topk_bruteforce,
        )

        q = embeddings.where(F.col("vec_id") < 20)
        exact = {
            (r.query_id, r.neighbor_id)
            for r in cosine_topk_bruteforce(q, embeddings, k=1).collect()
        }
        approx = {
            (r.query_id, r.neighbor_id)
            for r in ann_topk_ivf(
                q, embeddings, k=5, n_centroids=8, n_probe=2
            ).collect()
        }
        # a planted near-identical neighbor lands in the query's own
        # cluster (or the 2-probe set) essentially always
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.9, f"recall@planted {recall}"

    def test_cosine_near_duplicates_finds_planted(self, spark, embeddings):
        from xwikire_spark.operators.similarity import cosine_near_duplicates

        got = {
            (r.vec_a, r.vec_b)
            for r in cosine_near_duplicates(
                embeddings, threshold=0.95, n_bands=6, planes_per_band=4
            ).collect()
        }
        planted = {(i, 1000 + i) for i in range(20)}
        recall = len(got & planted) / len(planted)
        assert recall >= 0.9, f"planted-pair recall {recall}"
        # precision is exact by construction: every emitted pair really is
        # >= threshold (spot-check none pair two independent gaussians)
        assert all(b == 1000 + a for a, b in got), got - planted


class TestVocabAndSplits:
    def test_vocab_ranks(self, spark):
        from xwikire_spark.operators.vocab import build_vocab

        docs = spark.createDataFrame(pd.DataFrame([
            {"doc_id": 0, "text": "a a a b b c"},
        ]))
        v = {r.token: (r["count"], r.vocab_id)
             for r in build_vocab(docs, split_pattern=" ").collect()}
        assert v["a"] == (3, 5)  # rank 1 + 4 reserved
        assert v["b"] == (2, 6)
        assert v["c"] == (1, 7)

    def test_round_robin_balance(self, spark):
        from xwikire_spark.operators.splits import round_robin_balance

        rows = [{"cls": c, "id": i * 10 + j}
                for i, c in enumerate(["x", "y", "z"]) for j in range(5)]
        df = spark.createDataFrame(pd.DataFrame(rows))
        out = round_robin_balance(df, "cls", limit=6, order_col="id")
        got = out.groupBy("cls").count().collect()
        # 6 picks round-robin over 3 classes -> 2 each
        assert {r.cls: r["count"] for r in got} == {"x": 2, "y": 2, "z": 2}

    def test_round_robin_dedup_and_seed(self, spark):
        # reference balance_relation.py:49-58: keep_all=False dedups on
        # q_id before balancing; random.shuffle -> seeded md5 order here
        from xwikire_spark.operators.splits import round_robin_balance

        rows = [{"cls": c, "id": i * 10 + j, "q": f"q{j % 2}"}
                for i, c in enumerate(["x", "y"]) for j in range(6)]
        df = spark.createDataFrame(pd.DataFrame(rows))
        out = round_robin_balance(
            df, "cls", limit=4, order_col="id", dedup_col="q", seed=3
        ).collect()
        # dedup keeps one row per q value (2 qs) -> 2 rows total pre-limit
        assert len(out) == 2
        # seeded order is deterministic across partitionings
        again = round_robin_balance(
            df.repartition(5), "cls", limit=4, order_col="id",
            dedup_col="q", seed=3,
        ).collect()
        assert sorted(r.id for r in out) == sorted(r.id for r in again)

    def test_collision_edges_hot_alias_guard(self, spark):
        # one alias shared by 50 entities would emit 1225 edges; with the
        # stop-surface guard it emits none, while specific aliases still
        # connect their entities
        from xwikire_spark.pipeline.canonicalize import collision_edges

        hot = [{"alias": "the company", "entity_id": f"Q{i}"}
               for i in range(50)]
        cold = [{"alias": "acme", "entity_id": q} for q in ("Q1", "Q2")]
        df = spark.createDataFrame(pd.DataFrame(hot + cold))
        edges = collision_edges(df, max_bucket=10).collect()
        assert {(r.src, r.dst) for r in edges} == {("Q1", "Q2")}


class TestConnectedComponentsSkew:
    def test_hot_vertex_star_graph(self, spark):
        """A hub connected to 400 spokes (the hot-entity shape the salted
        two-phase min in canonicalize.py exists for) must converge to one
        component with the min id, plus untouched singletons."""
        import pandas as pd

        from xwikire_spark.pipeline.canonicalize import connected_components

        hub = "Q0500"
        spokes = [f"Q{i:04d}" for i in range(1000, 1400)]
        singletons = [f"Q{i:04d}" for i in range(2000, 2050)]
        vertices = spark.createDataFrame(
            pd.DataFrame({"id": [hub] + spokes + singletons}))
        edges = spark.createDataFrame(
            pd.DataFrame({"src": [hub] * len(spokes), "dst": spokes}))
        cc = {r.id: r.component
              for r in connected_components(vertices, edges).collect()}
        star = {cc[v] for v in [hub] + spokes}
        assert star == {hub}, f"star labels: {star}"  # hub is min id
        assert all(cc[s] == s for s in singletons)

    def test_chain_converges_logarithmically(self, spark):
        """A 64-node path graph needs O(log n) rounds — must finish within
        the max_iter budget and label everything with the chain min."""
        import pandas as pd

        from xwikire_spark.pipeline.canonicalize import connected_components

        ids = [f"N{i:03d}" for i in range(64)]
        vertices = spark.createDataFrame(pd.DataFrame({"id": ids}))
        edges = spark.createDataFrame(pd.DataFrame({
            "src": ids[:-1], "dst": ids[1:]}))
        cc = {r.id: r.component
              for r in connected_components(vertices, edges).collect()}
        assert set(cc.values()) == {"N000"}


class TestConnectedComponentsSkewDistributed(TestConnectedComponentsSkew):
    """The star and 64-chain cases again on the distributed loop (a bound
    of 0 rows sends every graph past the driver path)."""

    @pytest.fixture(autouse=True)
    def _distributed(self, monkeypatch):
        from xwikire_spark.pipeline import graph

        monkeypatch.setattr(graph, "DRIVER_LOOP_MAX_ROWS", 0)


class TestConnectedComponentsPaths:
    """The driver path against the distributed loop and a union-find."""

    @staticmethod
    def _union_find_min(ids, edges):
        parent = {v: v for v in ids}

        def find(v):
            while parent[v] != v:
                v = parent[v]
            return v

        for a, b in edges:
            if a in parent and b in parent:
                ra, rb = find(a), find(b)
                parent[max(ra, rb)] = min(ra, rb)
        return {v: find(v) for v in ids}

    def _both_paths(self, spark, monkeypatch, vertices, edges):
        """connected_components on the driver path, then on the
        distributed loop (bound forced to 0)."""
        from xwikire_spark.pipeline import graph
        from xwikire_spark.pipeline.canonicalize import connected_components

        got = []
        for bound in (graph.DRIVER_LOOP_MAX_ROWS, 0):
            monkeypatch.setattr(graph, "DRIVER_LOOP_MAX_ROWS", bound)
            got.append({r.id: r.component for r in
                        connected_components(vertices, edges).collect()})
        return got

    def test_non_ascii_ids_match_across_paths(self, spark, monkeypatch):
        """Min-label order is Spark's UTF-8 binary order; the driver path
        sorts in code-point order, which must agree on every label. The
        edge to an id outside the vertex frame is ignored."""
        ids = ["Zürich", "zebra", "Åland", "ärger", "東京", "Ωmega",
               "abc", "Abc", "ß", "straße", "😀x", "e\u0301"]
        pairs = [("zebra", "東京"), ("東京", "Ωmega"), ("Åland", "ärger"),
                 ("ärger", "ß"), ("straße", "😀x"), ("😀x", "Zürich"),
                 ("abc", "outside")]
        vertices = spark.createDataFrame(pd.DataFrame({"id": ids}))
        edges = spark.createDataFrame(
            pd.DataFrame(pairs, columns=["src", "dst"]))
        driver, distributed = self._both_paths(
            spark, monkeypatch, vertices, edges)
        assert driver == distributed == self._union_find_min(ids, pairs)

    def test_numeric_ids_match_across_paths(self, spark, monkeypatch):
        ids = [900, 5, 77, -3, 12, 40_000_000_000, 8]
        pairs = [(900, 77), (77, -3), (12, 40_000_000_000), (8, 8)]
        vertices = spark.createDataFrame([(i,) for i in ids], "id bigint")
        edges = spark.createDataFrame(pairs, "src bigint, dst bigint")
        driver, distributed = self._both_paths(
            spark, monkeypatch, vertices, edges)
        assert driver == distributed == self._union_find_min(ids, pairs)

    def test_long_chains_finish_on_driver_path(self, spark):
        """480 ids in 64-id chains at the default max_iter: the
        distributed loop's plan-size estimate blows up on this shape
        (LogicalRDD statistics multiplied every round), the driver path
        must finish in seconds."""
        import threading

        from xwikire_spark.pipeline.canonicalize import connected_components

        rng = random.Random(7)
        ids = [f"b{i:03d}" for i in range(480)]
        order = ids[:]
        rng.shuffle(order)
        pairs = [(a, b) for k in range(0, 480, 64)
                 for a, b in zip(order[k:k + 64], order[k + 1:k + 64])]
        vertices = spark.createDataFrame(pd.DataFrame({"id": ids}))
        edges = spark.createDataFrame(
            pd.DataFrame(pairs, columns=["src", "dst"]))
        box = {}

        def run():
            try:
                box["got"] = {r.id: r.component for r in
                              connected_components(vertices, edges).collect()}
            except Exception as exc:  # re-raised on the test thread
                box["err"] = exc

        # a daemon thread: a hung planner must fail the test, not the run
        worker = threading.Thread(target=run, daemon=True)
        worker.start()
        worker.join(timeout=120)
        assert not worker.is_alive(), "connected_components still running"
        if "err" in box:
            raise box["err"]
        got = box["got"]
        assert got == self._union_find_min(ids, pairs)
        assert len(set(got.values())) == 8

    def test_max_iter_cut_warns_on_distributed_loop(self, spark, monkeypatch):
        """max_iter limits only the distributed loop: cut at one round, a
        64-chain is unconverged there and says so; the driver path runs
        to convergence at the same max_iter without a warning."""
        import warnings

        from xwikire_spark.pipeline import graph
        from xwikire_spark.pipeline.canonicalize import connected_components

        ids = [f"N{i:03d}" for i in range(64)]
        vertices = spark.createDataFrame(pd.DataFrame({"id": ids}))
        edges = spark.createDataFrame(pd.DataFrame({
            "src": ids[:-1], "dst": ids[1:]}))
        with warnings.catch_warnings():
            warnings.simplefilter("error", RuntimeWarning)
            cc = {r.component for r in connected_components(
                vertices, edges, max_iter=1).collect()}
        assert cc == {"N000"}
        monkeypatch.setattr(graph, "DRIVER_LOOP_MAX_ROWS", 0)
        with pytest.warns(RuntimeWarning, match="max_iter=1"):
            cut = connected_components(vertices, edges, max_iter=1)
        assert len({r.component for r in cut.collect()}) > 1




class TestNgramJaccardGuard:
    def test_hot_group_bounded(self, spark):
        """A stopword-like token shared by every doc of one group must not
        turn the self-join quadratic: with max_token_df below the group
        size, the hot token is dropped from the shared-evidence index and
        the pair count collapses from C(n,2) to only genuinely-overlapping
        pairs (VERDICT r2 'What's wrong' #3)."""
        from xwikire_spark.operators.dedup import (
            ngram_jaccard_pairs_within_groups,
        )

        rows = [("en", f"d{i:02d}", f"the unique{i} token{i}") for i in range(40)]
        rows += [("en", "dup_a", "the same same2 same3"),
                 ("en", "dup_b", "the same same2 same3")]
        docs = spark.createDataFrame(
            rows, "lang string, doc_id string, text string"
        )
        unguarded = ngram_jaccard_pairs_within_groups(
            docs, ["lang"], threshold=0.1, max_token_df=10_000
        ).collect()
        guarded = ngram_jaccard_pairs_within_groups(
            docs, ["lang"], threshold=0.1, max_token_df=10
        ).collect()
        # 'the' is in all 42 docs: unguarded sees 42*41/2 'the'-sharing
        # pairs at jaccard 1/5 >= 0.1; guarded keeps only the true dup pair
        assert len(unguarded) > 800
        assert [(r["doc_a"], r["doc_b"]) for r in guarded] == [
            ("dup_a", "dup_b")
        ]
        # denominators stay exact: 'the' still counts toward n_a/n_b, so
        # the surviving pair's jaccard is 3/5 (intersection lost 'the')
        assert abs(guarded[0]["jaccard"] - 0.6) < 1e-9

    def test_guard_inert_below_cap(self, spark):
        from xwikire_spark.operators.dedup import (
            ngram_jaccard_pairs_within_groups,
        )

        docs = spark.createDataFrame(
            [("en", "a", "x y z"), ("en", "b", "x y w"), ("en", "c", "q r s")],
            "lang string, doc_id string, text string",
        )
        got = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs_within_groups(
                docs, ["lang"], threshold=0.4
            ).collect()
        }
        assert got == {("a", "b"): 0.5}


class TestIVFBroadcastAssignment:
    def test_large_model_uses_udf_and_compiles_fast(self, spark):
        """256 centroids x 256 dims (65k floats) must take the broadcast
        pandas-UDF assignment — the plan builds in seconds instead of
        inlining 65k literals (VERDICT r2 'What's wrong' #4) — and agree
        with the literal path on an easy assignment."""
        import time

        from xwikire_spark.operators.similarity import _assign_to_centroids

        dims = 256
        cents = []
        for cid in range(256):
            vec = [0.0] * dims
            vec[cid % dims] = 1.0
            cents.append((cid, vec))
        v = spark.createDataFrame(
            [(f"v{i}", [1.0 if d == i else 0.0 for d in range(dims)])
             for i in range(8)],
            "vec_id string, e array<double>",
        )
        t0 = time.time()
        out = _assign_to_centroids(v, cents)
        plan = out._jdf.queryExecution().executedPlan().toString()
        got = {r["vec_id"]: r["cid"] for r in out.collect()}
        assert time.time() - t0 < 30
        assert "ArrowEvalPython" in plan
        assert got == {f"v{i}": i for i in range(8)}

    def test_small_model_stays_literal(self, spark):
        from xwikire_spark.operators.similarity import _assign_to_centroids

        cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
        v = spark.createDataFrame(
            [("a", [0.9, 0.1]), ("b", [0.1, 0.9])],
            "vec_id string, e array<double>",
        )
        out = _assign_to_centroids(v, cents)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan
        assert {r["vec_id"]: r["cid"] for r in out.collect()} == {
            "a": 0, "b": 1,
        }


class TestScrubPII:
    """URL/email scrubbing (textstats.scrub_pii) — the pre-training
    hygiene pass. Counts + redaction, URL-first ordering, and
    cross-engine pattern parity (the same ASCII-literal patterns must
    behave identically under DuckDB regexps, since every oracle shares
    them)."""

    ROWS = [
        (1, "see https://ex.com/a?u=bob@ex.com and mail bob@ex.com now"),
        (2, "plain text with no contacts at all"),
        (3, "two urls http://a.io/x https://b.io/y one mail a.b+c@sub.ex.org"),
        (4, "not-an-email @handle and half-url http:// nope"),
    ]

    def _df(self, spark):
        return spark.createDataFrame(self.ROWS, "doc_id int, text string")

    def test_counts_and_redaction(self, spark):
        from xwikire_spark.operators.textstats import scrub_pii

        got = {r["doc_id"]: r for r in scrub_pii(self._df(spark)).collect()}
        # URL swallows the address in its query string: 1 url, 1 email
        assert (got[1]["n_urls"], got[1]["n_emails"]) == (1, 1)
        assert got[1]["text"] == "see <URL> and mail <EMAIL> now"
        assert (got[2]["n_urls"], got[2]["n_emails"]) == (0, 0)
        assert got[2]["text"] == self.ROWS[1][1]
        assert (got[3]["n_urls"], got[3]["n_emails"]) == (2, 1)
        assert got[3]["text"] == "two urls <URL> <URL> one mail <EMAIL>"
        # @handle has no domain dot; "http://" alone never matches
        assert (got[4]["n_urls"], got[4]["n_emails"]) == (0, 0)

    def test_input_column_named_like_the_intermediate(self, spark):
        """An input column called ``__s1`` passes through untouched; the
        intermediate struct takes a name no input column uses."""
        from xwikire_spark.operators.textstats import scrub_pii

        df = self._df(spark).withColumn("__s1", F.col("doc_id") * 10)
        got = {r["doc_id"]: r for r in scrub_pii(df).collect()}
        assert scrub_pii(df).columns == [
            "doc_id", "__s1", "n_urls", "n_emails", "text"]
        assert [got[i]["__s1"] for i in (1, 2, 3, 4)] == [10, 20, 30, 40]
        assert got[1]["text"] == "see <URL> and mail <EMAIL> now"
        assert (got[3]["n_urls"], got[3]["n_emails"]) == (2, 1)

    def test_plan_is_single_projection(self, spark):
        from xwikire_spark.operators.textstats import scrub_pii

        plan = (
            scrub_pii(self._df(spark))
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan
        assert "Python" not in plan  # pure JVM expressions

    def test_duckdb_pattern_parity(self, spark):
        import duckdb
        import pandas as pd

        from xwikire_spark.operators.textstats import (
            EMAIL_PATTERN,
            URL_PATTERN,
            scrub_pii,
        )

        sdf = (
            scrub_pii(self._df(spark))
            .orderBy("doc_id")
            .toPandas()[["doc_id", "n_urls", "n_emails", "text"]]
        )
        con = duckdb.connect()
        con.register(
            "docs", pd.DataFrame(self.ROWS, columns=["doc_id", "text"])
        )
        odf = con.execute(f"""
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '{URL_PATTERN}'))
                        AS INT) AS n_urls,
                   CAST(len(regexp_extract_all(regexp_replace(text,
                        '{URL_PATTERN}', '<URL>', 'g'), '{EMAIL_PATTERN}'))
                        AS INT) AS n_emails,
                   regexp_replace(regexp_replace(text, '{URL_PATTERN}',
                        '<URL>', 'g'), '{EMAIL_PATTERN}', '<EMAIL>', 'g')
                       AS text
            FROM docs ORDER BY doc_id
        """).df()
        pd.testing.assert_frame_equal(sdf, odf, check_dtype=False)


class TestBenchmarkContamination:
    """Train/test contamination screening (dedup.contamination_hits):
    planted 8-gram overlap, DuckDB differential, and the corpus side must
    broadcast-join (no corpus shuffle before the aggregate)."""

    COLS = ("doc_id", "n_contaminated_shingles", "example_shingle")

    DOCS = [
        (1, "the quick brown fox jumps over the lazy dog every single day"),
        (2, "completely unrelated text about spark query planning at scale"),
        (3, "prefix words then the quick brown fox jumps over the lazy dog"),
        (4, "short doc"),
        # doc 5 LOOPS one contaminated 8-gram: must count it once, not 3x
        (5, "the quick brown fox jumps over the lazy dog "
            "the quick brown fox jumps over the lazy dog "
            "the quick brown fox jumps over the lazy dog"),
    ]
    PROBES = [
        (100, "benchmark says the quick brown fox jumps over the lazy dog"),
    ]

    def _frames(self, spark):
        docs = spark.createDataFrame(self.DOCS, "doc_id int, text string")
        probes = spark.createDataFrame(
            self.PROBES, "probe_id int, text string"
        )
        return docs, probes

    def test_planted_overlap(self, spark):
        from xwikire_spark.operators.dedup import contamination_hits

        docs, probes = self._frames(spark)
        got = {r["doc_id"]: r for r in
               contamination_hits(docs, probes, k=8).select(*self.COLS)
               .collect()}
        # docs 1/3/5 share the 8-gram "the quick ... lazy dog"; 2/4 clean
        assert set(got) == {1, 3, 5}
        assert got[1]["n_contaminated_shingles"] >= 1
        assert "quick brown fox" in got[1]["example_shingle"]
        # DISTINCT semantics: doc 5 loops the contaminated content — its
        # count is the number of distinct shared shingles, bounded by the
        # probe's own shingle count (4), not by its own repetitions (>=9)
        assert got[5]["n_contaminated_shingles"] <= 4

    def test_duckdb_differential(self, spark):
        import duckdb
        import pandas as pd

        from xwikire_spark.operators.dedup import contamination_hits

        docs, probes = self._frames(spark)
        sdf = (
            contamination_hits(docs, probes, k=8)
            .select(*self.COLS)
            .orderBy("doc_id")
            .toPandas()
        )
        con = duckdb.connect()
        con.register("docs", pd.DataFrame(self.DOCS,
                                          columns=["doc_id", "text"]))
        con.register("probes", pd.DataFrame(
            self.PROBES, columns=["probe_id", "text"]))
        odf = con.execute("""
            WITH ds AS (
              SELECT DISTINCT doc_id, shingle FROM (
                SELECT doc_id, unnest([list_aggregate(words[i:i+7], 'string_agg', ' ')
                       for i in generate_series(1, len(words) - 7)]) AS shingle
                FROM (SELECT doc_id, string_split(text, ' ') AS words FROM docs)
              )
            ), ps AS (
              SELECT DISTINCT unnest([list_aggregate(words[i:i+7], 'string_agg', ' ')
                     for i in generate_series(1, len(words) - 7)]) AS shingle
              FROM (SELECT string_split(text, ' ') AS words FROM probes)
            )
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_contaminated_shingles,
                   min(shingle) AS example_shingle
            FROM ds JOIN ps USING (shingle)
            GROUP BY doc_id ORDER BY doc_id
        """).df()
        pd.testing.assert_frame_equal(sdf, odf, check_dtype=False)

    def test_probe_side_broadcasts(self, spark):
        from xwikire_spark.operators.dedup import contamination_hits

        docs, probes = self._frames(spark)
        plan = (
            contamination_hits(docs, probes)
            .select(*self.COLS)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" in plan


class TestDecontaminate:
    """Decontamination — the removal side of contamination_hits (r3
    next-round #6): drop-doc and span-excise modes, observe() counters,
    DuckDB differential for the excise rebuild."""

    DOCS = TestBenchmarkContamination.DOCS
    PROBES = TestBenchmarkContamination.PROBES

    def _frames(self, spark):
        docs = spark.createDataFrame(self.DOCS, "doc_id int, text string")
        probes = spark.createDataFrame(
            self.PROBES, "probe_id int, text string"
        )
        return docs, probes

    def test_drop_mode(self, spark):
        from xwikire_spark.operators.dedup import decontaminate

        docs, probes = self._frames(spark)
        kept = decontaminate(docs, probes, k=8, mode="drop").collect()
        assert sorted(r["doc_id"] for r in kept) == [2, 4]
        # schema unchanged in drop mode
        assert [f.name for f in
                decontaminate(docs, probes, mode="drop").schema] == \
            ["doc_id", "text"]

    def test_excise_mode_cuts_spans_and_counts(self, spark):
        from xwikire_spark.operators.dedup import decontaminate

        docs, probes = self._frames(spark)
        got = {r["doc_id"]: r for r in
               decontaminate(docs, probes, k=8, mode="excise").collect()}
        assert set(got) == {1, 2, 3, 4, 5}
        # clean docs untouched
        assert got[2]["text"] == self.DOCS[1][1]
        assert got[2]["n_removed_words"] == 0
        assert got[4]["text"] == "short doc"
        # doc 1 (12 words): matched 8-grams start at word 0 and 1, covering
        # indexes 0..8 -> suffix "every single day" survives
        assert got[1]["text"] == "every single day"
        assert got[1]["n_removed_words"] == 9
        # doc 3 has a 3-word prefix then the contaminated 9 words
        assert got[3]["text"] == "prefix words then"
        # doc 5 loops the contaminated 8-gram: everything goes (27 words)
        assert got[5]["text"] == ""
        assert got[5]["n_removed_words"] == 27
        # excised text no longer contaminates (idempotence)
        again = decontaminate(
            spark.createDataFrame(
                [(r["doc_id"], r["text"]) for r in got.values()],
                "doc_id int, text string",
            ),
            probes, k=8, mode="excise",
        ).collect()
        assert all(r["n_removed_words"] == 0 for r in again)

    def test_observe_counters(self, spark):
        from pyspark.sql import Observation

        from xwikire_spark.operators.dedup import decontaminate

        docs, probes = self._frames(spark)
        out = decontaminate(docs, probes, k=8, mode="excise")
        # the operator's own observe() rides the plan; attach a second,
        # readable Observation to assert the counters from one pass
        obs = Observation("decontam_check")
        watched = out.observe(
            obs,
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_removed_words").alias("removed"),
        )
        watched.collect()
        assert obs.get["docs"] == 5
        assert obs.get["removed"] == 9 + 9 + 27

    def test_fully_contaminated_10k_words_bounded(self, spark):
        """VERDICT r4 #2: a doc that is 100% probe overlap at 10k words.
        The per-word exists() shape did O(words x hits) ~ 1e8 lambda evals
        here; the merged-interval gap slicing collapses all hits into ONE
        covered interval, so the excision is O(words) and must finish
        comfortably within the bound."""
        import time

        from xwikire_spark.operators.dedup import decontaminate

        n = 10_000
        text = " ".join(f"w{i}" for i in range(n))
        docs = spark.createDataFrame([(1, text)], "doc_id int, text string")
        probes = spark.createDataFrame(
            [(1, text)], "probe_id int, text string"
        )
        t0 = time.monotonic()
        got = decontaminate(docs, probes, k=8, mode="excise").collect()
        dt = time.monotonic() - t0
        assert len(got) == 1
        assert got[0]["text"] == ""
        assert got[0]["n_removed_words"] == n
        assert dt < 60, f"excise took {dt:.1f}s — not bounded"

    def test_duckdb_differential_excise(self, spark):
        import duckdb
        import pandas as pd

        from xwikire_spark.operators.dedup import decontaminate

        docs, probes = self._frames(spark)
        sdf = (
            decontaminate(docs, probes, k=8, mode="excise")
            .orderBy("doc_id")
            .toPandas()
        )
        con = duckdb.connect()
        con.register("docs", pd.DataFrame(self.DOCS,
                                          columns=["doc_id", "text"]))
        con.register("probes", pd.DataFrame(
            self.PROBES, columns=["probe_id", "text"]))
        odf = con.execute("""
            WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS ws
                       FROM docs),
            ds AS (
              SELECT doc_id, i AS pos,
                     list_aggregate(ws[i:i+7], 'string_agg', ' ') AS shingle
              FROM w, unnest(generate_series(1, len(ws) - 7)) AS t(i)
            ), ps AS (
              SELECT DISTINCT unnest(
                [list_aggregate(words[i:i+7], 'string_agg', ' ')
                 for i in generate_series(1, len(words) - 7)]) AS shingle
              FROM (SELECT string_split(text, ' ') AS words FROM probes)
            ), cov AS (
              SELECT DISTINCT doc_id, j
              FROM (SELECT ds.doc_id, ds.pos FROM ds JOIN ps USING (shingle)),
                   unnest(generate_series(pos, pos + 7)) AS t(j)
            ), idx AS (
              SELECT doc_id, i, ws[i] AS word, len(ws) AS n0
              FROM w, unnest(generate_series(1, len(ws))) AS t(i)
            ), rebuilt AS (
              SELECT idx.doc_id,
                     string_agg(word, ' ' ORDER BY i)
                       FILTER (WHERE cov.j IS NULL) AS text,
                     CAST(any_value(n0)
                          - count(*) FILTER (WHERE cov.j IS NULL) AS INT)
                       AS n_removed_words
              FROM idx
              LEFT JOIN cov ON cov.doc_id = idx.doc_id AND cov.j = idx.i
              GROUP BY idx.doc_id
            )
            SELECT doc_id, coalesce(text, '') AS text, n_removed_words
            FROM rebuilt ORDER BY doc_id
        """).df()
        pd.testing.assert_frame_equal(sdf, odf, check_dtype=False)




class TestAsofJoin:
    """operators/asof.py: backward-inclusive point-in-time join, checked
    against a brute-force range-join + row_number pick (the semantics
    DuckDB's native ASOF JOIN implements — also gated by the driver
    oracle evt_asof_join)."""

    def _frames(self, spark, seed=11):
        rng = random.Random(seed)
        left = [(i, rng.randrange(5), rng.randrange(1000))
                for i in range(200)]
        right = [(j, rng.randrange(5), rng.randrange(1000),
                  round(rng.random(), 6)) for j in range(150)]
        # dedup right per (key, t): asof tie-pick must be well-defined
        seen, rdedup = set(), []
        for j, k, t, v in right:
            if (k, t) not in seen:
                seen.add((k, t))
                rdedup.append((j, k, t, v))
        ldf = spark.createDataFrame(left, "lid bigint, k bigint, t bigint")
        rdf = spark.createDataFrame(
            rdedup, "rid bigint, k bigint, t bigint, v double"
        ).drop("rid")
        return ldf, rdf

    def _brute(self, ldf, rdf):
        from pyspark.sql import Window

        j = ldf.join(
            rdf.select(
                F.col("k"), F.col("t").alias("rt"), F.col("v")
            ),
            "k", "left",
        ).where(F.col("rt").isNull() | (F.col("rt") <= F.col("t")))
        w = Window.partitionBy("lid").orderBy(F.desc_nulls_last("rt"))
        best = (
            j.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("lid", "rt", "v")
        )
        # left rows whose every right candidate was filtered out
        return ldf.join(best, "lid", "left").select(
            "lid", "k", "t", F.col("v").alias("v_right"),
            F.col("rt").alias("t_right"),
        )

    def test_matches_brute_force(self, spark):
        from xwikire_spark.operators.asof import asof_join

        ldf, rdf = self._frames(spark)
        got = {
            (r["lid"], r["v_right"], r["t_right"])
            for r in asof_join(ldf, rdf, on="t", by="k").collect()
        }
        want = {
            (r["lid"], r["v_right"], r["t_right"])
            for r in self._brute(ldf, rdf).collect()
        }
        assert got == want and len(got) == 200

    def test_inclusive_at_equal_ts_and_no_match(self, spark):
        from xwikire_spark.operators.asof import asof_join

        ldf = spark.createDataFrame(
            [(1, 0, 100), (2, 0, 50)], "lid bigint, k bigint, t bigint"
        )
        rdf = spark.createDataFrame(
            [(0, 100, 7.0), (0, 99, 3.0)], "k bigint, t bigint, v double"
        )
        rows = {r["lid"]: r for r in
                asof_join(ldf, rdf, on="t", by="k").collect()}
        assert rows[1]["v_right"] == 7.0 and rows[1]["t_right"] == 100
        assert rows[2]["v_right"] is None and rows[2]["t_right"] is None

    def test_tolerance_nulls_stale_matches(self, spark):
        from xwikire_spark.operators.asof import asof_join

        ldf = spark.createDataFrame(
            [(1, 0, 100), (2, 0, 500)], "lid bigint, k bigint, t bigint"
        )
        rdf = spark.createDataFrame(
            [(0, 90, 1.0)], "k bigint, t bigint, v double"
        )
        rows = {r["lid"]: r for r in asof_join(
            ldf, rdf, on="t", by="k", tolerance=F.lit(50)
        ).collect()}
        assert rows[1]["v_right"] == 1.0      # 10 <= 50
        assert rows[2]["v_right"] is None     # 410 > 50

    def test_single_shuffle_no_range_join(self, spark):
        """The plan must be union+window — no BroadcastNestedLoopJoin /
        CartesianProduct and no join at all except the final identity
        projection; exactly the shuffles a groupBy(k) would cost."""
        from xwikire_spark.operators.asof import asof_join

        ldf, rdf = self._frames(spark)
        plan = asof_join(
            ldf, rdf, on="t", by="k"
        )._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        assert "SortMergeJoin" not in plan
        assert "Window" in plan


class TestSequencePacking:
    """operators/packing.py: the distributed two-phase prefix sum must
    equal the naive single-partition window for ANY partition count, and
    the plan must range-partition instead of funneling the corpus
    through one task."""

    def _docs(self, spark, n=500, seed=5):
        rng = random.Random(seed)
        return spark.createDataFrame(
            [(i, rng.randrange(1, 4000)) for i in range(n)],
            "doc_id bigint, n_tokens bigint",
        )

    def test_equals_naive_window(self, spark):
        from pyspark.sql import Window

        from xwikire_spark.operators.packing import pack_sequences

        df = self._docs(spark)
        budget = 2048
        w = Window.orderBy("doc_id").rowsBetween(
            Window.unboundedPreceding, -1
        )
        naive = df.withColumn(
            "before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        ).select(
            "doc_id",
            F.floor(F.col("before") / budget).alias("pack_id"),
            (F.col("before") % budget).alias("pack_offset"),
        )
        want = {(r["doc_id"], r["pack_id"], r["pack_offset"])
                for r in naive.collect()}
        for parts in (1, 3, 8, 32):
            got = {
                (r["doc_id"], r["pack_id"], r["pack_offset"])
                for r in pack_sequences(
                    df, "doc_id", "n_tokens", budget,
                    num_partitions=parts,
                ).collect()
            }
            assert got == want, f"mismatch at num_partitions={parts}"

    def test_plan_range_partitions_the_corpus(self, spark):
        from xwikire_spark.operators.packing import pack_sequences

        df = self._docs(spark)
        plan = pack_sequences(
            df, "doc_id", "n_tokens", 2048, num_partitions=8
        )._jdf.queryExecution().executedPlan().toString()
        assert "rangepartitioning(doc_id" in plan
        # the only SinglePartition exchange feeds the per-partition totals
        # (8 rows), never the corpus: it must sit under the broadcast side
        assert plan.count("Exchange SinglePartition") <= 1

    def test_offsets_are_within_budget_and_contiguous(self, spark):
        from xwikire_spark.operators.packing import pack_sequences

        df = self._docs(spark, n=100)
        out = pack_sequences(df, "doc_id", "n_tokens", 1000).collect()
        rows = sorted(out, key=lambda r: r["doc_id"])
        cum = 0
        for r in rows:
            assert r["pack_id"] == cum // 1000
            assert r["pack_offset"] == cum % 1000
            assert 0 <= r["pack_offset"] < 1000
            cum += r["n_tokens"]


class TestTfidfTopTerms:
    def test_hand_computed_corpus(self, spark):
        import math

        from xwikire_spark.operators.ranking import tfidf_top_terms

        docs = spark.createDataFrame(
            [("g1", "apple apple banana"), ("g2", "banana cherry")],
            "src string, text string",
        )
        got = {
            (r["src"], r["term"]): (r["tf"], r["df"], r["score"], r["rank"])
            for r in tfidf_top_terms(docs, "src", "text", k=2).collect()
        }
        ln2 = round(math.log(2.0), 6)
        assert got[("g1", "apple")] == (2, 1, round(2 * math.log(2.0), 6), 1)
        assert got[("g1", "banana")] == (1, 2, 0.0, 2)
        assert got[("g2", "cherry")] == (1, 1, ln2, 1)
        assert got[("g2", "banana")] == (1, 2, 0.0, 2)
        assert len(got) == 4

    def test_group_without_token_counts(self, spark):
        """A group whose text has no ``[a-z]{3,}`` token ranks no term but
        still counts in n_groups, so idf is ln(3 / df)."""
        import math

        from xwikire_spark.operators.ranking import tfidf_top_terms

        docs = spark.createDataFrame(
            [("g1", "apple apple banana"), ("g2", "banana cherry"),
             ("g3", "42 ab C3")],
            "src string, text string",
        )
        got = {
            (r["src"], r["term"]): (r["tf"], r["df"], r["score"], r["rank"])
            for r in tfidf_top_terms(docs, "src", "text", k=2).collect()
        }
        ln3, ln15 = math.log(3.0), math.log(1.5)
        assert got == {
            ("g1", "apple"): (2, 1, round(2 * ln3, 6), 1),
            ("g1", "banana"): (1, 2, round(ln15, 6), 2),
            ("g2", "cherry"): (1, 1, round(ln3, 6), 1),
            ("g2", "banana"): (1, 2, round(ln15, 6), 2),
        }

    def test_text_tokenized_once(self, spark):
        """The planned query explodes the text in one ``Generate``: df is
        counted from tf's rows, not from a second tokenization."""
        import re

        from xwikire_spark.operators.ranking import tfidf_top_terms

        docs = spark.createDataFrame(
            [("g1", "apple banana"), ("g2", "banana")],
            "src string, text string",
        )
        plan = tfidf_top_terms(docs, "src")._jdf.queryExecution() \
            .executedPlan().toString()
        assert len(re.findall(r"\bGenerate\b", plan)) == 1, plan


class TestProfileTable:
    """operators/profile.py: one-scan data-quality profile."""

    def _df(self, spark):
        return spark.createDataFrame(
            [(1, "a", 1.5), (2, None, 2.5), (3, "a", None), (4, "b", 4.0)],
            "id bigint, tag string, v double",
        )

    def test_stats_incl_nulls(self, spark):
        from xwikire_spark.operators.profile import profile_table

        got = {r["column"]: r for r in profile_table(self._df(spark)).collect()}
        assert got["id"]["n_rows"] == 4 and got["id"]["n_null"] == 0
        assert got["id"]["n_distinct"] == 4
        assert got["id"]["min_value"] == "1" and got["id"]["max_value"] == "4"
        assert got["tag"]["n_null"] == 1 and got["tag"]["n_distinct"] == 2
        assert got["tag"]["min_value"] == "a" and got["tag"]["max_value"] == "b"
        assert got["v"]["n_null"] == 1 and got["v"]["n_distinct"] == 3

    def test_single_scan_plan(self, spark, tmp_path):
        """However many columns are profiled, the parquet source appears
        in the executed plan exactly once."""
        from xwikire_spark.operators.profile import profile_table

        p = str(tmp_path / "t")
        self._df(spark).write.parquet(p)
        df = spark.read.parquet(p)
        plan = profile_table(df)._jdf.queryExecution().executedPlan().toString()
        assert plan.count("FileScan parquet") == 1

    def test_approx_mode_bounded_error(self, spark):
        from xwikire_spark.operators.profile import profile_table

        df = spark.range(10_000).select(
            F.col("id"), (F.col("id") % 100).alias("c")
        )
        got = {r["column"]: r for r in
               profile_table(df, approx=True).collect()}
        # HLL++ default rsd 5%
        assert abs(got["id"]["n_distinct"] - 10_000) <= 10_000 * 0.15
        assert abs(got["c"]["n_distinct"] - 100) <= 100 * 0.15


class TestTriangleCounts:
    """operators/graph_metrics.py: degree-oriented triangle enumeration
    vs an itertools brute force, plus shape cases (hub star = 0
    triangles, clique = C(n-1,2) each, duplicate/reversed/self-loop/null
    input hygiene). Each input runs on the driver path and, with the
    bound monkeypatched to 0, on the Spark joins."""

    def _brute(self, edge_list):
        import itertools

        und = {tuple(sorted(e)) for e in edge_list
               if None not in e and e[0] != e[1]}
        nodes = sorted({n for e in und for n in e})
        count = {n: 0 for n in nodes}
        for a, b, c in itertools.combinations(nodes, 3):
            if {(a, b), (a, c), (b, c)} <= und:
                for n in (a, b, c):
                    count[n] += 1
        return {n: c for n, c in count.items() if c}

    def _both_paths(self, monkeypatch, df, bounds=None):
        """{bound: {node: n_triangles}} at the real bound and at 0, and
        whether the driver path gave the rows at each."""
        from xwikire_spark.operators import graph_metrics
        from xwikire_spark.pipeline import graph

        real, calls = graph_metrics._triangles_numpy, []
        got, on_driver = {}, {}
        with monkeypatch.context() as m:
            m.setattr(
                graph_metrics, "_triangles_numpy",
                lambda *a: calls.append(real(*a)) or calls[-1],
            )
            for bound in bounds or (graph.DRIVER_LOOP_MAX_ROWS, 0):
                m.setattr(graph, "DRIVER_LOOP_MAX_ROWS", bound)
                n_calls = len(calls)
                got[bound] = {
                    r["node"]: r["n_triangles"]
                    for r in graph_metrics.triangle_counts(df).collect()
                }
                on_driver[bound] = (
                    len(calls) > n_calls and calls[-1] is not None
                )
        return got, on_driver

    def test_random_graph_matches_brute_force(self, spark, monkeypatch):
        rng = random.Random(7)
        edges = [(rng.randrange(30), rng.randrange(30)) for _ in range(120)]
        # adversarial extras: duplicates, reversed copies, self-loops
        edges += [(b, a) for a, b in edges[:20]] + [(5, 5), (9, 9)]
        # the same graph over string ids (their order is not the ints'),
        # plus a null endpoint on either side
        named = [(f"n{a}", f"n{b}") for a, b in edges]
        named += [(None, "n1"), ("n2", None), (None, None)]
        for df, rows in (
            (spark.createDataFrame(edges, "src bigint, dst bigint"), edges),
            (spark.createDataFrame(named, "src string, dst string"), named),
        ):
            got, on_driver = self._both_paths(monkeypatch, df)
            assert list(on_driver.values()) == [True, False]
            for counts in got.values():
                assert counts == self._brute(rows)

    def test_star_and_clique(self, spark, monkeypatch):
        star = [(0, i) for i in range(1, 50)]
        df = spark.createDataFrame(star, "src bigint, dst bigint")
        got, _ = self._both_paths(monkeypatch, df)
        assert got == {b: {} for b in got}  # hub, no closures
        k = 8
        clique = [(i, j) for i in range(k) for j in range(i + 1, k)]
        got, on_driver = self._both_paths(
            monkeypatch, spark.createDataFrame(clique, "src bigint, dst bigint")
        )
        want = (k - 1) * (k - 2) // 2
        assert got == {b: {i: want for i in range(k)} for b in got}
        assert list(on_driver.values()) == [True, False]

    def test_wedge_guard_falls_back_to_spark(self, spark, monkeypatch):
        """A 12-clique under a bound of 100: its 66 edges fit, but the
        oriented edges close C(12, 3) = 220 wedges, so the driver path
        declines and the Spark joins give the same counts."""
        k = 12
        clique = [(i, j) for i in range(k) for j in range(i + 1, k)]
        df = spark.createDataFrame(clique, "src bigint, dst bigint")
        got, on_driver = self._both_paths(monkeypatch, df, (100, 220, 0))
        want = {i: (k - 1) * (k - 2) // 2 for i in range(k)}
        assert got == {100: want, 220: want, 0: want}
        assert on_driver == {100: False, 220: True, 0: False}

    def test_driver_path_runs_three_jobs(self, spark):
        """On a small graph the whole operator is three Spark jobs: the
        checkpoint of the deduplicated edges that counts them (the
        distinct's shuffle, then its result) and their Arrow collect.
        The answer is a local frame, so collecting it runs none."""
        from xwikire_spark.operators.graph_metrics import triangle_counts

        sc = spark.sparkContext
        df = spark.createDataFrame(
            [(i, (i + 1) % 6) for i in range(6)] + [(0, 2), (7, 8)],
            "src bigint, dst bigint",
        )
        group = "test_triangles_driver_jobs"
        sc.setJobGroup(group, group)
        try:
            rows = triangle_counts(df).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert sorted(map(tuple, rows)) == [(0, 1), (1, 1), (2, 1)]
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 3


class TestWeightedSample:
    """operators/sampling.py: A-Res weighted sampling — exactness vs a
    python recomputation of the same keys, weight bias direction, and
    the no-single-partition plan contract for the unstratified path."""

    def _keys(self, ids, weights):
        import math

        out = {}
        for i, w in zip(ids, weights):
            u = ((i * 2654435761) % 4294967296 + 0.5) / 4294967296.0
            out[i] = math.log(u) / w
        return out

    def test_matches_python_topk(self, spark):
        from xwikire_spark.operators.sampling import weighted_sample

        ids = list(range(500))
        weights = [(i % 7) + 1 for i in ids]
        df = spark.createDataFrame(
            list(zip(ids, weights)), "id bigint, w bigint"
        )
        got = [
            r["id"]
            for r in weighted_sample(df, "w", 20, "id")
            .orderBy("sample_rank").collect()
        ]
        keys = self._keys(ids, weights)
        want = sorted(ids, key=lambda i: (-keys[i], i))[:20]
        assert got == want

    def test_heavy_weights_overrepresented(self, spark):
        from xwikire_spark.operators.sampling import weighted_sample

        # 1000 light (w=1) + 1000 heavy (w=25); a 200-row sample should
        # skew heavily toward the heavy group
        rows = [(i, 1) for i in range(1000)]
        rows += [(i, 25) for i in range(1000, 2000)]
        df = spark.createDataFrame(rows, "id bigint, w bigint")
        got = weighted_sample(df, "w", 200, "id").collect()
        heavy = sum(1 for r in got if r["id"] >= 1000)
        assert heavy > 160  # expected ~192; deterministic draw

    def test_stratified_counts_and_plan(self, spark):
        from xwikire_spark.operators.sampling import weighted_sample

        rows = [(i, i % 3, (i % 5) + 1) for i in range(300)]
        df = spark.createDataFrame(rows, "id bigint, s int, w bigint")
        out = weighted_sample(df, "w", 7, "id", strata_col="s")
        counts = {r["s"]: r["n"] for r in
                  out.groupBy("s").agg(F.count(F.lit(1)).alias("n")).collect()}
        assert counts == {0: 7, 1: 7, 2: 7}
        # unstratified: TakeOrderedAndProject, no SinglePartition exchange
        # over the corpus
        plan = weighted_sample(
            df, "w", 7, "id"
        )._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan


class TestChunkDocuments:
    """operators/chunking.py: overlap contract, full coverage, short
    final chunk, empty-doc exclusion, and the oracle layout."""

    def test_layout_contract(self, spark):
        from xwikire_spark.operators.chunking import chunk_documents

        words = [f"w{i}" for i in range(10)]
        df = spark.createDataFrame(
            [(1, " ".join(words)), (2, "a b"), (3, "   ")],
            "doc_id bigint, text string",
        )
        out = chunk_documents(
            df, chunk_tokens=4, overlap=1, id_cols=["doc_id"]
        ).collect()
        by_doc = {}
        for r in out:
            by_doc.setdefault(r["doc_id"], []).append(r)
        # doc 3 (whitespace-only) produces nothing
        assert set(by_doc) == {1, 2}
        d1 = sorted(by_doc[1], key=lambda r: r["chunk_idx"])
        # step=3: starts 0,3,6,9 -> 4 chunks; last is short
        assert [r["chunk_text"] for r in d1] == [
            "w0 w1 w2 w3", "w3 w4 w5 w6", "w6 w7 w8 w9", "w9",
        ]
        assert [r["n_tokens"] for r in d1] == [4, 4, 4, 1]
        # consecutive chunks share exactly `overlap` tokens
        for a, b in zip(d1, d1[1:]):
            ta, tb = a["chunk_text"].split(), b["chunk_text"].split()
            assert ta[-1:] == tb[:1]
        # coverage: concatenating with overlap removed rebuilds the doc
        rebuilt = d1[0]["chunk_text"].split()
        for r in d1[1:]:
            rebuilt += r["chunk_text"].split()[1:]
        assert rebuilt == words
        assert by_doc[2][0]["chunk_text"] == "a b"
        assert by_doc[2][0]["n_tokens"] == 2

    def test_bad_overlap_rejected(self, spark):
        import pytest as _pytest

        from xwikire_spark.operators.chunking import chunk_documents

        df = spark.createDataFrame([(1, "x")], "doc_id bigint, text string")
        for chunk, ov in ((4, 4), (4, 5), (4, -1)):
            with _pytest.raises(ValueError):
                chunk_documents(df, chunk_tokens=chunk, overlap=ov)

    def test_all_jvm_no_python(self, spark):
        from xwikire_spark.operators.chunking import chunk_documents

        df = spark.createDataFrame(
            [(i, "lorem ipsum dolor sit amet " * 20) for i in range(50)],
            "doc_id bigint, text string",
        )
        plan = chunk_documents(
            df
        )._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan
        assert "MapInPandas" not in plan
        assert "BatchEvalPython" not in plan


class TestExactGroupQuantiles:
    def test_matches_numpy_type1(self, spark):
        import math

        from xwikire_spark.operators.quantiles import exact_group_quantiles

        rng = random.Random(23)
        rows = [(i, i % 3, rng.randrange(1000)) for i in range(500)]
        df = spark.createDataFrame(rows, "id bigint, g int, v bigint")
        got = {(r["g"], r["q"]): r["value"] for r in exact_group_quantiles(
            df, "v", "g", [0.1, 0.5, 0.9, 1.0], tiebreak_col="id"
        ).collect()}
        by_g = {}
        for _i, g, v in rows:
            by_g.setdefault(g, []).append(v)
        for g, vs in by_g.items():
            vs.sort()
            for q in (0.1, 0.5, 0.9, 1.0):
                assert got[(g, q)] == vs[math.ceil(q * len(vs)) - 1]
        assert len(got) == 12

    def test_non_dyadic_q_exact_rank(self, spark):
        """ADVICE r6: double ceil(q*n) diverges from exact rational
        arithmetic for non-dyadic q (0.07 * 100 -> 7.000000000000001 ->
        rank 8 instead of 7). The rank must follow the exact rational the
        decimal literal denotes."""
        from fractions import Fraction
        from math import ceil

        from xwikire_spark.operators.quantiles import exact_group_quantiles

        n = 100
        df = spark.createDataFrame(
            [(i, 0, i) for i in range(1, n + 1)], "id bigint, g int, v bigint"
        )
        qs = [0.07, 0.3, 0.55, 0.1]
        got = {r["q"]: r["value"] for r in exact_group_quantiles(
            df, "v", "g", qs, tiebreak_col="id"
        ).collect()}
        for q in qs:
            fr = Fraction(str(q))
            exact_rank = ceil(fr * n)  # Fraction arithmetic is exact
            assert got[q] == exact_rank, (q, got[q], exact_rank)
        # the documented divergence case: double gives 8, exact gives 7
        assert got[0.07] == 7

    def test_duplicates_and_bad_q(self, spark):
        import pytest as _pytest

        from xwikire_spark.operators.quantiles import exact_group_quantiles

        df = spark.createDataFrame(
            [(i, 0, 7) for i in range(10)], "id bigint, g int, v bigint"
        )
        got = exact_group_quantiles(
            df, "v", "g", [0.5], tiebreak_col="id"
        ).collect()
        assert len(got) == 1 and got[0]["value"] == 7
        for bad in ([], [0.0], [1.5]):
            with _pytest.raises(ValueError):
                exact_group_quantiles(df, "v", "g", bad)
