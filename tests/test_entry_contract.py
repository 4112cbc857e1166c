"""Driver-contract smoke: entry() runs and the queries()/oracle_sql() maps
stay consistent (every oracle key has a query; flagship schema stable),
every library module sits on an import path from a declared entry
point, and every top-level function or class is named outside tests."""

import ast
import re
from collections import Counter
from pathlib import Path

import __spark_entry__ as entry_mod

REPO = Path(__file__).resolve().parent.parent

# The programs that define what the library is for: the query surface
# (``queries()``), the pipeline script, and both benchmarks.
ENTRY_POINTS = (
    "__spark_entry__.py",
    "scripts/run_pipeline.py",
    "bench.py",
    "bench_extra.py",
    "perfbench/*.py",
)

# Library modules no entry point imports, and why each is still here.
# The list may only shrink: wire a module into an entry point or delete
# it, then drop its line.
UNREACHED = {
    # media codec and metadata kernels left from the deleted media
    # operator; only their own tests import them
    "kernels.aacmeta",
    "kernels.mp3meta",
    "kernels.wavcodec",
    "kernels.webpmeta",
    # paper stages downstream of the KG (typed facts, negative examples,
    # QA assembly, WikiReading documents) that no query or pipeline
    # stage runs yet
    "pipeline.facts",
    "pipeline.negatives",
    "pipeline.qa",
    "pipeline.wikireading",
}

# Top-level functions and classes of reached modules whose name no .py
# file outside tests/ mentions outside their own definition, and why each
# is still here. The dict may only shrink, like UNREACHED.
TEST_ONLY = {
    "__spark_entry__.q_kg_triples_pipeline":
        "pytest gate of the fused kernel against the flagship query",
    "__spark_entry__.q_dedup_simhash":
        "md5 SimHash twin, gated by pytest since it left queries()",
    "__spark_entry__._simhash_md5_oracle_sql":
        "DuckDB oracle of q_dedup_simhash",
    "datagen.claim_rows":
        "claims-table generator for pipeline.facts (ROADMAP 1d decides)",
    "datagen.entity_label_rows":
        "entity-label generator for pipeline.facts (ROADMAP 1d decides)",
    "kernels.matching.find_matches":
        "WikiReading answer-token match; pipeline.wikireading is unreached",
    "kernels.pos.pos_tag_perceptron":
        "per-call perceptron tagger; srl broadcasts the model instead",
    "kernels.pos_corpus.evaluate":
        "held-out accuracy gate of the perceptron corpus",
    "kernels.tokenizer.sentence_break_indices":
        "WikiReading break levels; pipeline.wikireading is unreached",
    "kernels.tokenizer.paragraph_break_indices":
        "WikiReading break levels; pipeline.wikireading is unreached",
    "operators.packing.pack_sequences_incremental":
        "append-only packing; no query or pipeline stage packs batches",
    "pipeline.extraction.segment_turns":
        "sentence-per-row view of the fused kernel's segmentation",
    "sources.compaction.read_partitioned":
        "one-line reader the compaction tests use",
    "sources.io.write_jsonl": "S7 JSONL sink; only the QA-chain tests use it",
    "sources.io.read_jsonl": "S7 JSONL source; only the QA-chain tests use it",
    "sources.io.read_templates_csv":
        "S8 template source; no stage reads templates from CSV yet",
    "sources.io.write_conll": "S10 CoNLL sink; no stage exports CoNLL yet",
    "sources.io.read_squad_json":
        "S11 SQuAD source; no stage reads SQuAD JSON yet",
    "sources.snapshots.commit_append":
        "append commit; the manifest run only replaces partitions",
}


class TestDriverContract:
    def test_entry_smoke(self, spark):
        df = entry_mod.entry(spark)
        assert df.schema.simpleString() == (
            "struct<id:string,subj:string,pred:string,obj:string,"
            "conv_id:string,turn_idx:int,evidence:string>"
        )
        assert df.count() > 0

    def test_maps_consistent(self):
        qs = entry_mod.queries()
        oracles = entry_mod.oracle_sql()
        assert set(oracles) <= set(qs), set(oracles) - set(qs)
        # every query callable is, in fact, callable
        assert all(callable(f) for f in qs.values())
        # every query is oracle-checked — no rows-only entries left
        rows_only = set(qs) - set(oracles)
        assert rows_only == set(), rows_only

    def test_pipeline_variant_matches_flagship(self, spark):
        """kg_triples_pipeline left the 50-row driver report (r3
        next-round #5 freed the slot for txt_hygiene) — its gate lives
        here instead: the fused-kernel pipeline must reproduce the
        JVM-only flagship exactly (both were green against the SAME
        KG_TRIPLES_SQL through round 3)."""
        sf = "/root/testdata/sf0.001"
        cols = ["id", "subj", "pred", "obj", "conv_id", "turn_idx",
                "evidence"]
        a = {tuple(r[k] for k in cols)
             for r in entry_mod.kg_triples_df(spark, sf)
             .select(*cols).collect()}
        b = {tuple(r[k] for k in cols)
             for r in entry_mod.q_kg_triples_pipeline(spark, sf)
             .select(*cols).collect()}
        assert a == b and len(a) > 0


def _module_file(name):
    base = REPO.joinpath(*name.split("."))
    for f in (base.with_suffix(".py"), base / "__init__.py"):
        if f.is_file():
            return f
    return None


def _imported_names(path):
    """Every dotted name an import statement in ``path`` may load,
    including imports inside functions. ``from a import b`` yields both
    ``a`` and ``a.b``: ``b`` may be a submodule."""
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            yield from (a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            # the repo has no relative imports; one would show up as an
            # unreached module, not slip through
            mod = node.module or ""
            yield mod
            yield from (f"{mod}.{a.name}" for a in node.names)


def _reached_files():
    todo = [f for pat in ENTRY_POINTS for f in REPO.glob(pat)]
    seen = set()
    while todo:
        f = todo.pop()
        if f in seen:
            continue
        seen.add(f)
        for name in _imported_names(f):
            parts = name.split(".")
            # importing a.b.c runs a/__init__ and a/b/__init__ too
            for i in range(1, len(parts) + 1):
                g = _module_file(".".join(parts[:i]))
                if g is not None:
                    todo.append(g)
    return seen


def _module_name(f):
    rel = f.relative_to(REPO / "xwikire_spark").with_suffix("")
    parts = rel.parts[:-1] if rel.name == "__init__" else rel.parts
    return ".".join(parts)


def test_every_library_module_is_reachable():
    pkg = REPO / "xwikire_spark"
    seen = _reached_files()
    unreached = set()
    for f in pkg.rglob("*.py"):
        body = ast.parse(f.read_text()).body
        if f.name == "__init__.py" and all(
            isinstance(n, ast.Expr) for n in body
        ):
            continue  # docstring-only package marker
        if f not in seen:
            unreached.add(_module_name(f))
    assert unreached - UNREACHED == set(), "new module no entry point imports"
    assert UNREACHED - unreached == set(), "now reachable: drop from UNREACHED"


def test_every_library_function_is_referenced():
    """Each top-level def/class of ``__spark_entry__.py`` and of every
    module not in UNREACHED is named, as a whole word, in some .py file
    outside tests/ other than inside its own definition (a recursive call
    or an error message naming itself is not a caller)."""
    sources = {
        f: f.read_text()
        for f in REPO.rglob("*.py")
        if not any(
            p == "tests" or p.startswith(".")
            for p in f.relative_to(REPO).parts
        )
    }
    words = Counter(w for t in sources.values() for w in re.findall(r"\w+", t))
    modules = {REPO / "__spark_entry__.py": "__spark_entry__"}
    for f in (REPO / "xwikire_spark").rglob("*.py"):
        if _module_name(f) not in UNREACHED:
            modules[f] = _module_name(f)
    unreferenced = set()
    for f, mod in modules.items():
        lines = sources[f].splitlines()
        for node in ast.parse(sources[f]).body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                continue
            body = "\n".join(lines[node.lineno - 1 : node.end_lineno])
            own = re.findall(rf"\b{node.name}\b", body)
            if words[node.name] == len(own):
                unreferenced.add(f"{mod}.{node.name}")
    assert unreferenced - set(TEST_ONLY) == set(), "new test-only name"
    assert set(TEST_ONLY) - unreferenced == set(), (
        "now referenced or gone: drop from TEST_ONLY"
    )
