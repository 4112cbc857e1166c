"""Driver-contract smoke: entry() runs and the queries()/oracle_sql() maps
stay consistent (every oracle key has a query; flagship schema stable),
every library module sits on an import path from a declared entry
point, and every top-level definition is used by code outside tests."""

import ast
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
    "kernels.webpmeta",
    # paper stages downstream of the KG (typed facts, negative examples,
    # QA assembly, WikiReading documents) that no query or pipeline
    # stage runs yet
    "pipeline.facts",
    "pipeline.negatives",
    "pipeline.qa",
    "pipeline.wikireading",
}

# Top-level definitions (functions, classes and assignments) of reached
# modules that no code outside tests/ uses, and why each is still here.
# The dict may only shrink, like UNREACHED.
TEST_ONLY = {
    "__spark_entry__.q_kg_triples_pipeline":
        "pytest gate of the fused kernel against the flagship query",
    "datagen.claim_rows":
        "claims-table generator for pipeline.facts (ROADMAP 1d decides)",
    "datagen.entity_label_rows":
        "entity-label generator for pipeline.facts (ROADMAP 1d decides)",
    "kernels.matching.find_matches":
        "WikiReading answer-token match; pipeline.wikireading is unreached",
    "kernels.pos_corpus.evaluate":
        "held-out accuracy gate of the perceptron corpus",
    "kernels.pos_data.HELDOUT_CORPUS":
        "held-out sentences the perceptron tests score against",
    "kernels.tokenizer.sentence_break_indices":
        "WikiReading break levels; pipeline.wikireading is unreached",
    "kernels.tokenizer.paragraph_break_indices":
        "WikiReading break levels; pipeline.wikireading is unreached",
    "operators.dedup.decontaminate":
        "its excise tests are the targeted tests of excise_plan_exprs and "
        "excise_kept_expr, which q_txt_hygiene inlines",
    "operators.textstats.langid_score":
        "per-text reference scorer the langid UDF is tested against",
    "sources.compaction.partition_hash":
        "row-content hash the compaction tests compare before and after",
    "sources.compaction.read_partitioned":
        "one-line reader the compaction tests use",
    "sources.io.write_jsonl": "S7 JSONL sink; only the QA-chain tests use it",
    "sources.io.read_jsonl": "S7 JSONL source; only the QA-chain tests use it",
    "sources.io.read_templates_csv":
        "S8 template source; no stage reads templates from CSV yet",
    "sources.io.write_conll": "S10 CoNLL sink; no stage exports CoNLL yet",
    "sources.io.read_squad_json":
        "S11 SQuAD source; no stage reads SQuAD JSON yet",
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


def _module_name(rel):
    """Dotted name of a library file below ``xwikire_spark/``, from its
    path relative to the repo."""
    parts = rel.with_suffix("").parts[1:]
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


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
            unreached.add(_module_name(f.relative_to(REPO)))
    assert unreached - UNREACHED == set(), "new module no entry point imports"
    assert UNREACHED - unreached == set(), "now reachable: drop from UNREACHED"


def _refs(node):
    """Every name ``node`` uses in code: names, attributes and imports
    (f-string expressions included). Docstrings, comments and other
    strings are not code."""
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.alias):
            yield from n.name.split(".")
            if n.asname:
                yield n.asname


def _defined(node):
    """The names a top-level statement defines: a def or class, or the
    plain names an assignment binds (UDF objects and schemas)."""
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [node.name]
    if isinstance(node, ast.Assign):
        return [t.id for t in node.targets if isinstance(t, ast.Name)]
    if isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
        return [node.target.id]
    return []


def _test_only(sources):
    """Top-level definitions of ``__spark_entry__.py`` and of the library
    modules not in UNREACHED among ``sources`` ({path relative to the
    repo: source}) that no live code uses, as ``module.name``. Live code
    is everything outside those modules (scripts, benchmarks, and the
    UNREACHED modules, whose debt that list already holds), their other
    top-level statements, ``entry``, and, to a fixed point, the definitions
    live code names. So a use from inside a definition only tests reach
    does not count, nor does a definition's use of itself. Dunder names
    are skipped."""
    live = {"entry"}  # the entry contract: called by name from outside
    defs = {}  # module.name -> (name, names its definition uses)
    for rel, src in sources.items():
        tree = ast.parse(src)
        if rel == Path("__spark_entry__.py"):
            mod = "__spark_entry__"
        elif (
            rel.parts[0] == "xwikire_spark"
            and _module_name(rel) not in UNREACHED
        ):
            mod = _module_name(rel)
        else:
            live.update(_refs(tree))
            continue
        for node in tree.body:
            names = [n for n in _defined(node) if not n.startswith("__")]
            uses = set(_refs(node))
            for n in names:
                defs[f"{mod}.{n}"] = (n, uses - {n})
            if not names:
                live |= uses
    dead = set(defs)
    grew = True
    while grew:
        reached = {k for k in dead if defs[k][0] in live}
        dead -= reached
        for k in reached:
            live |= defs[k][1]
        grew = bool(reached)
    return dead


def test_every_library_function_is_referenced():
    """Each top-level definition of ``__spark_entry__.py`` and of every
    module not in UNREACHED is used by code outside tests/ (``_test_only``
    finds the ones that are not)."""
    sources = {
        f.relative_to(REPO): f.read_text()
        for f in REPO.rglob("*.py")
        if not any(
            p == "tests" or p.startswith(".")
            for p in f.relative_to(REPO).parts
        )
    }
    unreferenced = _test_only(sources)
    assert unreferenced - set(TEST_ONLY) == set(), "new test-only name"
    assert set(TEST_ONLY) - unreferenced == set(), (
        "now referenced or gone: drop from TEST_ONLY"
    )


def test_test_only_reads_code_not_prose():
    """The scan on synthetic sources: a name in a docstring, a comment or
    a string is not a use; a use from a test-only definition is not
    either; an f-string expression is; ``entry`` is a root."""
    sources = {
        Path("__spark_entry__.py"): (
            "from xwikire_spark.m import used\n"
            "def entry(spark):\n"
            "    return used(spark)\n"
        ),
        Path("xwikire_spark/m.py"): (
            '"""prose_only is named here."""\n'
            "# and prose_only here\n"
            "def prose_only():\n"
            "    return 1\n"
            "def via_test_only():\n"
            "    return 2\n"
            "def test_only_caller():\n"
            "    return via_test_only()\n"
            "def in_fstring(x):\n"
            "    return x\n"
            "SCHEMA = 'a int'\n"
            "def used(spark):\n"
            "    return f\"{in_fstring(SCHEMA)} prose_only\"\n"
        ),
        Path("scripts/run.py"): "print('prose_only')\n",
    }
    assert _test_only(sources) == {
        "m.prose_only", "m.via_test_only", "m.test_only_caller",
    }
