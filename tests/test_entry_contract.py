"""Driver-contract smoke: entry() runs and the queries()/oracle_sql() maps
stay consistent (every oracle key has a query; flagship schema stable),
and every library module sits on an import path from a declared entry
point."""

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
    "kernels.gifcodec",
    "kernels.imagecodec",
    "kernels.jpegcodec",
    "kernels.mp3meta",
    "kernels.mp4codec",
    "kernels.wavcodec",
    "kernels.webpmeta",
    # moses-style second tokenizer backend; only tests select it
    "kernels.moses_tokenizer",
    # paper stages downstream of the KG (typed facts, negative examples,
    # QA assembly, WikiReading documents) that no query or pipeline
    # stage runs yet
    "pipeline.facts",
    "pipeline.negatives",
    "pipeline.qa",
    "pipeline.wikireading",
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
            rel = f.relative_to(pkg).with_suffix("")
            parts = rel.parts[:-1] if rel.name == "__init__" else rel.parts
            unreached.add(".".join(parts))
    assert unreached - UNREACHED == set(), "new module no entry point imports"
    assert UNREACHED - unreached == set(), "now reachable: drop from UNREACHED"
