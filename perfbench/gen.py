"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments, so the
same seed gives byte-identical inputs. The program under test only ever
sees the rows these functions return (written to parquet by run.py).
"""

from __future__ import annotations

import datetime as dt
import random


# --------------------------------------------------------------------------
# kg_small: the repo's own transcript generator and its 18-alias dictionary
# --------------------------------------------------------------------------


def kg_small(seed: int, n_convs: int) -> dict:
    from xwikire_spark import datagen

    rows, _ = datagen.generate_transcripts(
        n_convs=n_convs, turns_per_conv=12, seed=seed
    )
    return {
        "transcripts": rows,
        "aliases": datagen.alias_rows(),
        "predicates": datagen.predicate_rows(),
    }


def alias_pairs(aliases: list[dict]) -> list[tuple[str, str]]:
    """(surface, entity_id) pairs, collisions kept — the dictionary the
    extraction kernel compiles."""
    return sorted({(a["alias"], a["entity_id"]) for a in aliases if a["alias"]})


def predicate_pairs(predicates: list[dict]) -> list[tuple[str, str]]:
    """(surface, pid) pairs over each predicate's label and aliases."""
    out = set()
    for p in predicates:
        for s in [p["label"], *(p["aliases"] or [])]:
            if s:
                out.add((s, p["pid"]))
    return sorted(out)


# --------------------------------------------------------------------------
# operators: documents, embeddings, a graph, events and a collision graph
# --------------------------------------------------------------------------

LANGS = ["en", "de", "fr", "es", "zh"]
EVENT_TYPES = ["view", "purchase", "click"]
_BASE_TS = dt.datetime(2024, 1, 1)


def _vocab(rng: random.Random, n: int) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(letters) for _ in range(rng.randint(3, 8))))
    return sorted(words)


def _documents(rng: random.Random, n_docs: int) -> list[dict]:
    vocab = _vocab(rng, 400)
    n_sources = 20
    texts: list[tuple[str, str, str]] = []
    for _ in range(n_docs):
        words = [rng.choice(vocab) for _ in range(rng.randint(30, 420))]
        if rng.random() < 0.1:
            k = rng.randint(0, 99999)
            words += ["see", f"http://ex.com/p{k}?q={k % 7}", "or", "mail",
                      f"u{k}@ex.org"]
        texts.append((" ".join(words), rng.choice(LANGS),
                      f"src{rng.randrange(n_sources)}"))
    # near duplicates: one word appended (shingle and token Jaccard >= 0.95,
    # far above both dedup thresholds) in the original's group, plus exact
    # copies
    for i in rng.sample(range(n_docs), n_docs // 30):
        text, lang, src = texts[i]
        texts.append((text + " " + rng.choice(vocab), lang, src))
    for i in rng.sample(range(n_docs), n_docs // 100):
        texts.append(texts[i])
    rng.shuffle(texts)
    return [
        {"doc_id": i, "text": t, "lang": lang, "source": src,
         "n_chars": len(t)}
        for i, (t, lang, src) in enumerate(texts)
    ]


def _embeddings(rng: random.Random, n: int, dim: int = 64) -> list[dict]:
    return [
        {"vec_id": i,
         "embedding": [round(rng.gauss(0.0, 1.0), 4) for _ in range(dim)]}
        for i in range(n)
    ]


def _graph_edges(rng: random.Random, n_nodes: int, n_edges: int) -> list[dict]:
    """Random sparse graph with planted cliques, some reversed duplicates
    and self-loops (the operator must ignore both)."""
    edges = set()
    while len(edges) < n_edges:
        edges.add((rng.randrange(n_nodes), rng.randrange(n_nodes)))
    for _ in range(n_nodes // 40):
        members = rng.sample(range(n_nodes), rng.randint(4, 7))
        for a in members:
            for b in members:
                if a < b:
                    edges.add((a, b))
    out = [{"src": a, "dst": b} for a, b in sorted(edges)]
    out += [{"src": e["dst"], "dst": e["src"]} for e in out[:50]]
    return out


def _events(rng: random.Random, n: int, n_users: int) -> list[dict]:
    out = []
    for i in range(n):
        ts = _BASE_TS + dt.timedelta(
            seconds=rng.randrange(30 * 86400), microseconds=rng.randrange(10**6)
        )
        out.append({
            "event_id": i,
            "ts": ts,
            "user_id": rng.randrange(n_users),
            "event_type": rng.choice(EVENT_TYPES),
            "value": round(rng.uniform(0, 100), 2),
        })
    return out


def _collision_graph(rng: random.Random, n_ids: int) -> tuple[list, list]:
    """Brand-like ids in small path-shaped clusters (up to 8 ids, so the
    labels converge within a few rounds; see README.md on long chains)."""
    ids = [f"b{i:05d}" for i in range(n_ids)]
    order = ids[:]
    rng.shuffle(order)
    edges = set()
    pos = 0
    while pos < len(order):
        size = rng.randint(1, 8)
        group = order[pos:pos + size]
        pos += size
        for a, b in zip(group, group[1:]):
            edges.add((min(a, b), max(a, b)))
    return (
        [{"id": i} for i in ids],
        [{"src": a, "dst": b} for a, b in sorted(edges)],
    )


def operators(seed: int, n_docs: int) -> dict:
    rng = random.Random(seed)
    vertices, cc_edges = _collision_graph(rng, 4 * n_docs)
    return {
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_docs),
        "graph": _graph_edges(rng, n_docs, 6 * n_docs),
        "events": _events(rng, 20 * n_docs, n_docs // 2),
        "cc_vertices": vertices,
        "cc_edges": cc_edges,
    }
