"""Independent expected outputs for every workload.

Nothing here calls the code under test: the triple oracle is the repo's
pure-Python reference (``oracle/reference_impl.py``), canonicalization is a
plain union-find, salience is a numpy power iteration, and each operator
has a small Python/numpy restatement of its documented semantics.
"""

from __future__ import annotations

import bisect
import math
import re
from collections import Counter, defaultdict
from fractions import Fraction

import numpy as np


# --------------------------------------------------------------------------
# kg: triples, canonicalization, salience
# --------------------------------------------------------------------------


def union_find_min(ids, edges) -> dict:
    """id -> smallest id of its connected component."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo
    return {i: find(i) for i in ids}


def canonical_map(alias_pairs) -> dict:
    """entity_id -> canonical id over the alias-collision graph (entities
    sharing a surface are connected; canonical = min id)."""
    by_surface = defaultdict(set)
    for surface, eid in alias_pairs:
        by_surface[surface].add(eid)
    edges = []
    for ents in by_surface.values():
        if len(ents) <= 1000:  # the non-discriminative surface guard
            ents = sorted(ents)
            edges += [(ents[0], e) for e in ents[1:]]
    return union_find_min({e for _, e in alias_pairs}, edges)


def expected_triples(rows, alias_pairs, pred_pairs) -> list[tuple]:
    """Canonicalized (conv_id, subj, pred, obj) rows, one per evidence
    triple (a multiset: two raw triples can share a canonical key)."""
    from oracle.reference_impl import extract_triples_oracle

    canon = canonical_map(alias_pairs)
    raw = extract_triples_oracle(rows, alias_pairs, pred_pairs)
    return [
        (t["conv_id"], canon.get(t["subj"], t["subj"]), t["pred"],
         canon.get(t["obj"], t["obj"]))
        for t in raw
    ]


def precision_recall(got: Counter, want: Counter) -> tuple[float, float]:
    tp = sum((got & want).values())
    n_got, n_want = sum(got.values()), sum(want.values())
    return (tp / n_got if n_got else 0.0, tp / n_want if n_want else 0.0)


def expected_salience(triples, damping=0.85, n_iter=10, top_k=100):
    """Top-k (entity_id, rank, out_degree, in_degree, conv_mentions) by a
    numpy power iteration: ranks start at 1.0 and sum to N; a dangling
    vertex's mass is spread evenly over all N vertices next round."""
    ids = sorted({t[1] for t in triples} | {t[3] for t in triples})
    if not ids:
        return []
    pos = {v: i for i, v in enumerate(ids)}
    n = len(ids)
    src = np.array([pos[t[1]] for t in triples])
    dst = np.array([pos[t[3]] for t in triples])
    out_deg = np.bincount(src, minlength=n).astype(float)
    dangling = out_deg == 0
    rank = np.ones(n)
    for _ in range(n_iter):
        share = rank[src] / out_deg[src]
        msg = np.bincount(dst, weights=share, minlength=n)
        rank = (1 - damping) + damping * (msg + rank[dangling].sum() / n)
    convs = defaultdict(set)
    for conv, s, _, o in triples:
        convs[s].add(conv)
        convs[o].add(conv)
    in_deg = np.bincount(dst, minlength=n)
    order = sorted(range(n), key=lambda i: (-rank[i], ids[i]))[:top_k]
    return [
        (ids[i], float(rank[i]), int(out_deg[i]), int(in_deg[i]),
         len(convs[ids[i]]))
        for i in order
    ]


def salience_matches(got, want, tol=1e-6) -> bool:
    """Position-wise rank agreement plus per-entity agreement, so entities
    whose ranks tie within ``tol`` may appear in either order."""
    if len(got) != len(want):
        return False
    by_id = {w[0]: w for w in want}
    for g, w in zip(got, want):
        if abs(g[1] - w[1]) > tol:
            return False
        ref = by_id.get(g[0])
        if ref is None or abs(ref[1] - g[1]) > tol or ref[2:] != g[2:]:
            return False
    return True


# --------------------------------------------------------------------------
# operators: expected rows (column order = the operator's output columns)
# --------------------------------------------------------------------------


def _shingles(text: str, k: int = 3) -> set[str]:
    w = text.split(" ")
    return {" ".join(w[i:i + k]) for i in range(len(w) - k + 1)}


def _jaccard_pairs(sets: dict, threshold: float, candidates) -> set[tuple]:
    out = set()
    for a, b in candidates:
        sa, sb = sets[a], sets[b]
        inter = len(sa & sb)
        j = inter / (len(sa) + len(sb) - inter)
        if inter and j >= threshold:
            out.add((a, b, round(j, 6)))
    return out


def minhash_lsh(docs) -> set[tuple]:
    """Exact 3-word-shingle Jaccard >= 0.8 over all doc pairs that share
    a shingle held by fewer than 50 docs (a pair at >= 0.8 shares dozens;
    random text over a 400-word vocabulary almost never repeats one). The
    planted near-duplicates sit at >= 0.95, where banding misses a pair
    with probability < 1e-5."""
    sets = {d["doc_id"]: _shingles(d["text"]) for d in docs}
    post = defaultdict(list)
    for i, s in sets.items():
        for sh in s:
            post[sh].append(i)
    cands = {
        (a, b) for ids in post.values() if len(ids) < 50
        for a in ids for b in ids if a < b
    }
    return _jaccard_pairs(sets, 0.8, cands)


def near_jaccard(docs, threshold=0.6) -> set[tuple]:
    """Token-set Jaccard >= threshold for pairs within (lang, source)."""
    sets = {d["doc_id"]: set(d["text"].split(" ")) for d in docs}
    groups = defaultdict(list)
    for d in docs:
        groups[(d["lang"], d["source"])].append(d["doc_id"])
    cands = [(a, b) for g in groups.values() for a in g for b in g if a < b]
    return _jaccard_pairs(sets, threshold, cands)


def ann_cosine(emb, n_queries=8, k=5) -> set[tuple]:
    ids = np.array([e["vec_id"] for e in emb])
    m = np.array([e["embedding"] for e in emb], dtype=float)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    out = set()
    for qi in np.flatnonzero(ids < n_queries):
        cos = m @ m[qi]
        order = sorted(
            (j for j in range(len(ids)) if j != qi),
            key=lambda j: (-cos[j], ids[j]),
        )[:k]
        out |= {(int(ids[qi]), int(ids[j]), r + 1) for r, j in enumerate(order)}
    return out


_URL = re.compile(r"https?://[-A-Za-z0-9._~:/?#@!$&*+,;=%]+")
_EMAIL = re.compile(
    r"[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+([.][A-Za-z0-9-]+)*[.][A-Za-z][A-Za-z]+"
)


def scrub_pii(docs) -> set[tuple]:
    out = set()
    for d in docs:
        t, nu = _URL.subn("<URL>", d["text"])
        t, ne = _EMAIL.subn("<EMAIL>", t)
        out.add((d["doc_id"], d["lang"], d["source"], d["n_chars"], nu, ne, t))
    return out


def triangles(edges) -> set[tuple]:
    adj = defaultdict(set)
    for e in edges:
        a, b = e["src"], e["dst"]
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    count = Counter()
    for a in adj:
        for b in adj[a]:
            if b > a:
                for c in adj[a] & adj[b]:
                    if c > b:
                        count.update((a, b, c))
    return set(count.items())


def group_quantiles(docs, qs) -> set[tuple]:
    groups = defaultdict(list)
    for d in docs:
        groups[d["lang"]].append((d["n_chars"], d["doc_id"]))
    out = set()
    for lang, vals in groups.items():
        vals.sort()
        n = len(vals)
        for q in qs:
            fr = Fraction(str(q))
            rank = -(-fr.numerator * n // fr.denominator)  # ceil(q * n)
            out.add((lang, float(q), vals[rank - 1][0]))
    return out


def tfidf(docs, k=5) -> set[tuple]:
    tf = defaultdict(Counter)
    for d in docs:
        tf[d["source"]].update(re.findall(r"[a-z]{3,}", d["text"].lower()))
    n_groups = len({d["source"] for d in docs})
    dfreq = Counter(t for terms in tf.values() for t in terms)
    out = set()
    for grp, terms in tf.items():
        scored = sorted(
            ((c * math.log(n_groups / dfreq[t]), t, c) for t, c in terms.items()),
            key=lambda x: (-x[0], x[1]),
        )
        for r, (s, t, c) in enumerate(scored[:k]):
            out.add((grp, t, c, dfreq[t], round(s, 6), r + 1))
    return out


def chunks(docs, size=256, overlap=32) -> set[tuple]:
    step = size - overlap
    out = set()
    for d in docs:
        w = d["text"].strip().split()
        for i in range(math.ceil(len(w) / step)):
            part = w[i * step:i * step + size]
            out.add((d["doc_id"], i, " ".join(part), len(part)))
    return out


def asof(events) -> set[tuple]:
    """Each purchase gets the latest view (max value per (user, ts)) at or
    before it, by user."""
    views = defaultdict(dict)
    for e in events:
        if e["event_type"] == "view":
            cur = views[e["user_id"]].get(e["ts"])
            views[e["user_id"]][e["ts"]] = max(cur or e["value"], e["value"])
    keyed = {u: sorted(v.items()) for u, v in views.items()}
    out = set()
    for e in events:
        if e["event_type"] != "purchase":
            continue
        vs = keyed.get(e["user_id"], [])
        i = bisect.bisect_right([t for t, _ in vs], e["ts"]) - 1
        vts, vv = vs[i] if i >= 0 else (None, None)
        out.add((e["event_id"], e["user_id"], e["ts"],
                 round(vv, 6) if vv is not None else None, vts))
    return out


def cc(vertices, edges) -> set[tuple]:
    comp = union_find_min(
        [v["id"] for v in vertices], [(e["src"], e["dst"]) for e in edges]
    )
    return set(comp.items())
