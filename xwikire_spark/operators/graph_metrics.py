"""Distributed triangle counting — the graph-quality metric for entity
graphs (KG density / clustering audits) and the textbook case study in
join-skew control.

The naive enumeration joins the edge list with itself on the shared
endpoint; a hub of degree d contributes d^2 wedge rows, so one celebrity
node can dwarf the rest of the job. The standard fix (node-iterator++ /
Schank-Wagner) orients every edge from its LOWER-degree endpoint to its
higher-degree endpoint (ties broken by id): every node's OUT-degree is
then bounded by O(sqrt(m)), wedges are enumerated only between
out-neighbors, and each triangle is produced exactly once under the
acyclic orientation. Both joins are plain equi-joins Catalyst shuffles
by key — no window, no iteration.

Per-node attribution is orientation-independent: a closed wedge
(a -> b, a -> c, b ~ c) is one triangle {a, b, c}; exploding the three
members and aggregating gives each node its true triangle count, which
is what the DuckDB oracle (plain a<b<c enumeration — affordable at test
scale) checks hash-exactly.

Small graphs are counted on the driver (``_triangles_numpy``): when the
deduplicated edges number at most ``graph.DRIVER_LOOP_MAX_ROWS`` and
their oriented wedges fit the same bound, the edges are collected once
with Arrow and counted in numpy with the same orientation. The joins
above cost a job floor per exchange whatever the graph's size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _canonical_undirected(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Dedup to one row per undirected edge {u, v}, self-loops dropped.
    ``least`` and ``greatest`` skip a null, so an edge with one null
    endpoint becomes a self-loop and one with two has null ends: the
    filter drops both."""
    u = F.least(F.col(src), F.col(dst)).alias("u")
    v = F.greatest(F.col(src), F.col(dst)).alias("v")
    return (
        edges.select(u, v)
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _triangles_numpy(spark, t, id_type, max_wedges: int):
    """``triangle_counts`` on the driver over the collected Arrow table
    ``t(u, v)`` of ``_canonical_undirected`` edges, or None when the
    oriented edges close more than ``max_wedges`` wedges. Each edge
    points from its lower (degree, id) end to the other, as on the Spark
    path. Ids are dense indices in Spark's id order (``dense_ids``), so
    a smaller index is a smaller id and u < v holds for the indices."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.types import LongType, StructField, StructType

    from xwikire_spark.pipeline.graph import dense_ids

    ucol, vcol = t.column("u"), t.column("v")
    ids, (u, v) = dense_ids(
        pa.chunked_array(ucol.chunks + vcol.chunks, ucol.type), ucol, vcol
    )
    n = len(ids)
    # the undirected edges as sorted int64 keys u * n + v (u < v)
    key = np.sort(u.astype(np.int64) * n + v)
    u, v = key // n, key % n
    deg = np.bincount(u, minlength=n) + np.bincount(v, minlength=n)
    lower_first = (deg[u] < deg[v]) | ((deg[u] == deg[v]) & (u < v))
    lo, hi = np.where(lower_first, u, v), np.where(lower_first, v, u)
    # wedges: each pair of out-neighbours of one pivot, sum C(d+, 2)
    out_deg = np.bincount(lo, minlength=n)
    if int((out_deg * (out_deg - 1) // 2).sum()) > max_wedges:
        return None
    order = np.lexsort((hi, lo))
    lo, hi = lo[order], hi[order]
    # the edge at sorted position i pairs with the later ones of its pivot
    later = np.repeat(np.cumsum(out_deg), out_deg) - np.arange(len(lo)) - 1
    first = np.repeat(np.arange(len(lo)), later)
    offset = np.arange(len(first)) - np.repeat(np.cumsum(later) - later, later)
    pivot, x, y = lo[first], hi[first], hi[first + offset + 1]
    # close each wedge against the sorted edge keys: out-neighbours are
    # sorted, so x < y, the order the keys are built in
    wkey = x * n + y
    closed = key[np.minimum(np.searchsorted(key, wkey), len(key) - 1)] == wkey
    counts = np.bincount(
        np.concatenate([pivot[closed], x[closed], y[closed]]), minlength=n
    )
    nodes = np.flatnonzero(counts)
    return spark.createDataFrame(
        pa.table({"node": ids.take(nodes), "n_triangles": counts[nodes]}),
        StructType([
            StructField("node", id_type),
            StructField("n_triangles", LongType(), False),
        ]),
    )


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    materialize: bool = True,
) -> DataFrame:
    """Per-node triangle participation: (node, n_triangles), nodes in no
    triangle omitted. Input edges are treated as undirected; duplicates
    and self-loops are ignored.

    The canonical edge set is localCheckpointed once, and that job
    counts it. At most ``graph.DRIVER_LOOP_MAX_ROWS`` edges are collected
    with Arrow and counted on the driver (``_triangles_numpy``) when
    their wedges fit the same bound; otherwise the joins below run over
    the checkpoint. Both give the same rows.

    ``materialize`` (default on) also localCheckpoints the oriented edge
    set: like the canonical one it is referenced by multiple join
    branches (wedges, closure), and without severing lineage each branch
    re-derives the full upstream edge computation — measured 56 exchange
    nodes vs 10 on the co-purchase graph. Both frames are O(m)."""
    from pyspark.sql import Observation

    from xwikire_spark.pipeline import graph

    bound = graph.DRIVER_LOOP_MAX_ROWS
    obs = Observation()
    und = (
        _canonical_undirected(edges, src, dst)
        .observe(obs, F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    if (dict(obs.get).get("n") or 0) <= bound:
        tris = _triangles_numpy(
            edges.sparkSession, und.toArrow(), und.schema["u"].dataType, bound
        )
        if tris is not None:
            return tris
    # degree over the undirected edge set
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # orient low-degree -> high-degree (id tiebreak): out-degree bounded
    # by O(sqrt(m)), so the wedge join below cannot blow up on hubs
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    withdeg = und.join(du, "u").join(dv, "v")
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = withdeg.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("lo"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("hi"),
    )
    if materialize:
        oriented = oriented.localCheckpoint()
    # wedges between out-neighbors of the same pivot, closed against the
    # oriented edge set (a triangle has exactly one node with out-edges
    # to the other two under an acyclic orientation)
    e1 = oriented.select(
        F.col("lo").alias("pivot"), F.col("hi").alias("x")
    )
    e2 = oriented.select(
        F.col("lo").alias("pivot"), F.col("hi").alias("y")
    )
    wedges = e1.join(e2, "pivot").where(F.col("x") < F.col("y"))
    # close against the canonical (u < v) undirected set — wedge ends are
    # already emitted with x < y, so no symmetric expansion is needed
    tris = wedges.join(
        und,
        (F.col("x") == F.col("u")) & (F.col("y") == F.col("v")),
    ).select("pivot", "x", "y")
    member = tris.select(
        F.explode(F.array("pivot", "x", "y")).alias("node")
    )
    return member.groupBy("node").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
