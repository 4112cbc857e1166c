"""Entity canonicalization: connected components over the alias-sharing
graph (north_rule: "canonicalized via connected-components alias clustering
on a salted key to break hot-entity skew").

The reference has no canonicalization (alias collisions simply produce
separate facts); transcripts need it because one surface can link to many
entities (alias_dict collisions, FIXTURES.md §2). Component id = the
lexicographically smallest entity_id in the component — deterministic.

Algorithm: iterative min-label propagation (hash-join based "large-star"
variant) — labels converge in O(log n) rounds on real alias graphs:

    labels(v) = v
    repeat: labels(v) = min(labels(v), min over neighbors u of labels(u))
    until no label changes

Scale notes:
- edges are symmetrized once so each round is ONE shuffle join;
- hot vertices (an alias shared by thousands of entities would create a
  high-degree node) are salted: the neighbor-min aggregation first combines
  per (vertex, salt) partial mins, then per vertex — the classic two-phase
  skew-safe aggregation; AQE skew-join handles residual join skew;
- each round's result is localCheckpoint()ed to cut the lineage chain
  (iterative plans otherwise grow exponentially);
- a graph of at most ``graph.DRIVER_LOOP_MAX_ROWS`` vertices + edges is
  collected once and labelled on the driver in numpy instead: there the
  rounds cost Spark's per-job floor, not data.

``canonical_entity_map`` goes one step earlier: an alias table of at most
``graph.DRIVER_LOOP_MAX_ROWS`` rows is itself collected with Arrow in one
Spark job, and its collision links are built and labelled on the driver
(same fan-out cap, same null rules, same min-id labels as
``collision_edges`` + ``connected_components``, which run above the
bound). Both numpy paths share one labelling loop, ``_min_labels``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

N_SALTS = 8

# An alias shared by more entities than this is non-discriminative (a
# stop-surface like "the company") and its pair fan-out is quadratic —
# the same stop-bucket guard as LSH banding (operators/dedup.py).
DEFAULT_MAX_ALIAS_FANOUT = 1000


def collision_edges(
    alias_dict: DataFrame, max_bucket: int = DEFAULT_MAX_ALIAS_FANOUT
) -> DataFrame:
    """Edges between entity_ids sharing a surface (undirected, deduped).
    Output: src, dst with src < dst.

    ``max_bucket`` drops surfaces shared by more than that many entities
    BEFORE the self-join — one hot alias otherwise contributes O(n²) edges
    and a single skewed join bucket. Real synonym clusters still connect
    through their specific (low-fanout) surfaces."""
    base = alias_dict.select("alias", "entity_id").distinct()
    sized = (
        base.withColumn(
            "_n", F.count(F.lit(1)).over(Window.partitionBy("alias"))
        )
        .where(F.col("_n") <= max_bucket)
        .drop("_n")
    )
    a = sized.select("alias", F.col("entity_id").alias("src"))
    b = sized.select("alias", F.col("entity_id").alias("dst"))
    return (
        a.join(b, "alias")
        .where(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )


def connected_components(
    vertices: DataFrame, edges: DataFrame, max_iter: int = 25
) -> DataFrame:
    """vertices(id) x edges(src,dst) -> (id, component) with component =
    min id reachable. Deterministic; stops when no label changes. Edges
    with an endpoint outside ``vertices`` are ignored.

    Size-adaptive: ``vertices`` and ``edges`` are checkpointed once, each
    job observing its row count (the loop below would otherwise recompute
    an upstream such as ``collision_edges`` every round). When the two
    counts sum to at most ``graph.DRIVER_LOOP_MAX_ROWS`` both are collected
    with Arrow and the labels are computed on the driver in numpy
    (``_components_numpy``): exact ids, always run to convergence. Above
    the bound the distributed loop runs; ``max_iter`` limits only that
    loop. The two paths give the same labels whenever the loop converges
    within ``max_iter`` rounds; a loop that stops at ``max_iter`` with
    labels still changing returns them unconverged and warns.

    Each round of the distributed loop does (a) neighbor-min propagation
    and (b) pointer jumping (component := label(component), i.e. path
    halving). (a) alone is O(diameter) — a 64-node chain would need 63
    rounds; (b) halves label chains each round, giving the O(log n) bound
    (verified by the chain test in tests/test_operators.py)."""
    from pyspark.sql import Observation

    from xwikire_spark.pipeline import graph

    vobs, eobs = Observation(), Observation()
    vertices = (
        vertices.select("id")
        .observe(vobs, F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    # a null endpoint never matches a vertex in the joins below: dropping
    # such edges here changes no label and keeps them out of the count
    edges = (
        edges.select("src", "dst")
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .observe(eobs, F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    n_rows = (dict(vobs.get).get("n") or 0) + (dict(eobs.get).get("n") or 0)
    if n_rows <= graph.DRIVER_LOOP_MAX_ROWS:
        return _components_numpy(vertices, edges)

    # symmetrize once: each undirected edge contributes both directions
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    labels = vertices.select(F.col("id"), F.col("id").alias("component"))

    for _ in range(max_iter):
        # (a) neighbor labels: join edge.src -> label(src), propose to dst.
        # Salted two-phase min keeps hot vertices from serializing a single
        # reducer: partial min per (dst, salt), then final min.
        proposals = (
            sym.join(labels, sym.src == labels.id)
            .select(
                F.col("dst").alias("id"),
                F.col("component"),
                # cast: crc32 takes binary, and a numeric id has no
                # implicit cast to it (same salts for string ids)
                (F.crc32(F.col("src").cast("string")) % N_SALTS).alias(
                    "salt"
                ),
            )
            .groupBy("id", "salt")
            .agg(F.min("component").alias("component"))
            .groupBy("id")
            .agg(F.min("component").alias("neighbor_min"))
        )
        stepped = labels.join(proposals, "id", "left").select(
            "id",
            F.least(
                F.col("component"),
                F.coalesce(F.col("neighbor_min"), F.col("component")),
            ).alias("new_component"),
            # carry the pre-iteration label so convergence needs no
            # join-back against `labels`
            F.col("component").alias("prev"),
        )
        # (b) pointer jump: component := label(component). label(c) <= c is
        # invariant (labels only decrease, starting at the id itself), so
        # the jump never increases a label.
        parent = stepped.select(
            F.col("id").alias("new_component"),
            F.col("new_component").alias("grand"),
        )
        # Convergence count rides the checkpoint job via observe() —
        # ONE Spark job per iteration (was: checkpoint job + a separate
        # count job joining new vs old labels). Labels only decrease, so
        # component != prev identifies every change.
        obs = Observation()
        jumped = (
            stepped.join(parent, "new_component", "left")
            .select(
                "id",
                F.coalesce(F.col("grand"), F.col("new_component")).alias(
                    "component"
                ),
                "prev",
            )
            .observe(
                obs,
                F.sum(
                    (F.col("component") != F.col("prev")).cast("long")
                ).alias("changed"),
            )
            .localCheckpoint()
        )
        labels = jumped.drop("prev")
        if not (dict(obs.get).get("changed") or 0):
            break
    else:
        import warnings

        warnings.warn(
            f"connected_components: labels still changing after "
            f"max_iter={max_iter} rounds; returning unconverged components",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels


def _components_numpy(vertices: DataFrame, edges: DataFrame) -> DataFrame:
    """Min-id connected components on the driver, over the collected
    ``vertices(id)`` and non-null ``edges(src, dst)``. The distinct ids
    are sorted (``graph.dense_ids``), so a smaller index is a smaller id,
    and ``_min_labels`` gives every vertex the smallest index of its
    component. One row per distinct id; a null vertex id keeps a null
    component, as in the distributed loop."""
    from xwikire_spark.pipeline.graph import dense_ids

    vcol = vertices.toArrow().column("id")
    et = edges.toArrow()
    ids, (s, d) = dense_ids(vcol, et.column("src"), et.column("dst"))
    keep = (s >= 0) & (d >= 0)
    return _label_frame(
        vertices.sparkSession, ids, _min_labels(len(ids), s[keep], d[keep]),
        vcol.null_count, vertices.schema["id"].dataType,
    )


def _min_labels(n: int, s, d):
    """Component labels of ``n`` vertices linked by the numpy index arrays
    ``s`` and ``d``: labels start as the indices, are lowered across every
    link in both directions and then pointer-jumped (``labels[labels]``)
    until nothing changes. At the fixed point every vertex holds the
    smallest index of its component."""
    import numpy as np

    labels = np.arange(n)
    while True:
        prev = labels.copy()
        np.minimum.at(labels, d, labels[s])
        np.minimum.at(labels, s, labels[d])
        labels = labels[labels]
        if np.array_equal(labels, prev):
            return labels


def _label_frame(spark, ids, labels, n_null: int, id_type) -> DataFrame:
    """The local frame (id, component) of the sorted Arrow ``ids`` and
    their ``labels`` (indices into ``ids``), plus ``n_null`` rows of a
    null id with a null component."""
    import pyarrow as pa
    from pyspark.sql.types import StructField, StructType

    nulls = pa.nulls(n_null, ids.type)
    return spark.createDataFrame(
        pa.table({
            "id": pa.concat_arrays([ids, nulls]),
            "component": pa.concat_arrays([ids.take(labels), nulls]),
        }),
        StructType(
            [StructField("id", id_type), StructField("component", id_type)]
        ),
    )


def canonical_entity_map(alias_dict: DataFrame) -> DataFrame:
    """entity_id -> canonical component id over the alias-collision graph.
    Output: entity_id, canonical_id.

    An alias table of at most ``graph.DRIVER_LOOP_MAX_ROWS`` rows is
    collected with Arrow in one Spark job and labelled on the driver
    (``_entity_map_numpy``); a larger one runs ``collision_edges`` and
    ``connected_components``. Both give the same map."""
    from xwikire_spark.pipeline import graph

    bound = graph.DRIVER_LOOP_MAX_ROWS
    t = alias_dict.select("alias", "entity_id").limit(bound + 1).toArrow()
    if t.num_rows <= bound:
        cc = _entity_map_numpy(
            alias_dict.sparkSession, t, alias_dict.schema["entity_id"].dataType
        )
    else:
        vertices = alias_dict.select(F.col("entity_id").alias("id")).distinct()
        cc = connected_components(vertices, collision_edges(alias_dict))
    return cc.select(
        F.col("id").alias("entity_id"), F.col("component").alias("canonical_id")
    )


def _entity_map_numpy(spark, t, id_type) -> DataFrame:
    """``collision_edges`` + ``connected_components`` on the driver, over
    the collected Arrow table ``t(alias, entity_id)`` -> (id, component).
    The vertices are the distinct entity ids. Like ``collision_edges``,
    an alias counts its distinct (alias, entity_id) pairs against
    ``DEFAULT_MAX_ALIAS_FANOUT`` (a null entity id is one of them), and a
    null alias or a null entity id links nothing. Each kept alias links
    its entities to its smallest one: a star, which connects what the
    pairwise edges connect without their quadratic count."""
    import numpy as np

    from xwikire_spark.pipeline.graph import dense_ids

    ecol, acol = t.column("entity_id"), t.column("alias")
    ids, (e,) = dense_ids(ecol, ecol)
    _, (a,) = dense_ids(acol, acol)
    a, e = np.unique(np.stack([a, e], axis=1), axis=0).T
    a, e = a[a >= 0], e[a >= 0]
    fanout = np.bincount(a)
    keep = (e >= 0) & (fanout[a] <= DEFAULT_MAX_ALIAS_FANOUT)
    a, e = a[keep], e[keep]
    root = np.full(len(fanout), len(ids))
    np.minimum.at(root, a, e)
    return _label_frame(
        spark, ids, _min_labels(len(ids), e, root[a]),
        min(ecol.null_count, 1), id_type,
    )


def canonicalize_triples(
    triples: DataFrame,
    alias_dict: DataFrame | None,
    entity_map: DataFrame | None = None,
) -> DataFrame:
    """Rewrite subj/obj to canonical component ids and re-key the triple id.
    The entity->canonical map is tiny relative to the fact table — broadcast
    both joins (J2 pattern); the triple table never shuffles here.

    ``entity_map`` (entity_id, canonical_id), when given, is used as-is
    instead of recomputing ``canonical_entity_map(alias_dict)``;
    perfbench's traced ``kg_small`` run passes a precomputed map so the map
    and the rewrite are timed as separate layers (equality with the
    ``alias_dict`` form gated by
    ``TestCanonicalization::test_triples_rewritten``)."""
    from xwikire_spark.functions.ids import triple_id

    m = entity_map if entity_map is not None \
        else canonical_entity_map(alias_dict)
    subj_map = m.select(
        F.col("entity_id").alias("subj"), F.col("canonical_id").alias("subj_canon")
    )
    obj_map = m.select(
        F.col("entity_id").alias("obj"), F.col("canonical_id").alias("obj_canon")
    )
    return (
        triples.join(F.broadcast(subj_map), "subj", "left")
        .join(F.broadcast(obj_map), "obj", "left")
        .withColumn("subj", F.coalesce("subj_canon", "subj"))
        .withColumn("obj", F.coalesce("obj_canon", "obj"))
        .drop("subj_canon", "obj_canon")
        .withColumn("id", triple_id("subj", "pred", "obj"))
    )
