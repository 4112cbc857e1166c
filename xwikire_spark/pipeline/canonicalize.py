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
    are sorted (``graph.dense_ids``), so a smaller index is a smaller id.
    Labels are indices, lowered across every edge in both directions and
    then pointer-jumped (``labels[labels]``) until nothing changes — at
    the fixed point every vertex holds the smallest index of its
    component. One row per distinct id; a null vertex id keeps a null
    component, as in the distributed loop."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.types import StructField, StructType

    from xwikire_spark.pipeline.graph import dense_ids

    vcol = vertices.toArrow().column("id")
    et = edges.toArrow()
    ids, (s, d) = dense_ids(vcol, et.column("src"), et.column("dst"))
    keep = (s >= 0) & (d >= 0)
    s, d = s[keep], d[keep]
    labels = np.arange(len(ids))
    while True:
        prev = labels.copy()
        np.minimum.at(labels, d, labels[s])
        np.minimum.at(labels, s, labels[d])
        labels = labels[labels]
        if np.array_equal(labels, prev):
            break
    nulls = pa.nulls(vcol.null_count, ids.type)
    id_type = vertices.schema["id"].dataType
    return vertices.sparkSession.createDataFrame(
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
    Output: entity_id, canonical_id."""
    vertices = alias_dict.select(
        F.col("entity_id").alias("id")
    ).distinct()
    edges = collision_edges(alias_dict)
    cc = connected_components(vertices, edges)
    return cc.select(
        F.col("id").alias("entity_id"), F.col("component").alias("canonical_id")
    )


def delta_collision_edges(
    alias_dict_old: DataFrame,
    new_rows: DataFrame,
    max_bucket: int = DEFAULT_MAX_ALIAS_FANOUT,
) -> DataFrame:
    """Collision edges contributed by an alias-dict APPEND: every edge has
    at least one new endpoint (old-old edges are already reflected in the
    existing canonical map). Output: src, dst with src < dst.

    Cost shape at 10^12-scale: the old dict is touched ONCE via a
    broadcast semi-join on the delta's surfaces (the alias filter reaches
    the scan; no shuffle of the big table), so a batch costs
    O(new rows + old rows sharing a new surface), not O(dict).

    Fanout guard semantics in incremental mode are MONOTONE: the
    ``max_bucket`` stop-surface test uses the combined (old + new) count
    of each touched surface and drops the *new* edges of surfaces that
    exceed it, but edges a surface contributed before it crossed the
    threshold persist in the map (incremental maintenance only ever adds
    edges — component splits are not expressible). The periodic batch
    ``canonical_entity_map`` recompute is the rewrite path that re-applies
    the guard globally, the same compaction discipline as
    ``sources.compaction`` / ``sources.zonemaps``.
    """
    fresh = new_rows.select("alias", "entity_id").distinct()
    touched = fresh.select("alias").distinct()
    # one pruned pass over the old dict: only rows whose surface the delta
    # touched can form a new edge
    old_pool = (
        alias_dict_old.select("alias", "entity_id")
        .join(F.broadcast(touched), "alias", "semi")
        .distinct()
    )
    pool = old_pool.unionByName(fresh).distinct()
    sized = (
        pool.withColumn(
            "_n", F.count(F.lit(1)).over(Window.partitionBy("alias"))
        )
        .where(F.col("_n") <= max_bucket)
        .drop("_n")
    )
    a = fresh.join(sized.select("alias").distinct(), "alias", "semi").select(
        "alias", F.col("entity_id").alias("src")
    )
    b = sized.select("alias", F.col("entity_id").alias("dst"))
    # new x (old + new) sharing a surface; src<dst canonical direction is
    # restored after the join so new-old pairs survive either ordering
    return (
        a.join(b, "alias")
        .where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        .distinct()
    )


def merge_components_delta(
    existing_map: DataFrame,
    delta_edges: DataFrame,
    new_ids: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """The delta form of ``merge_components``: -> (remap, fresh_rows)
    where ``remap(id, component)`` relabels CURRENT component ids that
    merged in this batch and ``fresh_rows(entity_id, canonical_id)`` are
    the genuinely-new entities at their post-merge components. Both are
    O(batch)-sized — the streaming bridge persists THESE instead of
    rewriting the corpus-scale map every micro-batch
    (``streaming.canonical``)."""
    cur = existing_map.select(
        F.col("entity_id").alias("_id"), F.col("canonical_id").alias("_c")
    )
    endpoints = (
        delta_edges.select(F.col("src").alias("eid"))
        .unionByName(delta_edges.select(F.col("dst").alias("eid")))
        .unionByName(new_ids.select(F.col("entity_id").alias("eid")))
        .distinct()
    )
    # one pruned scan of the big map: rows for delta endpoints only
    relevant = cur.join(
        F.broadcast(endpoints), cur._id == endpoints.eid, "semi"
    )
    looked = (
        endpoints.join(relevant, endpoints.eid == relevant._id, "left")
        .select("eid", F.coalesce("_c", "eid").alias("comp"))
    )
    src_c = looked.select(
        F.col("eid").alias("src"), F.col("comp").alias("src_c")
    )
    dst_c = looked.select(
        F.col("eid").alias("dst"), F.col("comp").alias("dst_c")
    )
    cedges = (
        delta_edges.join(src_c, "src")
        .join(dst_c, "dst")
        .where(F.col("src_c") != F.col("dst_c"))
        .select(F.col("src_c").alias("src"), F.col("dst_c").alias("dst"))
        .distinct()
    )
    cverts = looked.select(F.col("comp").alias("id")).distinct()
    cc = connected_components(cverts, cedges)
    remap = cc.where(F.col("id") != F.col("component"))

    # genuinely-new ids at their resolved component. "Known" membership
    # comes from the already-pruned `relevant` slice (it holds the map
    # row of every endpoint that has one) — an anti-join against the
    # full map here would shuffle the big table.
    known = relevant.select(F.col("_id").alias("eid"))
    fresh_rows = (
        new_ids.select(F.col("entity_id").alias("eid"))
        .distinct()
        .join(known, "eid", "anti")
        .join(looked, "eid")
        .join(cc, looked.comp == cc.id, "left")
        .select(
            F.col("eid").alias("entity_id"),
            F.coalesce("component", "comp").alias("canonical_id"),
        )
    )
    return remap, fresh_rows


def merge_components(
    existing_map: DataFrame,
    delta_edges: DataFrame,
    new_ids: DataFrame,
) -> DataFrame:
    """Fold a batch of new edges + new entity ids into a persisted
    canonical map (entity_id, canonical_id) WITHOUT re-running connected
    components over the corpus. Adding edges can only merge components,
    so the merge decomposes:

    1. contract: map each delta-edge endpoint to its current component
       (itself if unseen). The contracted graph has O(delta) edges and
       vertices — component ids and new ids only.
    2. run the iterative CC on that small graph alone.
    3. rewrite: old components that merged are relabelled via ONE
       broadcast join against the full map (a scan, no shuffle — the
       remap table is O(touched components), driver-small by the batch
       bound); unseen ids append with their resolved component, or as
       their own singleton component if untouched by any edge.

    Label semantics are preserved: canonical_id = min entity_id of the
    component (each old component id is already the min of its members,
    and CC takes the min across merged labels). Equality with the batch
    recompute is the test gate (``TestIncrementalCanonicalize``).
    """
    remap, fresh_rows = merge_components_delta(
        existing_map, delta_edges, new_ids
    )
    updated = (
        existing_map.join(
            F.broadcast(remap),
            existing_map.canonical_id == remap.id,
            "left",
        )
        .select(
            "entity_id",
            F.coalesce("component", "canonical_id").alias("canonical_id"),
        )
    )
    return updated.unionByName(fresh_rows)


def incremental_canonical_map(
    existing_map: DataFrame,
    alias_dict_old: DataFrame,
    new_rows: DataFrame,
    max_bucket: int = DEFAULT_MAX_ALIAS_FANOUT,
) -> DataFrame:
    """One-call composition for an alias-dict append: new collision edges
    from the delta (old dict touched once, surface-pruned), folded into
    the persisted map. Equivalent to ``canonical_entity_map(old ∪ new)``
    whenever no touched surface crosses ``max_bucket`` in the append (the
    monotone-guard caveat on ``delta_collision_edges``)."""
    edges = delta_collision_edges(alias_dict_old, new_rows, max_bucket)
    new_ids = new_rows.select("entity_id").distinct()
    return merge_components(existing_map, edges, new_ids)


def canonicalize_triples(
    triples: DataFrame,
    alias_dict: DataFrame | None,
    entity_map: DataFrame | None = None,
) -> DataFrame:
    """Rewrite subj/obj to canonical component ids and re-key the triple id.
    The entity->canonical map is tiny relative to the fact table — broadcast
    both joins (J2 pattern); the triple table never shuffles here.

    ``entity_map`` (entity_id, canonical_id), when given, is used as-is —
    the streaming path passes ``streaming.canonical.read_canonical_map``
    so a map maintained incrementally across alias-dict drops feeds the
    same rewrite as the batch recompute (equality gated by
    ``TestIncrementalCanonicalizationE2E``)."""
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
