"""Graph materialization: partitioned edge + vertex tables (north_rule:
"materialized as partitioned edge/vertex Iceberg tables with per-partition
lineage manifests"). Parquet-dir fallback for the Iceberg catalog, same as
the rest of the repo (the container has no Iceberg runtime jar; the write
path is identical modulo the format string).

Edges = the evidence triples themselves (one row per (conv, subj, pred,
obj)), bucketed by pmod(xxhash64(conv_id)) through pipeline.manifests so
they inherit checkpointed resume. Vertices = one row per entity with
degree stats, bucketed by entity hash — the side the canonicalization and
entity-serving layers read.

Size-adaptive throughout, with one bound, ``DRIVER_LOOP_MAX_ROWS``: an
edge table of at most that many rows is collected once with Arrow, and
the vertex table (``materialize_graph``) or the whole salience answer —
vertex stats, PageRank and the top-k (``entity_salience``) — is computed
on the driver in numpy (``_vertex_stats``, ``_power_iteration``) and
returned as a local frame. Above the bound the same answers come from
Spark aggregates and the distributed PageRank loop. Both paths give the
same rows.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Fixed-point loops (``pagerank`` here, ``canonicalize.connected_components``)
# run on the driver in numpy when the collapsed graph they iterate over has
# at most this many rows: its distinct edges, plus its vertex rows where
# those are collected too. Both read the row counts from jobs they run
# anyway, so choosing a path costs no extra job; above the bound the
# distributed loops run. The vertex table and the salience answer are
# built on the driver from an edge table of at most this many rows (one
# row per triple, three string columns: it is collected whole); its
# count comes from the manifests or from the salience checkpoint's job.
# Measured on a 4-core host (local[4]) with seeded random graphs of
# 12-character string ids (triples: n rows over n/4 entities and n/8
# conversations), one run per point: the driver path was faster at
# every size tried, 1e4 to 3e6 rows (at 1e6: PageRank 5.3 s vs 25.8 s,
# CC 4.8 s vs 61.0 s, salience 4.2 s vs 50.1 s, the vertex table built
# and written 5.3 s vs 8.0 s), so the bound is set by driver memory, not
# by a crossover: at 1e6 rows the Python driver grew by 92 MB (PageRank),
# 66 MB (CC), 145 MB (salience) and 137 MB (vertex table), at 3e6 by
# 259, 194, 433 and 421 MB. The vertex table nears its crossover at 3e6
# (12.3 s vs 13.0 s). ``scripts/driver_loop_bound.py`` repeats the
# measurement.
DRIVER_LOOP_MAX_ROWS = 1_000_000


def vertex_table(triples: DataFrame) -> DataFrame:
    """One row per entity: out_degree (triples as subject), in_degree
    (as object), conv_mentions (TRUE distinct count of conversations the
    entity appears in, either role — the roles are unioned before the
    countDistinct, so a conversation where the entity is both subject and
    object counts once; ADVICE r2 flagged the earlier role-summed double
    count). One hash aggregate on the (small) entity key; a null subj or
    obj forms one null-entity row. ``_vertex_stats`` computes the same
    rows on the driver."""
    # r7 (guide §2.4): one role-tagged union + ONE aggregate replaces the
    # old three aggregates + two full outer joins (each join another
    # shuffle of the entity key). Identical semantics: conditional counts
    # give 0 (not null) for a missing role, matching the old
    # coalesce(..., 0), and the roles union BEFORE the distinct conv
    # count exactly as before.
    roles = triples.select(
        F.col("subj").alias("entity_id"),
        F.lit(1).alias("is_subj"),
        "conv_id",
    ).unionByName(
        triples.select(
            F.col("obj").alias("entity_id"),
            F.lit(0).alias("is_subj"),
            "conv_id",
        )
    )
    return roles.groupBy("entity_id").agg(
        F.count(F.when(F.col("is_subj") == 1, 1)).alias("out_degree"),
        F.count(F.when(F.col("is_subj") == 0, 1)).alias("in_degree"),
        F.countDistinct("conv_id").alias("conv_mentions"),
    )


def materialize_graph(
    spark: SparkSession,
    transcripts: DataFrame,
    build_fn,
    out_dir: str,
    n_buckets: int = 16,
) -> tuple[DataFrame, DataFrame]:
    """Full graph materialization with lineage: edges through
    run_with_manifests (bucketed, resumable, drift-detected), vertices
    derived FROM THE WRITTEN EDGES (no recompute of the extraction) and
    bucketed by entity hash. Returns (edges, vertices) read back.

    The vertex table is rebuilt whole on every call and replaces the old
    one whole (static overwrite), so an entity the new edges no longer
    name leaves no row behind. The path is chosen from the edge count
    the manifests already hold (the written count of each bucket, see
    ``manifests._run_with_manifests``), before anything is collected:
    at most ``DRIVER_LOOP_MAX_ROWS`` edges are collected once with Arrow
    as ``(subj, obj, conv_id)``, their vertex stats computed on the
    driver (``_vertex_stats``) and written from one local frame in one
    partition (one task, one file per bucket); above the bound
    ``vertex_table`` aggregates them in Spark."""
    from xwikire_spark.pipeline.manifests import (
        _run_with_manifests,
        read_bucketed,
    )

    edges, n_edges = _run_with_manifests(
        spark, transcripts, build_fn, out_dir, n_buckets
    )
    if n_edges <= DRIVER_LOOP_MAX_ROWS:
        vertices = _vertex_frame(
            spark,
            edges.select("subj", "obj", "conv_id").toArrow(),
            edges.schema["subj"].dataType,
        ).coalesce(1)
    else:
        vertices = vertex_table(edges)
    vertices = vertices.withColumn(
        "part_bucket", F.pmod(F.xxhash64("entity_id"), F.lit(n_buckets))
    )
    v_root = os.path.join(out_dir, "vertices")
    vertices.write.mode("overwrite").option(
        "partitionOverwriteMode", "static"
    ).partitionBy("part_bucket").parquet(v_root)
    return edges, read_bucketed(spark, v_root, vertices.schema)


_STAT_COLS = ("out_degree", "in_degree", "conv_mentions")


def _vertex_stats(t):
    """``vertex_table`` on the driver, over the Arrow table ``t(subj, obj,
    conv_id)`` -> (ids, s, o, stats). ``ids`` are the sorted distinct
    non-null entities (``dense_ids``); ``s`` and ``o`` each row's subject
    and object index among them (-1 for null). ``stats`` holds the int64
    arrays out_degree, in_degree and conv_mentions, one entry per id and
    a last one for the null entity: degrees count rows, and
    conv_mentions counts the distinct non-null conv_ids over both
    roles."""
    import numpy as np
    import pyarrow as pa

    subj, obj, conv = (t.column(c) for c in ("subj", "obj", "conv_id"))
    ids, (s, o) = dense_ids(
        pa.chunked_array(subj.chunks + obj.chunks, subj.type), subj, obj
    )
    _, (c,) = dense_ids(conv, conv)
    n, n_conv = len(ids), max(int(c.max(initial=-1)) + 1, 1)
    # the null entity takes index n: vertex_table groups it as one entity
    e = np.concatenate([s, o]).astype(np.int64)
    e[e < 0] = n
    cc = np.concatenate([c, c])
    pairs = np.unique(e[cc >= 0] * n_conv + cc[cc >= 0])
    stats = [
        np.bincount(e[:len(s)], minlength=n + 1),
        np.bincount(e[len(s):], minlength=n + 1),
        np.bincount(pairs // n_conv, minlength=n + 1),
    ]
    return ids, s, o, stats


def _vertex_frame(spark, t, id_type) -> DataFrame:
    """The rows of ``vertex_table`` over the collected Arrow table
    ``t(subj, obj, conv_id)``, as one local frame of the same schema: the
    non-null entities in id order, then the null entity if any subj or
    obj is null."""
    import pyarrow as pa
    from pyspark.sql.types import LongType, StructField, StructType

    ids, _, _, stats = _vertex_stats(t)
    keep = len(ids) + int(stats[0][-1] + stats[1][-1] > 0)
    return spark.createDataFrame(
        pa.table(
            {"entity_id": pa.concat_arrays(
                [ids, pa.nulls(keep - len(ids), ids.type)])}
            | {k: v[:keep] for k, v in zip(_STAT_COLS, stats)}
        ),
        StructType(
            [StructField("entity_id", id_type)]
            + [StructField(k, LongType(), False) for k in _STAT_COLS]
        ),
    )


def entity_salience(
    triples: DataFrame,
    damping: float = 0.85,
    n_iter: int = 10,
    top_k: int = 100,
) -> DataFrame:
    """Served entity-salience frame (VERDICT r4 #5): PageRank over the
    triple graph joined with the vertex degree stats, top-k by rank.

    -> (salience_rank, entity_id, rank, out_degree, in_degree,
    conv_mentions), salience_rank 1..top_k descending by rank (entity_id
    tiebreak — a total order, so ranks are deterministic). Entities are
    the non-null subj/obj values; a triple with a null endpoint adds to
    the other endpoint's stats but is no PageRank edge.

    The triples' ``(subj, obj, conv_id)`` are checkpointed once, and that
    job counts them. At most ``DRIVER_LOOP_MAX_ROWS`` rows are collected
    once with Arrow and the whole answer is computed on the driver
    (``_salience_numpy``); above the bound ``_salience_topk`` computes it
    in Spark and its <= k rows are collected and numbered 1..k on the
    driver. Either way the result is a local frame with an explicit
    schema, and ``F.round`` stays a Spark expression: Python's ``round``
    rounds half to even, Spark's half up."""
    import pyarrow as pa
    from pyspark.sql import Observation
    from pyspark.sql.types import LongType, StructField, StructType

    # Materialize the triple frame ONCE: it is read by pagerank's init
    # and vertex_table's aggregate — an expensive upstream (the live
    # extraction pipeline) would otherwise re-run per branch (measured 6x
    # at sf0.01).
    #
    # r7: checkpoint ONLY the three columns every consumer needs (guide
    # §2.3 project-before-materialize). The full-width checkpoint forced
    # the extraction to materialize its evidence sentences and min_by
    # payload; the narrow projection lets Catalyst prune them out of the
    # upstream aggregate entirely (no consumer here reads id/evidence).
    obs = Observation()
    triples = (
        triples.select("subj", "obj", "conv_id")
        .observe(obs, F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    if (dict(obs.get).get("n") or 0) <= DRIVER_LOOP_MAX_ROWS:
        top = _salience_numpy(triples, damping, n_iter, top_k)
    else:
        top = _salience_topk(triples, damping, n_iter, top_k)
        t = top.toArrow()
        top = triples.sparkSession.createDataFrame(
            t.add_column(0, "salience_rank",
                         pa.array(range(1, t.num_rows + 1), pa.int64())),
            StructType([StructField("salience_rank", LongType(), False)]
                       + top.schema.fields),
        )
    return top.select(
        "salience_rank",
        "entity_id",
        F.round("rank", 9).alias("rank"),
        "out_degree",
        "in_degree",
        "conv_mentions",
    )


def _salience_numpy(
    triples: DataFrame, damping: float, n_iter: int, top_k: int
) -> DataFrame:
    """``_salience_topk`` on the driver, over the collected ``triples(subj,
    obj, conv_id)``: the vertex stats (``_vertex_stats``), PageRank over
    the non-null (subj, obj) pairs collapsed to ``(s, d, cnt)``
    (``_power_iteration``, the loop of ``_pagerank_numpy``) and the first
    ``top_k`` entities by (-rank, entity_id) — the ids are sorted, so
    index order is id order. -> a local frame (salience_rank, entity_id,
    rank, out_degree, in_degree, conv_mentions), rank unrounded."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    ids, s, o, stats = _vertex_stats(triples.toArrow())
    n = len(ids)
    keep = (s >= 0) & (o >= 0)
    sd, cnt = np.unique(
        s[keep].astype(np.int64) * n + o[keep], return_counts=True
    )
    r = _power_iteration(
        n, sd // n, sd % n, cnt.astype(np.float64), damping, n_iter
    )
    top = np.lexsort((np.arange(n), -r))[:max(top_k, 0)]
    return triples.sparkSession.createDataFrame(
        pa.table(
            {
                "salience_rank": np.arange(1, len(top) + 1),
                "entity_id": ids.take(top),
                "rank": r[top],
            }
            | {k: v[top] for k, v in zip(_STAT_COLS, stats)}
        ),
        StructType(
            [
                StructField("salience_rank", LongType(), False),
                StructField("entity_id", triples.schema["subj"].dataType),
                StructField("rank", DoubleType()),
            ]
            + [StructField(k, LongType(), False) for k in _STAT_COLS]
        ),
    )


def _salience_topk(
    triples: DataFrame, damping: float, n_iter: int, top_k: int
) -> DataFrame:
    """The top-k salience rows, best first, without their rank numbers:
    (entity_id, rank, out_degree, in_degree, conv_mentions), over the
    checkpointed ``triples(subj, obj, conv_id)``; rank unrounded.

    Plan shape: ``orderBy(rank desc, entity_id).limit(top_k)`` — a
    TakeOrderedAndProject: each partition keeps its own k best rows and
    only those k-per-partition rows meet, so there is NO Exchange
    SinglePartition over the vertex table (``row_number() OVER (ORDER BY
    rank DESC)`` would funnel every vertex through one task).
    ``splits.global_rank`` ranked ALL vertices first and cost 14 Spark
    jobs against this plan's 4 on the same joined frame. The rank⋈degree
    join keys on entity_id (both sides already aggregated per entity —
    small next to the edge table); iterative cost lives in ``pagerank``
    (see its notes)."""
    e = triples.select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    )
    ranks = pagerank(e, damping=damping, n_iter=n_iter)
    return (
        ranks.withColumnRenamed("id", "entity_id")
        .join(vertex_table(triples), "entity_id")
        .orderBy(F.col("rank").desc(), F.col("entity_id"))
        .limit(top_k)
    )


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    n_iter: int = 10,
    vertices: DataFrame | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank over the entity graph -> (id, rank),
    normalized so ranks sum to N (rank 1.0 = average importance) — the
    entity-salience score KG serving layers sort by.

    Inputs: ``edges(src, dst)`` directed (use the triples' (subj, obj)
    projection); ``vertices(id)`` optional — derived from the edges when
    omitted (isolated vertices then need the explicit frame); derived
    vertices are the non-null endpoints, and an edge with a null endpoint
    is dropped, on both the driver and the distributed path. A supplied
    ``vertices`` MUST be a superset of the edge endpoints — otherwise the
    ranks-sum-to-N invariant silently breaks (contributions to a dst not
    in vertices drop in the left join, and an out-of-vertex src absorbs
    shares without redistributing) — so the frame is validated up front
    and missing endpoints raise ValueError. The check is one aggregate
    job over the raw edges and vertices, run BEFORE any checkpoint, so a
    bad call pays for nothing else; it also counts the vertex rows.

    Size-adaptive: the init step collapses parallel multi-edges into
    weighted distinct edges ``(src, dst, cnt)`` and checkpoints them,
    observing their row count on that same job. When the distinct edges
    plus the supplied vertex rows, if any, number at most
    ``DRIVER_LOOP_MAX_ROWS``, both are collected once with Arrow and the
    power iteration runs on the driver in numpy (``_pagerank_numpy``):
    the same expressions in the same order, so the result matches the
    distributed loop to the last few ulps. On graphs that small the
    distributed loop's cost is Spark's per-job floor, not data. Above the
    bound the distributed loop runs.

    Plan shape per iteration of the distributed loop (the 100 TB view):
    - contributions = weighted-distinct edges ⋈ ranks on src (iteration
      cost scales with DISTINCT pairs, not mentions), partial-sum
      map-side, one hash-aggregate shuffle keyed by dst — hot entities
      (high in-degree) are handled by the partial aggregate, not a
      skewed join, because sum is associative;
    - the dangling-mass scalar rides the iteration's OWN checkpoint job
      via ``observe()`` (the connected_components trick): each iteration
      observes sum(rank where no out-edges) over the ranks it just
      computed, which is exactly the mass the NEXT iteration
      redistributes — so an iteration is ONE Spark job, with no separate
      anti-join + broadcast job for the scalar;
    - ranks localCheckpoint() per iteration: truncates the lineage so
      iteration i+1's plan doesn't replay iterations 0..i (same pattern
      as connected_components).
    Fixed n_iter (deterministic, testable) rather than a convergence
    probe: rank deltas shrink geometrically at rate ``damping``, so
    10-20 iterations give per-vertex error < damping^n — the standard
    production choice.
    """
    from pyspark.sql import Observation

    e = edges.select("src", "dst")
    n_vertices = 0
    if vertices is not None:
        # ONE job, before any checkpoint: per id, whether it is an edge
        # endpoint (e) and how many vertex rows carry it (v). An endpoint
        # no vertex row carries is missing; a null endpoint is always
        # missing, since null never matches in the joins below. The
        # vertex row count is also the vertices' share of the bound.
        def tag(df, col, endpoint, vertex):
            return df.select(
                F.col(col).alias("id"),
                F.lit(endpoint).alias("e"),
                F.lit(vertex).alias("v"),
            )

        per_id = (
            tag(e, "src", 1, 0)
            .unionByName(tag(e, "dst", 1, 0))
            .unionByName(tag(vertices, "id", 0, 1))
            .groupBy("id")
            .agg(F.max("e").alias("e"), F.sum("v").alias("v"))
        )
        unmatched = (F.col("e") == 1) & (
            (F.col("v") == 0) | F.col("id").isNull()
        )
        stats = per_id.agg(
            F.count(F.when(unmatched, 1)).alias("missing"),
            F.sum("v").alias("n_vertices"),
        ).first()
        missing, n_vertices = stats["missing"], stats["n_vertices"] or 0
        if missing:
            raise ValueError(
                f"pagerank: {missing} edge endpoint(s) absent from the"
                " supplied vertices frame; vertices must be a superset of"
                " edge endpoints or rank mass leaks every iteration"
            )

    # r7 weighted-edge collapse FIRST (guide §2.3
    # aggregate-before-iterate): parallel (src, dst) multi-edges fold
    # into one row carrying their multiplicity, so (a) every loop
    # iteration joins/shuffles the DISTINCT edge set, not one row per
    # mention (the co-mention graph here is ~7000x denser in mentions
    # than in distinct pairs; any KG built from conversations shares
    # that shape), and (b) the degree/vertex aggregate below runs over
    # the collapsed frame — ONE full-data pass in init instead of two.
    # out_deg = sum(cnt) still counts multi-edges exactly (integer sum).
    # The distinct-edge count rides the same checkpoint job and, with
    # the vertex count above, picks the driver or the distributed loop.
    eobs = Observation()
    ewc = (
        e.groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .observe(eobs, F.count(F.lit(1)).alias("n_edges"))
        .localCheckpoint()
    )
    n_edges = dict(eobs.get).get("n_edges") or 0
    if n_edges + n_vertices <= DRIVER_LOOP_MAX_ROWS:
        return _pagerank_numpy(ewc, vertices, damping, n_iter)

    # r7 init merge: ONE aggregate derives the endpoint vertex set AND
    # out-degrees. The vertex count and the dangling-vertex count both
    # ride this single checkpoint job via observe(); since initial ranks
    # are all 1.0, dang0 = n_dangling * 1.0 exactly.
    # As on the driver path, an edge with a null endpoint is dropped (it
    # adds no out-degree and carries no rank) while its other endpoint
    # stays a vertex, and there is no null vertex: null never matches in
    # the joins, so such a vertex or edge would leak rank mass.
    deg_all = (
        ewc.select(
            F.col("src").alias("id"),
            F.when(F.col("dst").isNotNull(), F.col("cnt"))
            .otherwise(0)
            .alias("c"),
        )
        .unionByName(
            ewc.select(F.col("dst").alias("id"), F.lit(0).alias("c"))
        )
        .where(F.col("id").isNotNull())
        .groupBy("id")
        .agg(F.sum("c").alias("out_deg"))
    )
    if vertices is not None:
        deg_all = vertices.select("id").join(deg_all, "id", "left")
    vobs = Observation()
    dv = (
        deg_all.observe(
            vobs,
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(
                    F.coalesce(F.col("out_deg"), F.lit(0)) == 0, 1
                ).otherwise(0)
            ).alias("n_dang"),
        )
        .localCheckpoint()
    )
    got = dict(vobs.get)
    n = got.get("n") or 0
    if n == 0:
        return dv.select("id").withColumn("rank", F.lit(0.0))
    # r7 iteration partitioning (guide §2): the contributions aggregate
    # takes its Exchange from the groupBy itself, so the partial
    # HashAggregate sits BELOW the shuffle (map-side combine — hot
    # high-in-degree entities reduce before a byte moves) and AQE
    # coalesces the tiny post-shuffle partitions adaptively. An earlier
    # r7 draft repartition()ed the iteration frames to an observed-size
    # partition count; the explicit user Exchange hoisted BOTH aggregate
    # halves above the shuffle (raw one-row-per-edge shuffle, no map
    # combine — plan-verified) and measured no faster locally, so it was
    # dropped: AQE coalescing is the scale-adaptive mechanism, with the
    # skew protection intact.
    v = dv.select(
        "id",
        (F.coalesce(F.col("out_deg"), F.lit(0)) > 0).alias("has_out"),
    ).localCheckpoint()
    # Weighted edges pre-joined with out-degree ONCE (reused every
    # iteration). The contribution sum is unchanged mathematically — k
    # identical terms rank/out_deg become (rank/out_deg)*k — with
    # cnt == 1 graphs bit-identical (*1 is exact) and multigraphs
    # differing only at the last ulp (gated at 1e-9 by the numpy
    # differential).
    ew = ewc.where(F.col("dst").isNotNull()).join(
        dv.select(F.col("id").alias("src"), "out_deg"), "src"
    ).localCheckpoint()

    dang_expr = F.sum(
        F.when(~F.col("has_out"), F.col("rank")).otherwise(0.0)
    ).alias("dang")
    ranks = v.select("id", F.lit(1.0).alias("rank"), "has_out")
    dang = float(got.get("n_dang") or 0)
    # r7 DANGLING-FREE FAST PATH: the per-iteration observe/checkpoint
    # exists ONLY to pull the dangling mass out as a driver-side scalar.
    # When the init observation says there are no dangling vertices,
    # every dang_i is identically 0, each iteration references the
    # previous ranks exactly once (msgs join), so the plan grows
    # LINEARLY and all n_iter iterations chain lazily into one job — a
    # lineage-bounding checkpoint every 4 rounds instead of one
    # per round. Rank expressions are unchanged (the dang term is
    # lit(0.0)/n either way), so values are bit-identical to the
    # slow path on the same graph.
    dangling_free = dang == 0.0

    for i in range(n_iter):
        msgs = (
            ew.join(ranks, ew.src == ranks.id)
            .select(F.col("dst").alias("id"),
                    (F.col("rank") / F.col("out_deg")
                     * F.col("cnt")).alias("m"))
            .groupBy("id")
            .agg(F.sum("m").alias("msg"))
        )
        ranks = (
            v.join(msgs, "id", "left")
            .select(
                "id",
                (
                    F.lit(1.0 - damping)
                    + F.lit(damping)
                    * (F.coalesce(F.col("msg"), F.lit(0.0))
                       + F.lit(dang) / F.lit(float(n)))
                ).alias("rank"),
                "has_out",
            )
        )
        if dangling_free:
            if (i + 1) % 4 == 0 and (i + 1) < n_iter:
                ranks = ranks.localCheckpoint()
            continue
        obs = Observation()
        ranks = ranks.observe(obs, dang_expr).localCheckpoint()
        # the mass the vertices we just ranked fail to redistribute —
        # consumed by the NEXT iteration; riding the checkpoint job
        dang = dict(obs.get).get("dang") or 0.0
    return ranks.select("id", "rank")


def _pagerank_numpy(
    ewc: DataFrame,
    vertices: DataFrame | None,
    damping: float,
    n_iter: int,
) -> DataFrame:
    """The power iteration of ``pagerank`` on the driver, over the
    collected weighted edges ``ewc(src, dst, cnt)`` and, when supplied,
    the collected ``vertices`` (``_power_iteration``). Ids are non-null:
    an edge with a null endpoint is dropped."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.types import DoubleType, StructField, StructType

    et = ewc.toArrow()
    src, dst = et.column("src"), et.column("dst")
    if vertices is None:
        id_col = pa.chunked_array(src.chunks + dst.chunks, src.type)
        id_type = ewc.schema["src"].dataType
    else:
        id_col = vertices.select("id").toArrow().column("id")
        id_type = vertices.schema["id"].dataType
    ids, (s, d) = dense_ids(id_col, src, dst)
    keep = (s >= 0) & (d >= 0)
    s, d = s[keep], d[keep]
    cnt = et.column("cnt").to_numpy()[keep].astype(np.float64)
    r = _power_iteration(len(ids), s, d, cnt, damping, n_iter)
    schema = StructType(
        [StructField("id", id_type), StructField("rank", DoubleType())]
    )
    return ewc.sparkSession.createDataFrame(
        pa.table({"id": ids, "rank": r}), schema
    )


def _power_iteration(n: int, s, d, cnt, damping: float, n_iter: int):
    """The ranks of ``n`` vertices after ``n_iter`` rounds of PageRank over
    the weighted edges ``s -> d`` (numpy index arrays) of multiplicity
    ``cnt`` (float64). Every expression mirrors one Spark column of the
    distributed loop, in the same order."""
    import numpy as np

    out_deg = np.bincount(s, weights=cnt, minlength=n)
    dangling = out_deg == 0
    r = np.ones(n)
    dang = float(dangling.sum())
    for _ in range(n_iter if n else 0):
        msg = np.bincount(d, weights=r[s] / out_deg[s] * cnt, minlength=n)
        r = (1.0 - damping) + damping * (msg + dang / n)
        dang = float(r[dangling].sum())
    return r


def dense_ids(id_col, *cols):
    """Sorted distinct non-null values of the Arrow column ``id_col``,
    and for each Arrow column in ``cols`` the numpy index of each of its
    values among them (-1 for a null or a value not among them). Arrow
    sorts strings by their UTF-8 bytes, i.e. in code-point order, which
    is Spark's string order, so a smaller index is a smaller id. Hashing
    and sorting run in Arrow's kernels: no Python object comparisons,
    whatever the id type."""
    import pyarrow.compute as pc

    ids = pc.unique(pc.drop_null(id_col))
    ids = ids.take(pc.sort_indices(ids))
    return ids, [
        pc.fill_null(pc.index_in(c.cast(ids.type), value_set=ids), -1)
        .to_numpy()
        for c in cols
    ]
