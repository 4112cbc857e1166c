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
# distributed loops run. Measured on a 4-core host (local[4]) with seeded
# random graphs of 12-character string ids, one run per point: the driver
# path was faster at every size tried, 1e4 to 3e6 rows (at 1e6: PageRank
# 5.3 s vs 25.8 s, CC 4.8 s vs 61.0 s), so the bound is set by driver
# memory, not by a crossover: at 1e6 rows the Python driver grew by 92 MB
# (PageRank) and 66 MB (CC), at 3e6 by 259 MB and 194 MB
# (``scripts/driver_loop_bound.py`` repeats the measurement).
DRIVER_LOOP_MAX_ROWS = 1_000_000


def vertex_table(triples: DataFrame) -> DataFrame:
    """One row per entity: out_degree (triples as subject), in_degree
    (as object), conv_mentions (TRUE distinct count of conversations the
    entity appears in, either role — the roles are unioned before the
    countDistinct, so a conversation where the entity is both subject and
    object counts once; ADVICE r2 flagged the earlier role-summed double
    count). Three hash aggregates on the (small) entity key."""
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
    table_format: str = "parquet",
) -> tuple[DataFrame, DataFrame]:
    """Full graph materialization with lineage: edges through
    run_with_manifests (bucketed, resumable, drift-detected), vertices
    derived FROM THE WRITTEN EDGES (no recompute of the extraction) and
    bucketed by entity hash. Returns (edges, vertices) read back.

    ``table_format="snapshot"``: both tables are ``sources.snapshots``
    tables — edges get per-batch atomic replace-partitions commits (see
    run_with_manifests), vertices a whole-table overwrite commit per
    refresh (the derived table is rebuilt from the written edges, so
    overwrite IS its natural increment); both keep time travel."""
    from xwikire_spark.pipeline.manifests import run_with_manifests

    edges = run_with_manifests(
        spark, transcripts, build_fn, out_dir, n_buckets,
        table_format=table_format,
    )
    vertices = vertex_table(edges).withColumn(
        "part_bucket", F.pmod(F.xxhash64("entity_id"), F.lit(n_buckets))
    )
    v_root = os.path.join(out_dir, "vertices")
    if table_format == "snapshot":
        from xwikire_spark.sources import snapshots as snapmod

        snapmod.commit_overwrite(
            spark, v_root, vertices, partition_col="part_bucket"
        )
        return edges, snapmod.read_table(spark, v_root)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    vertices.write.mode("overwrite").partitionBy("part_bucket").parquet(
        v_root
    )
    return edges, spark.read.parquet(v_root)


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
    tiebreak — a total order, so ranks are deterministic).

    The <= k rows of ``_salience_topk`` are collected with Arrow,
    numbered 1..k on the driver and returned as a local frame with an
    explicit schema."""
    import pyarrow as pa
    from pyspark.sql.types import LongType, StructField, StructType

    top = _salience_topk(triples, damping, n_iter, top_k)
    schema = StructType(
        [StructField("salience_rank", LongType(), False)]
        + top.schema.fields
    )
    t = top.toArrow()
    t = t.add_column(
        0, "salience_rank", pa.array(range(1, t.num_rows + 1), pa.int64())
    )
    return top.sparkSession.createDataFrame(t, schema)


def _salience_topk(
    triples: DataFrame, damping: float, n_iter: int, top_k: int
) -> DataFrame:
    """The top-k salience rows, best first, without their rank numbers:
    (entity_id, rank, out_degree, in_degree, conv_mentions).

    Plan shape: ``orderBy(rank desc, entity_id).limit(top_k)`` — a
    TakeOrderedAndProject: each partition keeps its own k best rows and
    only those k-per-partition rows meet, so there is NO Exchange
    SinglePartition over the vertex table (``row_number() OVER (ORDER BY
    rank DESC)`` would funnel every vertex through one task).
    ``splits.global_rank`` ranked ALL vertices first and cost 14 Spark
    jobs against this plan's 4 on the same joined frame. ``F.round``
    stays a Spark expression: Python's ``round`` rounds half to even,
    Spark's half up. The rank⋈degree join keys on entity_id (both sides
    already aggregated per entity — small next to the edge table);
    iterative cost lives in ``pagerank`` (see its notes)."""
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
    triples = triples.select("subj", "obj", "conv_id").localCheckpoint()
    e = triples.select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    )
    ranks = pagerank(e, damping=damping, n_iter=n_iter)
    return (
        ranks.withColumnRenamed("id", "entity_id")
        .join(vertex_table(triples), "entity_id")
        .orderBy(F.col("rank").desc(), F.col("entity_id"))
        .limit(top_k)
        .select(
            "entity_id",
            F.round("rank", 9).alias("rank"),
            "out_degree",
            "in_degree",
            "conv_mentions",
        )
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
    omitted (isolated vertices then need the explicit frame). A supplied
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
    deg_all = (
        ewc.select(F.col("src").alias("id"), F.col("cnt").alias("c"))
        .unionByName(
            ewc.select(F.col("dst").alias("id"), F.lit(0).alias("c"))
        )
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
    ew = ewc.join(
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
    the collected ``vertices``. Every expression mirrors one Spark column
    of the distributed loop, in the same order. Ids are non-null: an
    edge with a null endpoint is dropped."""
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
    n = len(ids)
    out_deg = np.bincount(s, weights=cnt, minlength=n)
    dangling = out_deg == 0
    r = np.ones(n)
    dang = float(dangling.sum())
    for _ in range(n_iter if n else 0):
        msg = np.bincount(d, weights=r[s] / out_deg[s] * cnt, minlength=n)
        r = (1.0 - damping) + damping * (msg + dang / n)
        dang = float(r[dangling].sum())
    schema = StructType(
        [StructField("id", id_type), StructField("rank", DoubleType())]
    )
    return ewc.sparkSession.createDataFrame(
        pa.table({"id": ids, "rank": r}), schema
    )


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
