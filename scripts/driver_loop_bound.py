"""Measure both paths of the size-adaptive graph layer.

``pipeline.graph.pagerank`` and ``pipeline.canonicalize.connected_components``
run on the driver in numpy up to ``graph.DRIVER_LOOP_MAX_ROWS`` collapsed
rows and as distributed Spark loops above it; the vertex table of
``materialize_graph`` and ``entity_salience`` are built on the driver from
at most that many raw triples. This script forces one path on a seeded
random graph of 12-character string ids and prints one JSON line: wall
time of the call (result forced), its Spark job count, and the peak RSS of
the Python driver and of the JVM sampled during the call. Run one
configuration per process, so peaks do not carry over:

    python scripts/driver_loop_bound.py --fn pr --path driver --rows 1000000
    python scripts/driver_loop_bound.py --fn cc --path dist --rows 1000000
    python scripts/driver_loop_bound.py --fn vt --path driver --rows 1000000
    python scripts/driver_loop_bound.py --fn sal --path dist --rows 1000000

``--rows`` is what the bound counts: distinct edges for PageRank (about
``rows`` random edges over ``rows / 4`` ids), vertices + edges for CC
(``rows / 4`` vertices), triples for the vertex table (``vt``: the
driver path collects ``(subj, obj, conv_id)`` with Arrow and builds the
local frame ``materialize_graph`` writes, the Spark path runs
``vertex_table``; either table is written bucketed, as
``materialize_graph`` does, to a temporary directory and read back) and for salience (``sal``: ``entity_salience`` with
``top_k=100``). Triples are ``rows`` random (subj, obj) pairs over
``rows / 4`` ids, each with one of ``rows / 8`` conv_ids. Driver heap
comes from SPARK_DRIVER_MEM, as in ``session.get_spark``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from xwikire_spark.pipeline import canonicalize, graph  # noqa: E402
from xwikire_spark.session import get_spark  # noqa: E402


def rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def ident(col):
    return F.concat(F.lit("ent_"), F.lpad(col.cast("string"), 8, "0"))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--fn", choices=["pr", "cc", "vt", "sal"], required=True)
    ap.add_argument("--path", choices=["driver", "dist"], required=True)
    ap.add_argument("--rows", type=int, required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--cores", type=int, default=4)
    a = ap.parse_args()

    spark = get_spark("driver_loop_bound", master=f"local[{a.cores}]")
    sc = spark.sparkContext
    jvm_pid = sc._jvm.java.lang.ProcessHandle.current().pid()
    graph.DRIVER_LOOP_MAX_ROWS = 10**12 if a.path == "driver" else 0

    n_ids = max(a.rows // 4, 2)
    n_edges = a.rows - n_ids if a.fn == "cc" else a.rows
    edges = spark.range(n_edges, numPartitions=8).select(
        ident(F.pmod(F.xxhash64("id", F.lit(a.seed)), F.lit(n_ids)))
        .alias("src"),
        ident(F.pmod(F.xxhash64("id", F.lit(a.seed + 7)), F.lit(n_ids)))
        .alias("dst"),
        ident(F.pmod(F.xxhash64("id", F.lit(a.seed + 13)),
                     F.lit(max(a.rows // 8, 1))))
        .alias("conv_id"),
    ).localCheckpoint()
    triples = edges.select(
        F.col("src").alias("subj"), F.col("dst").alias("obj"), "conv_id"
    )
    vertices = spark.range(n_ids, numPartitions=8).select(
        ident(F.col("id")).alias("id")
    ).localCheckpoint()

    vt_root = tempfile.mkdtemp(prefix="driver_loop_bound_")

    def vertices_of(t):
        if a.path == "dist":
            return graph.vertex_table(t)
        return graph._vertex_frame(
            spark, t.toArrow(), t.schema["subj"].dataType
        ).coalesce(1)

    def call(e, v, t):
        if a.fn == "pr":
            return graph.pagerank(e).agg(
                F.sum("rank").alias("rank_sum"), F.count("*").alias("n")
            )
        if a.fn == "cc":
            return canonicalize.connected_components(v, e).agg(
                F.countDistinct("component").alias("components"),
                F.count("*").alias("n"),
                F.sum(F.crc32("component")).alias("label_hash"),
            )
        if a.fn == "vt":
            vertices_of(t).withColumn(
                "part_bucket", F.pmod(F.xxhash64("entity_id"), F.lit(16))
            ).write.mode("overwrite").partitionBy("part_bucket").parquet(
                vt_root
            )
            return spark.read.parquet(vt_root).agg(
                F.count("*").alias("n"),
                *(F.sum(c).alias(c) for c in graph._STAT_COLS),
            )
        return graph.entity_salience(t, top_k=100).agg(
            F.count("*").alias("n"), F.sum("rank").alias("rank_sum"),
            F.sum(F.crc32("entity_id")).alias("id_hash"),
        )

    # warm the session on a small call of the same function
    call(edges.limit(100), vertices.limit(50), triples.limit(100)).first()

    py_pid, stop = os.getpid(), threading.Event()
    base = {"py": rss_mb(py_pid), "jvm": rss_mb(jvm_pid)}
    peak = dict(base)

    def sample():
        while not stop.is_set():
            peak["py"] = max(peak["py"], rss_mb(py_pid))
            peak["jvm"] = max(peak["jvm"], rss_mb(jvm_pid))
            time.sleep(0.02)

    sampler = threading.Thread(target=sample, daemon=True)
    sc.setJobGroup("measured", "measured call")
    sampler.start()
    t0 = time.perf_counter()
    row = call(edges, vertices, triples).first()
    wall = time.perf_counter() - t0
    stop.set()
    sampler.join()
    print(json.dumps({
        "fn": a.fn, "path": a.path, "rows": a.rows, "cores": a.cores,
        "wall_s": round(wall, 2),
        "jobs": len(sc.statusTracker().getJobIdsForGroup("measured")),
        "py_peak_rss_mb": round(peak["py"], 1),
        "py_rss_growth_mb": round(peak["py"] - base["py"], 1),
        "jvm_peak_rss_mb": round(peak["jvm"], 1),
        "jvm_rss_growth_mb": round(peak["jvm"] - base["jvm"], 1),
        **row.asDict(),
    }), flush=True)
    shutil.rmtree(vt_root, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
