"""Measure both paths of the size-adaptive fixed-point loops.

``pipeline.graph.pagerank`` and ``pipeline.canonicalize.connected_components``
run on the driver in numpy up to ``graph.DRIVER_LOOP_MAX_ROWS`` collapsed
rows and as distributed Spark loops above it. This script forces one path
on a seeded random graph of 12-character string ids and prints one JSON
line: wall time of the call (result forced), its Spark job count, and the
peak RSS of the Python driver and of the JVM sampled during the call.
Run one configuration per process, so peaks do not carry over:

    python scripts/driver_loop_bound.py --fn pr --path driver --rows 1000000
    python scripts/driver_loop_bound.py --fn cc --path dist --rows 1000000

``--rows`` is what the bound counts: distinct edges for PageRank (about
``rows`` random edges over ``rows / 4`` ids), vertices + edges for CC
(``rows / 4`` vertices). Driver heap comes from SPARK_DRIVER_MEM, as in
``session.get_spark``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
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
    ap.add_argument("--fn", choices=["pr", "cc"], required=True)
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
    n_edges = a.rows if a.fn == "pr" else a.rows - n_ids
    edges = spark.range(n_edges, numPartitions=8).select(
        ident(F.pmod(F.xxhash64("id", F.lit(a.seed)), F.lit(n_ids)))
        .alias("src"),
        ident(F.pmod(F.xxhash64("id", F.lit(a.seed + 7)), F.lit(n_ids)))
        .alias("dst"),
    ).localCheckpoint()
    vertices = spark.range(n_ids, numPartitions=8).select(
        ident(F.col("id")).alias("id")
    ).localCheckpoint()

    # warm the session on a small call of the same function
    if a.fn == "pr":
        graph.pagerank(edges.limit(100)).count()
    else:
        canonicalize.connected_components(
            vertices.limit(50), edges.limit(100)
        ).count()

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
    if a.fn == "pr":
        row = graph.pagerank(edges).agg(
            F.sum("rank").alias("rank_sum"), F.count("*").alias("n")
        ).first()
    else:
        row = canonicalize.connected_components(vertices, edges).agg(
            F.countDistinct("component").alias("components"),
            F.count("*").alias("n"),
            F.sum(F.crc32("component")).alias("label_hash"),
        ).first()
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
    spark.stop()


if __name__ == "__main__":
    main()
