"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric", "value", "unit": "sec", "queries": {name: sec},
"sf", ...extras}.

Extras reported alongside the contract fields:
- triples_per_sec: flagship KG extraction throughput (triples emitted /
  extraction wall seconds) — the BASELINE.json headline metric;
- rows: per-query output row counts (sanity that work actually happened).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod  # noqa: E402
from xwikire_spark.session import DEFAULT_CPUS as CPUS, get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

HEADLINE = [
    "kg_triples",
    "kg_triples_joinpath",
    "kg_canonical_map",
    "a1_partial_final_agg",
    "j1_equi_join",
    "j2_broadcast_dim",
    "j5_theta_self_join",
    "a2_vocab",
    "evt_tumbling_window",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_near_jaccard",
    "ann_topk_cosine",
    "txt_stats",
    "txt_hygiene",
    "kg_entity_salience",
    # round 6: as-of join / sequence packing / tf-idf (beyond-reference
    # training-pipeline ops, all driver-oracle-gated)
    "evt_asof_join",
    "seq_packing",
    "tfidf_topterms",
    "tbl_profile",
    "kg_triangles",
    "w7_weighted_sample",
    "doc_chunks",
    "doc_quantiles",
]

# Headline-only queries (not driver oracle rows): iterative fixpoints have
# no DuckDB oracle — kg_entity_salience is gated by the numpy differential
# in tests/test_pipeline.py::TestPageRank and plan-asserted in test_plans.
EXTRA_QUERIES = {
    "kg_entity_salience": lambda s, d: entry_mod.q_kg_entity_salience(s, d),
}


N_SAMPLES = int(os.environ.get("SPARK_GRAFT_BENCH_SAMPLES", "5"))


def _median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def _run_once(spark, name: str, fn) -> tuple[float, int]:
    t0 = time.time()
    n = fn(spark, SF_DIR).count()
    return time.time() - t0, n


def _zonemap_stage(spark) -> dict:
    """Zone-map pruned scan in a MEASURED path (VERDICT r5 #4; previously
    pytest-only). Stage: the sf events table rewritten once into a
    16-file event_id-ranged layout (cached under .bench_data/, keyed by
    sf) + refresh_zone_maps. Timed: an event_id-range aggregate through
    ``pruned_read`` vs the identical full-scan ``.where`` — same result
    rows by construction (the equivalence contract test in
    tests/test_io.py), but the pruned plan lists only the files whose
    recorded bounds intersect the range. files_pruned lands in the bench
    JSON."""
    from pyspark.sql import functions as F

    from xwikire_spark.sources import zonemaps as zm

    sf_tag = SF_DIR.rstrip("/").split("sf")[-1]
    here = os.path.dirname(os.path.abspath(__file__))
    root = os.path.join(here, ".bench_data", f"zm_events_sf{sf_tag}")
    if not os.path.exists(os.path.join(root, zm._ZM_DIR)):
        ev = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
        ev.repartitionByRange(16, "event_id").write.mode(
            "overwrite"
        ).parquet(root)
        zm.refresh_zone_maps(spark, root, ["event_id", "ts"])
    bounds = spark.read.parquet(os.path.join(root, zm._ZM_DIR)).agg(
        F.min("event_id_min").alias("lo"), F.max("event_id_max").alias("hi")
    ).collect()[0]
    span = bounds["hi"] - bounds["lo"]
    lo = bounds["lo"] + span * 7 // 16
    hi = bounds["lo"] + span * 8 // 16  # ~1/16 of the id span

    def agg(df):
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"), F.sum("value").alias("sv")
        )

    pruned_secs, full_secs = [], []
    for _ in range(3):
        t0 = time.time()
        df, stats = zm.pruned_read(
            spark, root, {"event_id": (lo, hi)}
        )
        n_pruned = agg(df).count()
        pruned_secs.append(time.time() - t0)
        t0 = time.time()
        full = spark.read.parquet(root).where(
            (F.col("event_id") >= lo) & (F.col("event_id") <= hi)
        )
        n_full = agg(full).count()
        full_secs.append(time.time() - t0)
    return {
        "files_total": stats["files_total"],
        "files_planned": stats["files_planned"],
        "files_pruned": stats["files_pruned"],
        "pruned_scan_sec": round(_median(pruned_secs), 3),
        "full_scan_sec": round(_median(full_secs), 3),
        "rows_equal": n_pruned == n_full,
    }


def main() -> None:
    qs = {**entry_mod.queries(), **EXTRA_QUERIES}
    spark = get_spark("bench", master=f"local[{CPUS}]",
                      shuffle_partitions=max(CPUS, 32))
    spark.sparkContext.setLogLevel("ERROR")

    # warm-up: JVM/codegen/python-worker spin-up lands here, not in the
    # first headline query's number
    qs["kg_triples"](spark, SF_DIR).count()

    # medians over N_SAMPLES per query (ADVICE r1: minima of noisy samples
    # overstate; the median is the honest single number on a shared host).
    # Samples interleave across queries so host interference spreads evenly
    # instead of biasing whichever query ran during a noisy window.
    samples: dict[str, list[float]] = {name: [] for name in HEADLINE}
    rows: dict[str, int] = {}
    for _ in range(N_SAMPLES):
        for name in HEADLINE:
            sec, n = _run_once(spark, name, qs[name])
            samples[name].append(sec)
            rows[name] = n
    timings = {n: round(_median(s), 3) for n, s in samples.items()}
    timings_min = {n: round(min(s), 3) for n, s in samples.items()}

    # flagship throughput: triples/sec from the median warm-run time
    kg_sec = timings["kg_triples"]
    n_triples = rows["kg_triples"]
    triples_per_sec = round(n_triples / kg_sec, 1) if kg_sec > 0 else 0.0

    result = {
        "metric": "headline_queries_total_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "queries_min": timings_min,
        "n_samples": N_SAMPLES,
        "sf": SF_DIR.rstrip("/").split("sf")[-1],
        "rows": rows,
        "triples_per_sec": triples_per_sec,
        "n_triples": n_triples,
        "cpus": CPUS,
    }
    result["zonemap"] = _zonemap_stage(spark)
    spark.stop()

    print(json.dumps(result))


if __name__ == "__main__":
    main()
