"""spark-submit entry point for the KG-construction pipeline (north_rule:
"run via spark-submit --py-files on a multi-executor cluster").

    spark-submit --py-files xwikire_spark.zip scripts/run_pipeline.py \
        --transcripts /data/transcripts \
        --alias-dict /data/alias_dict \
        --predicate-dict /data/predicate_dict \
        --out /data/kg \
        [--n-buckets 4096] [--n-partitions 8192] [--no-canonicalize] \
        [--compact-target-bytes 134217728]

Inputs are parquet directories: transcripts with the BASELINE.json
input_hint schema; alias_dict (alias, entity_id[, canonical_label,
is_canonical]); predicate_dict (pid, label, aliases). Any path the Hadoop
FileSystem resolves works (local, file://, HDFS, S3A).

Output: parquet partitioned by bucket under out/triples/part_bucket=*/,
plus out/_manifests (per-bucket lineage rows; a re-run processes only the
buckets whose input changed or whose batch failed) and out/_metrics.
"""

from __future__ import annotations

import argparse
import os
import sys

# plain-python invocation: make the repo importable (spark-submit users get
# this via --py-files instead)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--transcripts", required=True)
    p.add_argument("--alias-dict", required=True)
    p.add_argument("--predicate-dict", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--n-buckets", type=int, default=256)
    p.add_argument("--n-partitions", type=int, default=None)
    p.add_argument("--no-canonicalize", action="store_true")
    p.add_argument(
        "--dict-strategy",
        choices=["broadcast", "join"],
        default="broadcast",
        help="'broadcast' = the fused pandas kernel behind a JVM rlike"
             " pre-filter (on when the dictionaries fit JVM_MAX_SURFACES);"
             " 'join' keeps the dictionaries distributed (use when the"
             " alias table is too large to broadcast to executors)",
    )
    p.add_argument(
        "--compact-target-bytes",
        type=int,
        default=None,
        metavar="N",
        help="after the run, binpack-rewrite the buckets under"
             " out/triples that hold more files than their bytes need"
             " into files of about N bytes (sources/compaction.py). Run"
             " it on the cadence of your resumed runs: every resume"
             " batch leaves a few files per bucket it rewrites",
    )
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)

    from xwikire_spark.session import get_spark
    from xwikire_spark.pipeline.extraction import extract_triples
    from xwikire_spark.pipeline.canonicalize import canonicalize_triples
    from xwikire_spark.pipeline.manifests import run_with_manifests

    spark = get_spark("xwikire-kg", master=args.master)
    transcripts = spark.read.parquet(args.transcripts)
    alias_dict = spark.read.parquet(args.alias_dict)
    predicate_dict = spark.read.parquet(args.predicate_dict)

    def build(df):
        t = extract_triples(
            df, alias_dict, predicate_dict, n_partitions=args.n_partitions,
            dict_strategy=args.dict_strategy,
        )
        if not args.no_canonicalize:
            t = canonicalize_triples(t, alias_dict)
        return t

    out = run_with_manifests(
        spark, transcripts, build, args.out, n_buckets=args.n_buckets
    )
    n = out.count()
    print(f"kg-pipeline: {n} triples materialized under {args.out}")
    if args.compact_target_bytes:
        from xwikire_spark.sources.compaction import compact_partitions

        stats = compact_partitions(
            spark,
            os.path.join(args.out, "triples"),
            target_bytes=args.compact_target_bytes,
        )
        rewritten = sum(s["files_before"] for s in stats)
        kept = sum(s["files_after"] for s in stats)
        print(
            f"kg-pipeline: compacted {len(stats)} buckets "
            f"({rewritten} -> {kept} files)"
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
