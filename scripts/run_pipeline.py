"""spark-submit entry point for the KG-construction pipeline (north_rule:
"run via spark-submit --py-files on a multi-executor cluster").

    spark-submit --py-files xwikire_spark.zip scripts/run_pipeline.py \
        --transcripts /data/transcripts \
        --alias-dict /data/alias_dict \
        --predicate-dict /data/predicate_dict \
        --out /data/kg \
        [--n-buckets 4096] [--n-partitions 8192] [--no-canonicalize]

Inputs are parquet directories (Iceberg tables read the same way once the
runtime jar is on the cluster — this container has none, so the parquet
fallback is wired): transcripts with the BASELINE.json input_hint schema;
alias_dict (alias, entity_id[, canonical_label, is_canonical]);
predicate_dict (pid, label, aliases).

Output: out/triples/part_bucket=*/ + out/_manifests (resume on re-run).
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
        "--table-format",
        choices=["parquet", "snapshot"],
        default="parquet",
        help="'parquet' = partitioned dirs + dynamic overwrite;"
             " 'snapshot' = snapshot-isolated table (sources/snapshots.py):"
             " each resume batch is one atomic versioned commit with time"
             " travel, readers plan from manifests (never directory"
             " listings) — the Iceberg-table shape the north rule names",
    )
    p.add_argument(
        "--compact-target-bytes",
        type=int,
        default=None,
        metavar="N",
        help="after the run, binpack-rewrite small-file buckets under"
             " out/triples toward N-byte files (sources/compaction.py)."
             " Run it on the cadence of your resumed runs — every"
             " resume batch leaves a few files per bucket",
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
        spark, transcripts, build, args.out, n_buckets=args.n_buckets,
        table_format=args.table_format,
    )
    n = out.count()
    print(f"kg-pipeline: {n} triples materialized under {args.out}")
    if args.compact_target_bytes:
        if args.table_format == "snapshot":
            from xwikire_spark.sources.snapshots import compact_snapshot

            info = compact_snapshot(
                spark, os.path.join(args.out, "triples")
            )
            print(
                f"kg-pipeline: compaction committed as snapshot "
                f"v{info['version']} ({info['total_files']} files)"
            )
        else:
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
