"""Per-query optimization harness (guide §1): times individual queries
with BOTH the bench's `.count()` action and the noop sink (which computes
every column), and captures `.explain("formatted")` plans.

NOT the driver bench — bench.py is frozen for measurement; this file
exists so optimization work can isolate one query at a time and commit
plan evidence under plans/r07/.

Usage:
  python bench_extra.py [--sf DIR] [--plans OUT_DIR] [--reps N]
                        [--mode count|noop|both] [query ...]

Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (same contract as bench.py).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod  # noqa: E402
from xwikire_spark.session import DEFAULT_CPUS, get_spark  # noqa: E402


def _median(xs):
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument(
        "--sf",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    ap.add_argument("--plans", default=None,
                    help="directory to write <query>.txt explain output")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--mode", choices=["count", "noop", "both"],
                    default="count")
    ap.add_argument("--warmup", action="store_true",
                    help="run kg_triples once first to absorb JVM spin-up")
    args = ap.parse_args()

    qs = {**entry_mod.queries(),
          "kg_entity_salience": entry_mod.q_kg_entity_salience}
    names = args.queries or list(qs)
    for n in names:
        if n not in qs:
            raise SystemExit(f"unknown query {n!r}")

    spark = get_spark("bench_extra", master=f"local[{DEFAULT_CPUS}]",
                      shuffle_partitions=max(DEFAULT_CPUS, 32))
    spark.sparkContext.setLogLevel("ERROR")
    if args.warmup:
        qs["kg_triples"](spark, args.sf).count()

    out: dict = {"sf": args.sf, "cpus": DEFAULT_CPUS, "reps": args.reps,
                 "queries": {}}
    for name in names:
        rec: dict = {}
        if args.plans:
            import contextlib
            import io

            os.makedirs(args.plans, exist_ok=True)
            df = qs[name](spark, args.sf)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            with open(os.path.join(args.plans, f"{name}.txt"), "w") as f:
                f.write(buf.getvalue())
        if args.reps and args.mode in ("count", "both"):
            secs, rows = [], None
            for _ in range(args.reps):
                spark.sparkContext.setJobDescription(f"{name}: count")
                t0 = time.time()
                rows = qs[name](spark, args.sf).count()
                secs.append(time.time() - t0)
            rec["count_sec"] = [round(s, 3) for s in secs]
            rec["count_median"] = round(_median(secs), 3)
            rec["rows"] = rows
        if args.reps and args.mode in ("noop", "both"):
            secs = []
            for _ in range(args.reps):
                spark.sparkContext.setJobDescription(f"{name}: noop")
                t0 = time.time()
                (qs[name](spark, args.sf)
                 .write.format("noop").mode("overwrite").save())
                secs.append(time.time() - t0)
            rec["noop_sec"] = [round(s, 3) for s in secs]
            rec["noop_median"] = round(_median(secs), 3)
        spark.sparkContext.setJobDescription(None)
        out["queries"][name] = rec
        print(json.dumps({name: rec}), flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
