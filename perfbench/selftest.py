"""Self-test of the benchmark: every workload at a tiny size, in both modes.

    python3 perfbench/selftest.py

Asserts that each run emits exactly the metrics BENCHMARK.json names for its
mode, each with its declared unit, and that a run whose output lost one
triple reports a failed operation.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--size", "tiny", *extra]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                         timeout=600, check=True)
    lines = out.stdout.strip().splitlines()
    details = json.loads(lines[-2])
    for key in ("seed", "nproc", "spark", "python", "spark_conf"):
        assert key in details, f"{workload}: detail line lacks {key}"
    return json.loads(lines[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = run(w["name"], trace)
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want, (
                f"{w['name']} trace={trace}: metrics differ: "
                f"{sorted(set(got.items()) ^ set(want.items()))}")
            assert res["correct"] and res["failed"] == 0, res
            assert res["attempted"] >= 1, res
            print(f"ok  {w['name']} trace={trace}: {len(got)} metrics")
    res = run(spec["workloads"][0]["name"], 0, "--fault", "drop-triple")
    assert res["failed"] > 0 and not res["correct"], res
    print(f"ok  negative case: {res['failed']}/{res['attempted']} failed")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
