"""SparkSession factory tuned for the KG-construction workload.

Replaces the reference's hand-rolled execution substrate
(multiprocessing.Pool(NUM_WORKERS) + Mongo chunk cursors,
reference src/config.py:8-9, src/qa.py:30, src/srl.py:40) with Spark's task
scheduler. Every knob here exists to keep the 100 TB plan healthy:

- AQE on (coalesce + skew-join splitting) — the reference has no skew story;
  hot entities (P31-style) are our analog and AQE + salting handle them.
- Arrow on with a bounded batch size — all Python kernels run as vectorized
  pandas UDFs (BASELINE.json input_hint mandates no per-row Python).
- UTC session timezone — deterministic timestamps across executors/oracles.
- shuffle partitions default to ``max(DEFAULT_CPUS, 32)``, and
  ``DEFAULT_CPUS`` is ``$SPARK_GRAFT_CPUS`` or 32 when it is unset; on a
  real cluster this is overridden via spark-submit --conf (AQE coalesces
  the excess anyway).
- codegen cache of 1,000 compiled classes (Spark's default is 100). The
  program is a fixed set of plans run again and again (resume batches,
  bench samples, benchmark repetitions). Spark keeps each plan's compiled
  class in this cache and evicts the least recently used, so a pass
  that needs more than 100 distinct classes recompiles them on every
  repetition, and the JVM interprets and re-JITs them. Measured on
  a 4-core host (``local[4]``) with a 10,000-entry cache, one run
  compiles 369 distinct classes for ``bench.py`` at sf0.1 (the largest),
  219 for perfbench ``operators``, 74 for ``kg_small`` and 60 for
  ``scripts/run_pipeline.py``: 1,000 holds the largest 2.7 times over.
  The cache belongs to each JVM (driver and every executor), and a full
  one costs about the memory of a thrashed one: at the end of a
  ``bench.py`` run Metaspace read 169 MB at 100 entries and 172 MB at
  1,000, and the JVM's peak RSS 4.20 and 3.96 GB; after 30 s of
  ``operators`` passes, 177 and 170 MB, 1.71 and 1.46 GB. The conf is
  static: it takes effect only when ``get_spark`` creates the session,
  and a caller that wants another size passes it in ``extra_conf``,
  which is applied last.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "xwikire_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-ready defaults."""
    master = master or f"local[{DEFAULT_CPUS}]"
    shuffle_partitions = shuffle_partitions or max(DEFAULT_CPUS, 32)

    # Executor Python workers must import this package: the driver's
    # sys.path does NOT propagate to them. Locally PYTHONPATH (inherited by
    # the JVM -> workers) covers it; on a cluster use spark-submit
    # --py-files xwikire_spark.zip (the reference ships code to its Pool
    # workers implicitly by fork — Spark needs it explicit).
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + existing if existing else "")
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Input split size (guide §2.5 input skew / §6): parameterised via
        # env because the right value is deployment-dependent. Spark caps
        # a split at the smaller of this value and the input's bytes per
        # core (at least 4 MB), so a small local input is still spread
        # over every core while a cluster reading thousands of files gets
        # fewer, larger map tasks feeding each shuffle (guide §6:
        # 512m-1g). On 4 cores every bench.py leaf at sf0.1 runs the same
        # task count at 16m and at 512m.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "512m"),
        )
        .config("spark.executorEnv.PYTHONPATH", repo_root)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # compiled-class cache per JVM, sized to the program's plans: see
        # the module docstring for the measured working sets
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
