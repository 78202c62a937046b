"""SparkSession factory tuned for this engine.

Local testing runs `local[N]`; the config below is written for a real
multi-executor cluster and degrades gracefully to local mode:

- AQE on (runtime coalesce, skew-join splitting, dynamic join strategy) —
  at 100 TB the static `shuffle.partitions` number is always wrong for some
  stage, AQE re-plans per-stage from actual map output sizes.
- Arrow on for every pandas_udf / mapInPandas boundary (format decoders are
  the only Python in the data plane).
- Broadcast threshold left at default (10 MB) but every dimension join in
  the engine passes an explicit `F.broadcast` hint, so plan shape does not
  silently flip to shuffle joins when statistics are missing.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

# At sf0.1 locally a few MB of shuffle data spread over 32 threads wants a
# small fixed number; on a real cluster AQE coalesces upward from this.
_DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")


def engine_confs() -> dict[str, str]:
    """The engine's standard session config as ONE shared dict — consumed
    by `get_spark` and by tools that must measure a config-identical
    session (tools/probe_jobs.py hand-duplicated these and drifted once,
    advisor r14 #4)."""
    return {
        "spark.sql.shuffle.partitions": _DEFAULT_SHUFFLE_PARTITIONS,
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # AQE coalescing sizes post-shuffle partitions by BYTES, but this
        # engine's hot stages are Arrow-kernel (mapInPandas) and
        # interpreted higher-order array expressions whose per-row cost
        # exceeds the byte model by ~10^3: a few-hundred-KB shuffle that
        # AQE folds to ONE partition serializes seconds of per-row work
        # onto one core (r14 event-log attribution: 2-4 s single-task
        # kernel stages across the ANN family). Dropping the coalesce
        # floor to 1 byte keeps such stages at `shuffle.partitions`-way
        # parallelism; partitions stay bounded by that knob (env
        # SPARK_GRAFT_SHUFFLE_PARTITIONS — production sets it with the
        # cluster, and can raise this floor back toward Spark's 1m
        # default when bytes-per-partition, not Python-per-row, dominate).
        # Iterative KB-scale fixpoint operators opt BACK INTO byte
        # coalescing per loop via `coalesced_tiny_shuffles` (r15 — the
        # round-14 verdict's one real regression was exactly this floor
        # keeping entity_golden_records' tiny pure-JVM shuffles 32-wide).
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": os.environ.get(
            "SPARK_GRAFT_AQE_MIN_PARTITION_SIZE", "1b"
        ),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        # Parquet scans: vectorized reader + pushdown are on by default; keep
        # files splittable and partitions memory-sized for wide fact tables.
        "spark.sql.files.maxPartitionBytes": "134217728",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "10485760",
    }


def get_spark(app_name: str = "scripts-toolkit-spark", master: str | None = None) -> SparkSession:
    """Build (or fetch) the session with the engine's standard config."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name).master(master or f"local[{cpus}]")
    for k, v in engine_confs().items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


_AQE_FLOOR_KEY = "spark.sql.adaptive.coalescePartitions.minPartitionSize"


@contextmanager
def coalesced_tiny_shuffles(spark: SparkSession, size: str = "1m"):
    """Scope-restore Spark's DEFAULT byte-model AQE coalescing around an
    ITERATIVE KB-SCALE loop (r15 — round-14 verdict Next #1).

    The session-wide 1-byte coalesce floor exists for stages whose
    per-ROW cost dwarfs the byte model (Arrow kernels, interpreted
    higher-order folds). An iterative fixpoint operator is the opposite
    case: tens of consecutive tiny PURE-JVM shuffles where scheduling
    32 near-empty tasks per stage is the whole cost (the r14 verdict's
    one real regression, entity_golden_records 1.8→2.6 s, was exactly
    this). The operator knows which regime it is in — the optimizer
    cannot (guide §8) — so the loop opts back into the 1 MB default
    floor for ITS OWN eager jobs and restores the session floor after.

    Sound because these operators are fully EAGER inside the scope
    (every round ends in a materialize/checkpoint or a driver action),
    so the conf applies to exactly the loop's jobs; the frame handed
    back to the caller is already materialized, and any lazy tail plans
    execute under the caller's config. SQL confs are read per query
    execution — runtime-settable, no session rebuild."""
    old = spark.conf.get(_AQE_FLOOR_KEY, None)
    spark.conf.set(_AQE_FLOOR_KEY, size)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(_AQE_FLOOR_KEY)
        else:
            spark.conf.set(_AQE_FLOOR_KEY, old)
