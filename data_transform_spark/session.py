"""SparkSession construction + the session configs every query relies on.

The driver hands us an existing SparkSession, so anything we require must be
settable at runtime (``spark.conf.set``) — ``configure_session`` applies those.
``get_spark`` builds a session for local tests/bench, sized by env vars:
``SPARK_GRAFT_CPUS`` (default 32) and shuffle partitions matched to cores.

At cluster scale the same code runs unchanged: shuffle partitions should be
set to ~2-3x total executor cores (AQE coalesces down), and
``spark.sql.files.maxPartitionBytes`` left at 128m so a 100 TB scan yields
~800k well-sized input splits.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import SparkSession

# Runtime-settable confs the engine depends on (applied to driver sessions too).
RUNTIME_CONFS = {
    # Deterministic timestamp semantics; fixtures are NTZ on both engines.
    "spark.sql.session.timeZone": "UTC",
    # events.parquet has INT64 TIMESTAMP(NANOS) — Spark 4 errors without this;
    # read as long ns then timestamp_micros(ts div 1000) (FIXTURES.md recipe).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Arrow for all pandas_udf / toPandas boundaries.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Wide aggregates (64-bucket simhash, 48-hash minhash) exceed the default
    # 100-field whole-stage-codegen limit and run interpreted. Round 2 raised
    # the limit to 300 to keep them codegen'd; re-measured round 3: Janino
    # compilation of the giant generated functions costs 10-40 s per fresh
    # plan (expression IDs change the source, so the code cache misses) with
    # NO steady-state win — simhash: stable 3.8-4.2 s at the default vs
    # 4-15 s at 300. Keep the default limit; the wide aggs are fine
    # interpreted because their per-row work is trivial bit math.
    # Fixture-tier setting (sf <= 0.1): the default 200 is pure stage overhead
    # at this size. Derived from SPARK_GRAFT_CPUS rather than pinned (r14,
    # guide §2 "scale-adaptive partitioning"): the driver also runs the bench
    # at a lower core count, and a constant tuned for 32 cores would leave
    # partitions 4x the parallelism there. Cluster tiers override per
    # SCALING.md (2-3x total cores; AQE coalesces down either way).
    "spark.sql.shuffle.partitions": str(
        max(int(os.environ.get("SPARK_GRAFT_CPUS", "32")), 8)
    ),
}


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply required runtime confs to an externally-provided session."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception as exc:  # non-settable on this build: loaders re-assert
            warnings.warn(
                f"configure_session: could not set {k}={v}: {exc!r}",
                RuntimeWarning,
                stacklevel=2,
            )
    return spark


def get_spark(app_name: str = "data-transform-spark") -> SparkSession:
    """Local session for tests/bench; honors SPARK_GRAFT_CPUS."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return configure_session(builder.getOrCreate())
