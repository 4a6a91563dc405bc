"""Table loaders for the fixture star schema + events/documents/embeddings.

All tables are plain parquet scans (columnar, footer schemas, predicate
pushdown and column pruning reach the scan automatically). The one special
case is ``events.ts``, whose physical type has varied across fixture
generations: INT64 TIMESTAMP(NANOS) (unreadable natively by Spark 4.1.2)
or plain TIMESTAMP(MICROS). ``normalize_event_ts`` adapts on the scanned
dtype: under ``spark.sql.legacy.parquet.nanosAsLong=true`` a NANOS column
arrives as long nanoseconds and is truncated with
``timestamp_micros(ts div 1000)`` (integer div — ns-since-epoch ~1.7e18
exceeds exact double range; matches DuckDB's ns->us truncation exactly),
while a MICROS column already scans as timestamp_ntz and passes through.

Read path. Every parquet read in the package goes through
``read_parquet(spark, *paths)``. ``spark.read.parquet`` infers the schema
with a one-task Spark job on every call, even for a file read a moment
earlier; ``read_parquet`` infers it once per file state and hands the
stored ``StructType`` back to ``spark.read.schema(...)``, which launches no
job. The stored schema is reused only while its signature matches:
- name, size, ``mtime_ns`` and inode of every file under each path (a
  directory is walked), so a rewritten or added file is re-inferred;
- the session confs in ``_INFERENCE_CONFS``, which change what inference
  returns (a flipped ``binaryAsString`` is re-inferred).
A path the driver cannot ``stat`` — a remote store (``s3://``,
``hdfs://``), a glob, a missing file — goes straight to
``spark.read.parquet`` uncached, paying its inference job as before. The
map keeps one entry per path tuple and holds only schemas, never
DataFrames or sessions: a store rewritten in place replaces its entry,
while a key that writes each build's store under a fresh name adds one
small entry per build beside the store it leaves on disk.
"""

from __future__ import annotations

import os
import stat
import warnings
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType, TimestampNTZType

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


# Session confs that change the schema Parquet inference returns.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)

# paths -> (signature, inferred schema). Single dict reads and writes are
# atomic, so share-fill threads may call read_parquet concurrently: a race
# can infer a schema twice, and each entry pairs a schema with the
# signature taken before its inference, so a hit is never stale.
_SCHEMAS: dict[tuple[str, ...], tuple[tuple, StructType]] = {}


def path_of(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


def _file_states(path: str) -> tuple | None:
    """(relative name, size, mtime_ns, inode) of every file under a local
    path; None when the driver cannot stat it (remote store, glob, missing)."""
    url = urlparse(path)
    if url.scheme not in ("", "file"):
        return None
    local = url.path if url.scheme else path
    try:
        st = os.stat(local)
        if not stat.S_ISDIR(st.st_mode):
            return (("", st.st_size, st.st_mtime_ns, st.st_ino),)
        states = []
        for root, dirs, files in os.walk(local):
            dirs.sort()
            for name in sorted(files):
                full = os.path.join(root, name)
                st = os.stat(full)
                rel = os.path.relpath(full, local)
                states.append((rel, st.st_size, st.st_mtime_ns, st.st_ino))
        return tuple(states)
    except OSError:  # vanished mid-walk: infer through Spark, uncached
        return None


def _signature(spark: SparkSession, paths: tuple[str, ...]) -> tuple | None:
    files = tuple(_file_states(p) for p in paths)
    if any(f is None for f in files):
        return None
    return files, tuple(spark.conf.get(k, None) for k in _INFERENCE_CONFS)


def read_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """``spark.read.parquet(*paths)`` that infers each schema once per file
    state (see the module docstring)."""
    sig = _signature(spark, paths)
    if sig is None:
        return spark.read.parquet(*paths)
    hit = _SCHEMAS.get(paths)
    if hit is not None and hit[0] == sig:
        return spark.read.schema(hit[1]).parquet(*paths)
    df = spark.read.parquet(*paths)
    _SCHEMAS[paths] = (sig, df.schema)
    return df


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """ts -> TIMESTAMP at us precision (== DuckDB read), whatever the scan gave.

    Long nanoseconds (NANOS fixture under nanosAsLong) are truncated to us;
    TIMESTAMP_NTZ (MICROS fixture) is cast to TIMESTAMP — with the session
    pinned to UTC the two types are numerically identical, and TIMESTAMP is
    required downstream (watermarks reject NTZ; NTZ has no bigint cast).
    Works on batch and streaming DataFrames alike (decided off the schema)."""
    dt = df.schema["ts"].dataType
    if isinstance(dt, LongType):
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif isinstance(dt, TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # The NTZ->TIMESTAMP cast in normalize_event_ts is value-preserving only
    # under a UTC session; configure_session tolerates conf.set failures, so
    # re-assert here rather than silently shifting event timestamps on a
    # non-UTC driver session (round-3 ADVICE).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return normalize_event_ts(read_parquet(spark, path_of(sf_dir, "events")))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return load_events(spark, sf_dir)
    return read_parquet(spark, path_of(sf_dir, name))


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def spread(df, min_parts: int | None = None):
    """Repartition a DataFrame only when its scan under-parallelizes.

    Single-file fixture tables (documents, embeddings) arrive as ONE input
    split, serializing any expensive per-row map work (shingle explode,
    wide hash aggregates) onto one core. Spreading costs a shuffle of the
    raw rows — trivial next to the map work it parallelizes. At cluster
    scale a 100 TB scan already has thousands of input files, so this is a
    no-op there. The probe is ``inputFiles()`` — a driver-side file listing,
    NOT ``.rdd.getNumPartitions()``, which forces an RDD conversion + plan
    materialization per call (round-2 VERDICT: suspect #1 for the dedup
    bench regression). Row placement does not affect results: every
    consumer aggregates by key.

    Split estimate: file COUNT alone misjudges both extremes (a few huge
    files split into many partitions via maxPartitionBytes; thousands of
    tiny files coalesce into few) — so for local files the estimate is
    Spark's own packing formula, ceil((bytes + n*openCost) / maxPartition
    Bytes), and falls back to the file count on remote filesystems
    (round-3 ADVICE).
    """
    spark = df.sparkSession
    target = min_parts or spark.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception as exc:
        warnings.warn(
            f"spread: could not list input files, not spreading: {exc!r}",
            RuntimeWarning,
            stacklevel=2,
        )
        return df
    est_splits = len(files)
    local = [f[len("file:"):] for f in files if f.startswith("file:")]
    if files and len(local) == len(files):
        try:
            total = sum(os.path.getsize(p) for p in local)
            mpb = _bytes_conf(spark, "spark.sql.files.maxPartitionBytes", 128 << 20)
            open_cost = _bytes_conf(spark, "spark.sql.files.openCostInBytes", 4 << 20)
            est_splits = -(-(total + len(files) * open_cost) // mpb)
        except OSError as exc:
            warnings.warn(
                f"spread: could not size input files, estimating by count: {exc!r}",
                RuntimeWarning,
                stacklevel=2,
            )
    if est_splits >= target:
        return df
    return df.repartition(target)


def _bytes_conf(spark: SparkSession, key: str, default: int) -> int:
    """Parse a Spark byte-size conf ('134217728b', '128MB', '512m', plain int).

    Accepts the full JavaUtils.byteStringAsBytes suffix set — two-letter
    (kb/mb/gb/tb/pb) and single-letter (k/m/g/t/p) forms — since Spark does;
    an unparseable value falls back to ``default``."""
    try:
        raw = spark.conf.get(key).strip().lower()
    except Exception as exc:
        warnings.warn(
            f"_bytes_conf: could not read {key}, using {default}: {exc!r}",
            RuntimeWarning,
            stacklevel=2,
        )
        return default
    suffixes = (
        ("pb", 1 << 50), ("tb", 1 << 40), ("gb", 1 << 30), ("mb", 1 << 20),
        ("kb", 1 << 10), ("p", 1 << 50), ("t", 1 << 40), ("g", 1 << 30),
        ("m", 1 << 20), ("k", 1 << 10), ("b", 1),
    )
    for suf, mult in suffixes:
        if raw.endswith(suf):
            raw = raw[: -len(suf)]
            break
    else:
        mult = 1
    try:
        val = int(raw) * mult
    except ValueError:
        return default
    # A conf of '0' (or negative) would divide-by-zero in spread()'s packing
    # formula; treat it as unparseable like Spark rejects it at session init.
    return val if val > 0 else default
