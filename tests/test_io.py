"""io.read_parquet: one read path that infers each parquet schema once.

A repeat read of an unchanged file must launch no Spark job; a rewritten
file, a flipped inference conf or a path the driver cannot stat must not
be served a stored schema.
"""

import os
import sys
import threading

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from data_transform_spark import io
from data_transform_spark.io import load_table, path_of, read_parquet

PKG = os.path.dirname(os.path.abspath(io.__file__))


def _next_job_id(spark):
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def test_parquet_reads_only_in_io():
    """Every parquet read goes through io.read_parquet, so no module
    infers a schema the cache has already stored."""
    offenders = []
    for root, _, files in os.walk(PKG):
        for name in files:
            path = os.path.join(root, name)
            if not name.endswith(".py") or path == io.__file__:
                continue
            with open(path) as fh:
                for n, line in enumerate(fh, 1):
                    if ".read.parquet(" in line:
                        offenders.append(f"{os.path.relpath(path, PKG)}:{n}")
    assert not offenders, f".read.parquet( outside io.py: {offenders}"


@pytest.mark.parametrize("table", ["nation", "events"])
def test_repeat_load_launches_no_job(spark, sf_dir, table):
    first = load_table(spark, sf_dir, table)
    j0 = _next_job_id(spark)
    again = load_table(spark, sf_dir, table)
    assert _next_job_id(spark) == j0, f"repeat read of {table} launched a job"
    assert again.schema == first.schema


def _write_file(path, table):
    pq.write_table(table, path)


def _write_dir(path, table):
    os.makedirs(path, exist_ok=True)
    for name in os.listdir(path):
        os.remove(os.path.join(path, name))
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


@pytest.mark.parametrize("write", [_write_file, _write_dir], ids=["file", "dir"])
def test_rewritten_path_is_reinferred(spark, tmp_path, write):
    path = str(tmp_path / "t.parquet")
    write(path, pa.table({"a": [1, 2, 3]}))
    assert read_parquet(spark, path).columns == ["a"]
    j0 = _next_job_id(spark)
    assert read_parquet(spark, path).columns == ["a"]  # served from the map
    assert _next_job_id(spark) == j0
    write(path, pa.table({"b": ["x"], "c": [1.5]}))
    df = read_parquet(spark, path)
    assert df.columns == ["b", "c"]
    assert sorted(df.collect()) == [("x", 1.5)]


def test_inference_conf_flip_is_reinferred(spark, tmp_path):
    path = str(tmp_path / "bin.parquet")
    pq.write_table(pa.table({"v": pa.array([b"ab", b"cd"], type=pa.binary())}), path)
    key = "spark.sql.parquet.binaryAsString"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert read_parquet(spark, path).schema["v"].dataType.typeName() == "binary"
        spark.conf.set(key, "true")
        df = read_parquet(spark, path)
        assert df.schema["v"].dataType.typeName() == "string"
        assert sorted(r.v for r in df.collect()) == ["ab", "cd"]
    finally:
        spark.conf.set(key, prev)


class _StubReader:
    """Records what read_parquet asks of spark.read."""

    def __init__(self):
        self.calls = []

    def schema(self, schema):
        self.calls.append(("schema", schema))
        return self

    def parquet(self, *paths):
        self.calls.append(("parquet", paths))
        return self


@pytest.mark.parametrize("path", ["s3a://bucket/t.parquet", "hdfs://nn:8020/t.parquet"])
def test_remote_path_goes_to_spark_uncached(path):
    reader = _StubReader()

    class _Spark:
        read = reader

    for _ in range(2):
        assert read_parquet(_Spark(), path) is reader
    assert reader.calls == [("parquet", (path,))] * 2
    assert (path,) not in io._SCHEMAS


def test_concurrent_reads_return_each_path_its_own_schema(spark, sf_dir, monkeypatch):
    """share-fill threads call read_parquet at once: racing misses and hits
    on a cold map must still give every path its own schema."""
    tables = ["region", "nation", "supplier", "part"]
    want = {t: spark.read.parquet(path_of(sf_dir, t)).schema for t in tables}
    monkeypatch.setattr(io, "_SCHEMAS", {})
    got, errors = [], []

    def worker(offset):
        try:
            for i in range(6):
                t = tables[(offset + i) % len(tables)]
                got.append((t, read_parquet(spark, path_of(sf_dir, t)).schema))
        except Exception as exc:  # surfaced by the assertion below
            errors.append(exc)

    threads = [threading.Thread(target=worker, args=(k,)) for k in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads), "a reader thread hung"
    assert not errors, errors
    assert len(got) == 48
    for t, schema in got:
        assert schema == want[t], t
    assert set(io._SCHEMAS) == {(path_of(sf_dir, t),) for t in tables}
