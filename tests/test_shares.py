"""Block-lifetime tests for data_transform_spark.shares.

Every frame a key materializes for its own reuse is either registered by
``share`` (and freed by ``release_shares``) or freed by its caller through
``free``; these tests build one key per mechanism and check that no
persistent RDD outlives the build, that the fill pool refuses nested
submissions, and that a free which cannot reach its blocks warns instead
of raising.
"""

import sys
import threading

import pytest

import __spark_entry__
from data_transform_spark import shares


def test_nested_fill_raises_instead_of_queueing():
    """A thunk that submits another fill from a share-fill thread gets a
    RuntimeError at once; without the guard the inner fill would queue on
    the pool its own caller occupies."""
    inner_started = threading.Event()

    def inner():
        inner_started.set()
        return 1

    def outer():
        return shares.submit_fill(inner).result(timeout=30)

    fut = shares.submit_fill(outer)
    with pytest.raises(RuntimeError, match="share-fill thread"):
        fut.result(timeout=30)
    assert not inner_started.is_set()


class _FakeFrame:
    """Checkpoints to itself, so share(eager=True) runs without Spark."""

    def localCheckpoint(self, eager=True):
        return self


def test_shares_registered_from_fill_threads_are_all_tracked(monkeypatch):
    """Fill threads register shares concurrently; with a short switch
    interval a lost append would leave a frame untracked."""
    monkeypatch.setattr(shares, "_SHARES", [])
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        frames = [_FakeFrame() for _ in range(64)]
        got = shares.fill_concurrently(
            *[lambda f=f: shares.share(f, eager=True) for f in frames]
        )
        assert got == frames
        assert sorted(map(id, shares._SHARES)) == sorted(map(id, frames))
    finally:
        sys.setswitchinterval(interval)


class _DeadFrame:
    """Stands in for a frame whose session was stopped: every JVM call
    through it raises."""

    @property
    def _jdf(self):
        raise RuntimeError("SparkContext was shut down")


def test_free_of_dead_frame_warns_and_does_not_raise():
    with pytest.warns(RuntimeWarning, match="SparkContext was shut down"):
        shares.free(_DeadFrame())


def test_release_shares_warns_per_dead_frame_and_empties_registry(monkeypatch):
    monkeypatch.setattr(shares, "_SHARES", [_DeadFrame(), _DeadFrame()])
    with pytest.warns(RuntimeWarning) as record:
        shares.release_shares()
    assert len(record) == 2
    assert shares._SHARES == []


@pytest.mark.parametrize(
    "key",
    [
        "quality_pr_curve",  # share(eager=True)
        "sim_ann_pq",  # fill pool (submit_fill) + eager shares
        "vocab_bpe",  # loop checkpoint freed by its caller
        "stream_dedup_incr",  # per-micro-batch free
    ],
)
def test_key_build_leaves_no_persistent_rdds(spark, sf_dir, key):
    """Build a key through the driver contract, materialize it, release
    the registered shares: no persistent RDD the build created survives
    and the registry is empty. (Compared by RDD id, not by count: GC may
    let ContextCleaner free blocks of earlier tests mid-build.)"""

    def persistent_ids():
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(i) for i in jmap.keySet().toArray()}

    shares.release_shares()
    before = persistent_ids()
    __spark_entry__.queries()[key](spark, sf_dir).toPandas()
    shares.release_shares()
    assert persistent_ids() - before == set(), f"{key} left blocks behind"
    assert shares._SHARES == []
