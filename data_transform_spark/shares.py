"""Block lifetimes of the frames keys materialize for their own reuse.

Every ``persist`` / ``localCheckpoint`` in the package goes through this
module, and so does every explicit free of their blocks:

- ``share(df, eager)`` registers a frame that several branches of ONE key
  build read. ``release_shares()`` frees every registered frame; it runs at
  each top-level key build (``__spark_entry__._wrap``) and at the entry of
  the keys that share, so live blocks stay bounded to one key's shares and
  a repeated build recomputes from parquet instead of hitting its previous
  invocation's cache through CacheManager plan matching.
- ``checkpoint(df, eager)`` truncates lineage for loops and micro-batches.
  It is NOT registered: its caller frees it with ``free`` at a point it
  knows is safe, or leaves it to GC -> ContextCleaner.
- ``submit_fill`` / ``fill_concurrently`` run independent eager fills as
  concurrent Spark actions on a small driver-thread pool.

Local-mode note: a localCheckpoint truncates lineage, so checkpointed
frames are NOT recomputable after executor/block loss. That is acceptable
on local[N], where executor loss is process death anyway; ``checkpoint`` is
the single place a cluster deployment would switch to reliable checkpoints.
"""

from __future__ import annotations

import threading
import warnings

from pyspark import StorageLevel

# Frames registered by share(), freed by release_shares(). Lazily
# persisted frames are CacheManager entries; eager shares are checkpoint
# RDDs reachable only through the LogicalRDD at their plan root — free()
# tells the two apart.
_SHARES: list = []

# One small shared driver-thread pool for concurrent share fills: each
# eager fill is its own Spark action, and filling independent shares
# sequentially leaves most of the cluster idle during every fill's tail.
# Job groups/descriptions are thread-local, so labels stay correct per
# fill.
_FILL_POOL = None
_FILL_POOL_LOCK = threading.Lock()
_FILL_THREAD_PREFIX = "share-fill"


def checkpoint(df, eager: bool = True):
    """Lineage-truncating local checkpoint of ``df`` (untracked)."""
    return df.localCheckpoint(eager=eager)


def share(df, eager: bool = False):
    """Register a frame that several branches of one key build read.

    ``eager=False`` persists (MEMORY_AND_DISK) lazily, so the key keeps its
    zero-driver-jobs contract: the cache fills during the final action and
    later branches scan it. ``eager=True`` fills NOW with a local
    checkpoint instead of persist+count: a cached frame's tasks still
    serialize the whole recompute lineage (the InMemoryRelation child
    plan) into every task binary — measured on pipeline_e2e_llm_v3: ~1 MB
    binaries, 23 s/invocation of task deserialization + 20 s GC on 34 s of
    executor CPU. Eager fills matter where branches meet at broadcast
    crossJoins, whose subtrees Spark materializes on CONCURRENT broadcast
    threads: branches racing a still-cold share each recompute its entire
    lineage. The fills run work the final action needs anyway, re-sequenced
    in dependency order, and release_shares() frees them at the next key
    build, so nothing is served across invocations."""
    if eager:
        df = checkpoint(df)
    else:
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _SHARES.append(df)
    return df


def free(*frames) -> None:
    """Drop the blocks behind each frame now instead of waiting on GC.

    A checkpointed frame's data is RDD-cached, reachable only through the
    LogicalRDD at its plan root (DataFrame.unpersist() is a no-op on it),
    so that RDD is unpersisted; any other frame is unpersisted as a
    CacheManager entry. Never raises: a frame bound to a stopped session
    raises on its dead SparkContext, but its blocks died with that session,
    so the failure is reported as a warning and the free moves on."""
    for df in frames:
        try:
            plan = df._jdf.queryExecution().analyzed()
            if plan.getClass().getSimpleName() == "LogicalRDD":
                plan.rdd().unpersist(False)
            else:
                df.unpersist(False)
        except Exception as exc:
            warnings.warn(
                f"could not free a share frame's blocks: {exc!r}",
                RuntimeWarning,
                stacklevel=2,
            )


def release_shares() -> None:
    """Free every frame registered by share() so far."""
    while _SHARES:
        free(_SHARES.pop())


def submit_fill(thunk):
    """Run ``thunk`` (which builds AND eagerly fills a share frame) on the
    shared fill pool; returns a Future. The caller must .result() before
    its key returns, so fills never outlive their invocation.

    Raises RuntimeError when called from a fill thread: a nested fill
    could wait on a pool whose every worker is blocked on its own caller."""
    global _FILL_POOL
    if threading.current_thread().name.startswith(_FILL_THREAD_PREFIX):
        raise RuntimeError(
            "submit_fill called from a share-fill thread; submit every fill "
            "from the key body, never from inside another fill"
        )
    with _FILL_POOL_LOCK:
        if _FILL_POOL is None:
            from concurrent.futures import ThreadPoolExecutor

            _FILL_POOL = ThreadPoolExecutor(
                max_workers=4, thread_name_prefix=_FILL_THREAD_PREFIX
            )
    return _FILL_POOL.submit(thunk)


def fill_concurrently(*thunks):
    """Fill several INDEPENDENT share frames as concurrent Spark actions;
    returns their results in submission order (the scheduler back-fills
    idle cores across the overlapping fills)."""
    futs = [submit_fill(t) for t in thunks]
    return [f.result() for f in futs]
