"""One lifecycle for persisted and checkpointed intermediates.

Operators materialize bounded intermediates when several consumers read
one expensive plan (persist) or an iterative operator truncates lineage
(checkpoint). Left to the ContextCleaner, a long session strands one
entry per call -- the class VERDICT r10 measured as a 17.8x bench
blowup. Ownership follows mrjob's ``with job.make_runner() as runner:``:
the consumer of a result opens a :func:`scope`, and everything
:func:`materialize` records inside it is released on exit::

    with scope():
        minhash_lsh_pairs(docs, "doc_id", "text").write.parquet(out)

With no scope open the caller owns the frame, as with a bare
``persist()``. :func:`release` frees one frame early, e.g. a superseded
generation inside an iterative loop.
"""

from __future__ import annotations

from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import DataFrame

#: ``level`` values that checkpoint instead of persisting: executor
#: block storage (fast, lost with the executor) or the reliable
#: checkpoint directory set on the SparkContext
LOCAL_CHECKPOINT = "localCheckpoint"
CHECKPOINT = "checkpoint"

# one list of recorded frames per open scope, innermost last
_scopes: ContextVar[tuple] = ContextVar("mrjob_spark_scopes", default=())


def materialize(x, level=None, *, eager: bool = False):
    """Persist ``x`` (a DataFrame or RDD) at ``level`` -- ``None`` is the
    type's own ``persist()`` default -- or checkpoint a DataFrame when
    ``level`` is :data:`LOCAL_CHECKPOINT` / :data:`CHECKPOINT`.

    ``eager`` fills the cache now with one ``count()`` job (checkpoints
    pass it to Spark instead); use it where several consumers would
    otherwise race the lazy fill. Returns the frame to use -- a
    checkpoint is a new DataFrame -- and records it in the innermost
    open :func:`scope`."""
    if level in (LOCAL_CHECKPOINT, CHECKPOINT):
        x = getattr(x, level)(eager=eager)
    else:
        x = x.persist() if level is None else x.persist(level)
        if eager:
            x.count()
    held = _scopes.get()
    if held:
        held[-1].append(x)
    return x


def release(x) -> None:
    """Free the storage behind one materialized frame now.

    A persisted frame leaves the cache; a locally checkpointed one
    drops its blocks, which sit behind the plan's ``LogicalRDD`` node
    (the Python-side ``df.rdd`` is a fresh conversion, not the
    checkpointed RDD). Reliable checkpoints carry StorageLevel NONE and
    are skipped: their files belong to the checkpoint directory. Safe
    to call twice. Best-effort by design -- a Spark internals change
    degrades this to ContextCleaner timing, never to an error."""
    try:
        if not isinstance(x, DataFrame) or x.is_cached:
            x.unpersist()
            return
        rdd = x._jdf.queryExecution().analyzed().rdd()
        lvl = rdd.getStorageLevel()
        if lvl.useMemory() or lvl.useDisk():
            rdd.unpersist(False)
    except Exception:  # pragma: no cover - py4j internals drift
        pass


@contextmanager
def scope():
    """Own every frame :func:`materialize` records until the block exits,
    then release them, innermost (latest) first. Scopes nest; each frame
    belongs to the innermost scope open when it was materialized.

    Contract: frames built inside a scope are valid only until it
    exits. A DataFrame whose plan reads a released persist still runs
    (it recomputes from lineage); one that reads a released
    ``localCheckpoint`` cannot -- that lineage was truncated -- so
    consume results (write, collect, count) before leaving the scope."""
    held: list = []
    token = _scopes.set(_scopes.get() + (held,))
    try:
        yield
    finally:
        _scopes.reset(token)
        for x in reversed(held):
            release(x)
