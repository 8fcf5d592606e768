"""Embedding clustering: deterministic Lloyd's k-means over fixed-point
vectors (SURVEY.md §2.11 L3 — the IVF *training* step).

``l3_knn_bucketed`` searches precomputed buckets; this module builds such
buckets from the data. The design is the standard scalable k-means shape
(what MLlib's KMeans also does): centroids live on the driver and are
broadcast each iteration, so per-iteration cost is ONE corpus scan plus a
``k × dim``-row partial aggregation — nothing driver-side ever grows with
the corpus, only with ``k × dim``.

Cross-engine determinism (the part a float k-means can't give you): vectors
are quantized to fixed-point int64 (``floor(x * scale + 0.5)``), so

* squared-L2 distances are exact integers — the argmin never depends on
  accumulation order, and ties break on the lowest cluster id;
* centroid updates are integer sums + counts (exact, order-independent),
  re-rounded to the fixed-point grid via the same portable
  ``floor(sum/count + 0.5)`` in Spark, Python, and the SQL oracle.

A float implementation differs between engines in the low bits of every
mean, and one flipped assignment cascades; the fixed-point form is
bit-identical everywhere, which is what makes an *oracle-checked* k-means
possible at all. (Quantizing to 1e-3 moves each coordinate by ≤5e-4 —
noise relative to unit-scale embeddings.)

Empty-cluster rule: a centroid that attracts no points is dropped (its id
simply stops appearing), matching the set-semantics of the SQL update CTE.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mrjob_spark.operators.similarity import _drop_malformed_vec_rows
from mrjob_spark.sources import local_frame

#: fixed-point grid: 3 decimal digits (1e-3 resolution)
FIXED_POINT_SCALE = 1000


def quantize_fixed_point(vec, scale: int = FIXED_POINT_SCALE):
    """``array<float> -> array<long>`` on the fixed-point grid, portable
    (same IEEE ops as the oracle's ``floor(x * scale + 0.5)``)."""
    return F.transform(
        vec, lambda x: F.floor(x.cast("double") * F.lit(scale) + F.lit(0.5)).cast("long")
    )


def _assign_rows(
    qdf: DataFrame,
    centroid_rows: list[tuple[int, list[int]]],
    probe: int = 1,
    with_qv: bool = False,
    passthrough: tuple[str, ...] = (),
    with_rank: bool = False,
) -> DataFrame:
    """Top-``probe`` nearest centroids per vector over the DRIVER-RESIDENT
    ``k``-row centroid list, Arrow-vectorized (round 12).

    The previous shape (crossJoin the broadcast centroid table, score each
    of the n×k rows with the ``zip_with``/``aggregate`` integer fold, then
    a min-struct / sort_array(collect_list) aggregate) paid an interpreted
    HigherOrderFunction eval per (vector, centroid) — CodegenFallback, so
    the k-way row explosion dominated every IVF tier's fit+assign cost.
    Here each Arrow batch computes all n×k squared-L2 distances as three
    integer matrix ops (``|q|² + |c|² − 2·q·cᵀ`` — EXACT in int64: the
    fixed-point grid bounds every term far below overflow), so the
    arithmetic is bit-for-bit the oracle's, with zero floating point.

    Tie-breaks replicate ``ORDER BY dist, cluster``: centroids are scored
    in ascending-cluster column order, ``argmin``/stable ``argsort`` keep
    the first (= lowest cluster) among equal distances. The centroid list
    is a closure constant (k × dim ints — the same bounded driver state
    the collect-based Lloyd's loop already holds); the corpus never
    shuffles for assignment, exactly as before.

    ``passthrough`` names extra input columns carried through the pass
    unchanged (repeated per probe row) — the §8 move-the-payload-once
    rule: an index build that needs ``(cluster, vec_id, embedding)``
    ships the vector through this one Arrow pass instead of joining the
    assignment back onto the corpus by ``vec_id`` (a corpus×corpus
    shuffle). ``with_rank`` adds the 1-based probe rank ``rn`` (rank 1 =
    the ``ORDER BY dist, cluster`` winner), so rank-1 consumers filter
    instead of re-aggregating.
    """
    cents = _centroid_arrays(centroid_rows)
    schema = (
        "vec_id long, qv array<long>, cluster long, dist long"
        if with_qv
        else "vec_id long, cluster long, dist long"
    )
    if with_rank:
        schema += ", rn int"
    for name in passthrough:
        schema += ", %s %s" % (name, qdf.schema[name].dataType.simpleString())

    def _score(batches):
        for b in batches:
            yield _score_cells(b, cents, probe=probe, with_qv=with_qv,
                               passthrough=passthrough, with_rank=with_rank)

    return qdf.select(
        "vec_id", "qv", *[c for c in passthrough]
    ).mapInArrow(_score, schema=schema)


def _centroid_arrays(centroid_rows: list[tuple[int, list[int]]]) -> tuple:
    """``(clusters, cmat, cc)`` of a k-row centroid list for
    :func:`_score_cells`: the cluster ids ascending, their fixed-point
    vectors as a ``k × dim`` int64 matrix, and each one's squared norm."""
    import numpy as np

    rows = sorted((int(c), list(cv)) for c, cv in centroid_rows)
    clusters = np.array([c for c, _ in rows], dtype=np.int64)
    cmat = np.array([cv for _, cv in rows], dtype=np.int64)
    return clusters, cmat, (cmat * cmat).sum(axis=1)


def _score_cells(
    b,
    cents: tuple,
    *,
    probe: int = 1,
    with_qv: bool = False,
    passthrough: tuple[str, ...] = (),
    with_rank: bool = False,
):
    """Top-``probe`` cells of the Arrow rows ``vec_id, qv[,
    *passthrough]`` of ``b`` (a record batch or a table) under
    :func:`_centroid_arrays` ``cents``, with the columns
    :func:`_assign_rows` declares, as the same kind of Arrow object.
    The one scoring code of both the ``mapInArrow`` pass and the
    streaming admission's driver path (``streaming/ops.py``), so the
    two can never assign a vector to different cells."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    clusters, cmat, cc = cents
    dim = cmat.shape[1] if cmat.ndim == 2 else 0
    # null / wrong-dimension vectors drop out of assignment; the
    # expected dimension is the centroids'
    b = _drop_malformed_vec_rows(b, "qv", dim)
    qv = b.column("qv")
    n = b.num_rows
    q = np.asarray(pc.list_flatten(qv), dtype=np.int64).reshape(n, dim)
    qq = (q * q).sum(axis=1)
    dists = qq[:, None] + cc[None, :] - 2 * (q @ cmat.T)
    vid = np.asarray(b.column("vec_id"), dtype=np.int64)
    if probe <= 1:
        j = np.argmin(dists, axis=1)  # first min = lowest cluster
        cols = {"vec_id": pa.array(vid, pa.int64())}
        if with_qv:
            cols["qv"] = qv
        cols["cluster"] = pa.array(clusters[j], pa.int64())
        cols["dist"] = pa.array(dists[np.arange(n), j], pa.int64())
        if with_rank:
            cols["rn"] = pa.array(np.ones(n, dtype=np.int32), pa.int32())
        for name in passthrough:
            cols[name] = b.column(name)
        return type(b).from_pydict(cols)
    # fewer live centroids than probe (clusters can collapse on
    # degenerate data): emit what exists, like the
    # slice(sort_array(...), 1, probe) it replaced
    order = np.argsort(dists, axis=1, kind="stable")[:, :probe]
    w = order.shape[1]
    cols = {
        "vec_id": pa.array(np.repeat(vid, w), pa.int64()),
        "cluster": pa.array(clusters[order].ravel(), pa.int64()),
        "dist": pa.array(
            np.take_along_axis(dists, order, axis=1).ravel(), pa.int64()
        ),
    }
    if with_rank:
        cols["rn"] = pa.array(
            np.tile(np.arange(1, w + 1, dtype=np.int32), n), pa.int32()
        )
    if passthrough:
        idx = pa.array(np.repeat(np.arange(n), w))
        for name in passthrough:
            cols[name] = b.column(name).take(idx)
    return type(b).from_pydict(cols)


def _centroids_df(spark: SparkSession, rows: list[tuple[int, list[int]]]) -> DataFrame:
    """The ``(cluster, cv)`` centroid table, driver-local: every
    :func:`assign_cells` call collects it back, and a local frame does
    that without a Spark job."""
    return local_frame(
        spark,
        {"cluster": [c for c, _ in rows], "cv": [cv for _, cv in rows]},
        "cluster long, cv array<bigint>",
    )


def kmeans_assign(
    emb: DataFrame,
    k: int = 8,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = FIXED_POINT_SCALE,
    probe: int = 1,
) -> DataFrame:
    """Deterministic Lloyd's k-means; returns ``vec_id, cluster, dist``.

    ``probe > 1`` returns the top-``probe`` nearest centroids per vector
    under the FINAL centroids (IVF multi-probe — training rounds still
    assign rn=1, standard Lloyd's), up to ``probe`` rows per vector.

    Init: the vectors with the ``k`` smallest ids (deterministic, no RNG —
    the same retry-stability argument as every hash-based keep decision in
    this repo). Each of the ``iters`` rounds does one assignment scan and
    one integer mean update; the returned frame is the final assignment
    under the last centroids. ``dist`` is the exact integer squared-L2
    distance on the fixed-point grid.

    Scale: per round, one scan + one ``posexplode`` partial aggregation
    whose shuffle is O(k × dim × partitions); the k×dim centroid table is
    collected to the driver (constant size) and re-broadcast. Iterations
    are driver-side Python over *collected centroids only* — the corpus
    never leaves executors, and plans don't grow with iteration count
    because each round plans from the same base frame.
    """
    qdf = _quantized(emb, id_col=id_col, vec_col=vec_col, scale=scale)
    final = _fit_centroid_rows(qdf, k=k, iters=iters)
    return _assign_rows(qdf, final, probe=probe).select(
        "vec_id", "cluster", "dist"
    )


def _quantized(emb: DataFrame, *, id_col: str = "vec_id",
               vec_col: str = "embedding",
               scale: int = FIXED_POINT_SCALE,
               passthrough: tuple[str, ...] = ()) -> DataFrame:
    """(vec_id, qv[, *passthrough]) on the fixed-point grid,
    scan-parallelism recovered."""
    from mrjob_spark.operators.partitioning import parallelize_narrow_scan

    return parallelize_narrow_scan(
        emb.select(
            F.col(id_col).cast("long").alias("vec_id"),
            quantize_fixed_point(F.col(vec_col), scale).alias("qv"),
            *[F.col(c) for c in passthrough],
        )
    )


def _fit_centroid_rows(
    qdf: DataFrame, *, k: int, iters: int
) -> list[tuple[int, list[int]]]:
    """Lloyd's over a quantized frame → the final k-row centroid list
    (driver-resident, the bounded state the loop already held)."""
    init = (
        qdf.orderBy("vec_id")
        .limit(k)
        .select(F.col("vec_id").alias("cluster"), F.col("qv").alias("cv"))
    )
    centroids = [(int(r["cluster"]), list(r["cv"])) for r in init.collect()]

    for _ in range(iters):
        assigned = _assign_rows(qdf, centroids, probe=1, with_qv=True)
        sums = (
            assigned.select("cluster", F.posexplode("qv").alias("pos", "v"))
            .groupBy("cluster", "pos")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        by_cluster: dict[int, dict[int, int]] = {}
        for r in sums:
            # floor(sum/count + 0.5) in double — the identical IEEE ops the
            # SQL oracle's update CTE performs
            by_cluster.setdefault(int(r["cluster"]), {})[int(r["pos"])] = int(
                math.floor(r["s"] / r["n"] + 0.5)
            )
        centroids = [
            (c, [dims[p] for p in sorted(dims)])
            for c, dims in sorted(by_cluster.items())
        ]

    return centroids


def _fit_centroids(qdf: DataFrame, *, k: int, iters: int) -> DataFrame:
    """Lloyd's over a quantized frame → the final k-row centroid table."""
    return _centroids_df(
        qdf.sparkSession, _fit_centroid_rows(qdf, k=k, iters=iters)
    )


def kmeans_fit(
    emb: DataFrame,
    k: int = 8,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = FIXED_POINT_SCALE,
) -> DataFrame:
    """Train-only entry point: the final k-row ``(cluster, cv)`` centroid
    table from the same deterministic Lloyd's recipe as
    :func:`kmeans_assign` — for the asymmetric index/probe flows (st13
    ingest admission) where centroids are fitted ONCE on a seed corpus
    and arrivals assign against them forever after, exactly how a
    production IVF coarse quantizer is deployed."""
    return _fit_centroids(
        _quantized(emb, id_col=id_col, vec_col=vec_col, scale=scale),
        k=k, iters=iters,
    )


def assign_cells(
    emb: DataFrame,
    centroids: DataFrame,
    *,
    probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = FIXED_POINT_SCALE,
    passthrough: tuple[str, ...] = (),
    with_rank: bool = False,
) -> DataFrame:
    """Assign vectors to their top-``probe`` cells under a PRE-FITTED
    centroid table (collected to its bounded k×dim driver form, scored
    Arrow-vectorized in-task — the corpus never shuffles for
    assignment). Returns ``vec_id, cluster, dist`` plus, on request,
    the 1-based probe rank ``rn`` and any ``passthrough`` input columns
    carried through the pass (round 13: lets an index build emit
    ``(cluster, vec_id, embedding)`` in the one Arrow pass instead of
    shuffling the corpus to join the vector back on by id)."""
    qdf = _quantized(
        emb, id_col=id_col, vec_col=vec_col, scale=scale,
        passthrough=passthrough,
    )
    rows = [(int(r["cluster"]), list(r["cv"])) for r in centroids.collect()]
    out = _assign_rows(
        qdf, rows, probe=probe, passthrough=passthrough,
        with_rank=with_rank,
    )
    cols = ["vec_id", "cluster", "dist"]
    if with_rank:
        cols.append("rn")
    cols.extend(passthrough)
    return out.select(*cols)
