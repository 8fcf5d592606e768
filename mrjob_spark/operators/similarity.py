"""Similarity search over embedding columns (SURVEY.md §2.11 L3).

Three tiers:

* :func:`brute_force_topk` — exact: broadcast the (small) query set against
  the corpus; one pass, no shuffle of the corpus.
* :func:`bucketed_topk` — exact-within-bucket (IVF pattern with precomputed
  coarse assignment): compare only within the query's bucket.
* :func:`hyperplane_lsh_topk` — random-hyperplane LSH with OR-amplification:
  deterministic pseudo-random planes derived from md5, ``n_tables``
  independent sign-bucket tables, candidates = union of per-table co-bucket
  matches, exact re-rank. The scale path when no precomputed clustering
  exists.

All vector math is JVM-side (zip_with/aggregate) in double precision.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from mrjob_spark.functions.rounding import rnd
from pyspark.sql.window import Window

from mrjob_spark.functions.vectors import cosine_similarity
from mrjob_spark.sources import local_frame


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k neighbors per query vector by cosine similarity.

    The query set is broadcast, so the corpus is scanned once with no
    shuffle; the per-query top-k is a window over (query, rounded sim desc,
    id) — rank ties are impossible because the id breaks them.
    """
    from mrjob_spark.operators.partitioning import parallelize_narrow_scan

    q = queries.select(
        F.col(id_col).alias(query_id_col), F.col(vec_col).alias("__qvec")
    )
    # per-row cosine math dominates; enter at cluster parallelism even when
    # the corpus is a single unsplittable file (no-op otherwise)
    c = parallelize_narrow_scan(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col))
    )
    sim = rnd(cosine_similarity(F.col("__qvec"), F.col(vec_col)), 6)
    scored = (
        c.join(F.broadcast(q), F.col(query_id_col) != F.col("neighbor_id"))
        .select(query_id_col, "neighbor_id", sim.alias("cosine"))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    bucket_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k within the query's coarse bucket (IVF with nprobe=1):
    the join key includes the bucket, so candidate volume drops by the
    bucket count while the plan stays a plain equi-join."""
    q = queries.select(
        F.col(id_col).alias(query_id_col),
        F.col(bucket_col).alias("__qbucket"),
        F.col(vec_col).alias("__qvec"),
    )
    from mrjob_spark.operators.partitioning import parallelize_narrow_scan

    c = parallelize_narrow_scan(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(bucket_col), F.col(vec_col)
        )
    )
    sim = rnd(cosine_similarity(F.col("__qvec"), F.col(vec_col)), 6)
    scored = (
        c.join(
            F.broadcast(q),
            (F.col("__qbucket") == F.col(bucket_col))
            & (F.col(query_id_col) != F.col("neighbor_id")),
        )
        .select(query_id_col, "neighbor_id", sim.alias("cosine"))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def _hyperplane(dim: int, plane_idx: int) -> list[float]:
    """Deterministic pseudo-random ±1 hyperplane from md5 — reproducible
    across runs/engines without any RNG state."""
    import hashlib

    comps = []
    for d in range(dim):
        h = hashlib.md5(f"plane:{plane_idx}:{d}".encode()).hexdigest()
        comps.append(1.0 if int(h[:2], 16) % 2 == 0 else -1.0)
    return comps


def add_lsh_bucket(
    df: DataFrame, dim: int, n_planes: int = 8, vec_col: str = "embedding"
) -> DataFrame:
    """Append an integer sign-bucket column from ``n_planes`` random
    hyperplanes. Pure column math: each plane's dot product is a zip_with
    against an array literal; the bucket is the packed sign bits."""
    bucket = F.lit(0)
    for p in range(n_planes):
        plane = F.array(*[F.lit(x) for x in _hyperplane(dim, p)])
        dp = F.aggregate(
            F.zip_with(F.col(vec_col), plane, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(dp >= 0, F.lit(1 << p)).otherwise(F.lit(0))
    return df.withColumn("lsh_bucket", bucket.cast("int"))


def add_lsh_buckets(
    df: DataFrame,
    dim: int,
    n_planes: int = 4,
    n_tables: int = 8,
    vec_col: str = "embedding",
    out_col: str = "lsh_buckets",
) -> DataFrame:
    """Append an array of ``n_tables`` table-tagged sign-bucket ids.

    Table ``t`` uses plane indices ``t*n_planes .. (t+1)*n_planes-1`` from
    the same md5-derived plane stream as :func:`add_lsh_bucket` (table 0
    with the same n_planes reproduces the single-table bucket bits), and
    its bucket id carries ``t`` in the high bits so ids never collide
    across tables. Pure column math, no RNG state, no UDF.
    """
    buckets = []
    for t in range(n_tables):
        bucket = F.lit(t << n_planes)
        for p in range(n_planes):
            plane = F.array(*[F.lit(x) for x in _hyperplane(dim, t * n_planes + p)])
            dp = F.aggregate(
                F.zip_with(F.col(vec_col), plane, lambda x, y: x.cast("double") * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            bucket = bucket + F.when(dp >= 0, F.lit(1 << p)).otherwise(F.lit(0))
        buckets.append(bucket.cast("int"))
    return df.withColumn(out_col, F.array(*buckets))


def _drop_malformed_vec_rows(b, vec_name: str, dim: int):
    """Drop null / wrong-dimension vector rows from an Arrow batch
    (round 13, ADVICE r12): the kernels below reshape the flattened list
    column to ``(n, dim)``, so one malformed row used to raise
    ValueError and fail the whole job; such rows now simply produce no
    output, the same verdict the old expression forms' null scores got.
    Fast path (well-formed batch, the fixture contract) is a single
    vectorized length compare."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    lens = pc.list_value_length(b.column(vec_name)).to_numpy(
        zero_copy_only=False
    )
    lens = np.asarray(lens, dtype=np.float64)
    good = ~np.isnan(lens) & (lens == dim)
    if good.all():
        return b
    return b.take(pa.array(np.flatnonzero(good)))


def _lsh_bucket_rows(
    df: DataFrame,
    dim: int,
    n_planes: int,
    n_tables: int,
    id_col: str,
    vec_col: str,
    out_id: str,
    out_bucket: str,
) -> DataFrame:
    """Exploded ``(id, table-tagged sign-bucket)`` rows via ONE Arrow map
    stage (round 12) — the vectorized twin of :func:`add_lsh_buckets` +
    ``explode``. Each plane's dot product replays the fold's exact
    left-associative IEEE-754 order (one vectorized op per dimension over
    the whole batch, planes side by side), the sign test and bit packing
    are integer, and the md5-derived planes are the same
    :func:`_hyperplane` stream — so every bucket id is bit-identical to
    the column-math form (pinned by tests/test_operators.py). The
    expression form paid ``n_planes × n_tables`` interpreted
    HigherOrderFunction folds per row (CodegenFallback) — measured as the
    dominant cost of the LSH topk tier."""
    import numpy as np

    t_count = n_planes * n_tables
    pmat = np.array(
        [_hyperplane(dim, p) for p in range(t_count)], dtype=np.float64
    ).T  # (dim, planes)
    tags = np.array(
        [t << n_planes for t in range(n_tables)], dtype=np.int64
    )
    weights = np.array(
        [1 << p for p in range(n_planes)], dtype=np.int64
    )

    def _bucket(batches):
        import pyarrow as pa

        for b in batches:
            b = _drop_malformed_vec_rows(b, vec_col, dim)
            n = b.num_rows
            if n == 0:
                continue
            v = np.asarray(
                b.column(vec_col).flatten(), dtype=np.float64
            ).reshape(n, -1)
            ids = np.asarray(b.column(id_col), dtype=np.int64)
            acc = np.zeros((n, t_count))
            for i in range(v.shape[1]):  # the fold's sequential dim order
                acc = acc + v[:, i][:, None] * pmat[i, :]
            bits = (acc >= 0).astype(np.int64).reshape(n, n_tables, n_planes)
            buckets = (bits * weights[None, None, :]).sum(axis=2) + tags
            yield pa.record_batch(
                {
                    out_id: pa.array(
                        np.repeat(ids, n_tables), pa.int64()
                    ),
                    out_bucket: pa.array(
                        buckets.ravel().astype(np.int32), pa.int32()
                    ),
                }
            )

    return df.select(
        F.col(id_col).cast("long").alias(id_col), F.col(vec_col)
    ).mapInArrow(_bucket, schema=f"{out_id} long, {out_bucket} int")


def hyperplane_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    dim: int,
    n_planes: int = 4,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k via OR-amplified hyperplane LSH.

    CONTRACT (round 13, ADVICE r12): ``queries`` must be a row-subset of
    ``corpus`` — same ids bound to the same vectors. Scoring resolves
    BOTH pair sides by id against ``corpus`` (the
    :func:`arrow_cosine_verify` spine), so a query id absent from the
    corpus silently drops its pairs (inner-join semantics), and a query
    id bound to a DIFFERENT corpus vector would be scored against the
    corpus's copy. The single registry call site
    (``queries/llm.py:l3_knn_lsh``) passes ``corpus.limit(k)`` rows,
    which satisfies this by construction.

    Candidates are the union over ``n_tables`` independent hash tables of
    the query's co-bucket rows; per-candidate recall for a neighbor with
    per-bit collision probability p (= 1 - theta/pi) is
    ``1 - (1 - p^n_planes)^n_tables`` — a single table (the previous
    design) has recall p^n_planes, which for moderate-similarity corpora
    (cosine ~0.3, p ~0.6) is a few percent; eight 4-bit tables lift it to
    ~60-80% while still scanning only ~n_tables/2^n_planes of the corpus
    per query.

    Plan shape (round 12): both sides bucket in one Arrow map stage each
    (:func:`_lsh_bucket_rows` — bit-identical to the expression form),
    the per-table equi-join on the tagged bucket id produces candidate id
    pairs, a distinct dedupes the union, and the exact-cosine scores come
    from :func:`arrow_cosine_verify` (grouped on the neighbor side — the
    query side is k-bounded) before the top-k window. At 100 TB the
    bucket id is the shuffle/bucketing key; candidate volume per query
    drops exponentially with n_planes and the dedupe shuffles only id
    pairs.
    """
    c = _lsh_bucket_rows(
        corpus, dim, n_planes, n_tables, id_col, vec_col,
        "neighbor_id", "__bkt",
    )
    q = _lsh_bucket_rows(
        queries, dim, n_planes, n_tables, id_col, vec_col,
        query_id_col, "__qbkt",
    )
    cand = (
        c.join(
            F.broadcast(q),
            (F.col("__bkt") == F.col("__qbkt"))
            & (F.col(query_id_col) != F.col("neighbor_id")),
        )
        # a pair found in several tables appears once; cosine is
        # deterministic so the old min-agg == this distinct
        .select(query_id_col, "neighbor_id")
        .distinct()
    )
    scored = arrow_cosine_verify(
        cand,
        corpus,
        threshold=-2.0,  # keep every candidate; ranking cuts to top-k
        dim=dim,
        id_col=id_col,
        vec_col=vec_col,
        a_col=query_id_col,
        b_col="neighbor_id",
        group_on="b",
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def two_stage_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    coarse_k: int = 20,
    coarse_dims: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Two-stage retrieval: cheap cosine over the first ``coarse_dims``
    dimensions selects ``coarse_k`` candidates per query, then the exact
    full-dimension cosine re-ranks just those (the matryoshka /
    coarse-quantizer refinement pattern every production ANN stack uses).

    ONE corpus scan: the candidate rows carry their full vectors through
    the coarse top-k window, so the re-rank is in-row column math over
    coarse_k × queries rows — no second scan, no join back. At scale the
    exact-score work drops by corpus/coarse_k while the coarse pass does
    coarse_dims/dim of the full-scoring flops; both rankings round scores
    (portable grid) and tie-break on neighbor id, so the result is
    deterministic across engines and retries.
    """
    from mrjob_spark.operators.partitioning import parallelize_narrow_scan

    q = queries.select(
        F.col(id_col).alias(query_id_col), F.col(vec_col).alias("__qvec")
    )
    c = parallelize_narrow_scan(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col))
    )
    coarse = rnd(
        cosine_similarity(
            F.slice(F.col("__qvec"), 1, coarse_dims),
            F.slice(F.col(vec_col), 1, coarse_dims),
        ),
        6,
    )
    scored = c.join(F.broadcast(q), F.col(query_id_col) != F.col("neighbor_id")).select(
        query_id_col, "neighbor_id", "__qvec", F.col(vec_col), coarse.alias("coarse_cos")
    )
    wc = Window.partitionBy(query_id_col).orderBy(
        F.col("coarse_cos").desc(), F.col("neighbor_id")
    )
    cand = (
        scored.withColumn("__crn", F.row_number().over(wc))
        .where(F.col("__crn") <= coarse_k)
    )
    exact = rnd(cosine_similarity(F.col("__qvec"), F.col(vec_col)), 6)
    we = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        cand.select(query_id_col, "neighbor_id", exact.alias("cosine"))
        .withColumn("rank", F.row_number().over(we))
        .where(F.col("rank") <= k)
    )


def _pq_sq_l2(a, b):
    """Exact integer squared-L2 between two array<long> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _pq_unit_fixed_point(vec):
    """L2-normalize then quantize to the fixed-point grid: on the unit
    sphere, squared-L2 is monotone in cosine (d² = 2 − 2cos), so the
    integer ADC ranking agrees with the cosine ranking the re-rank and
    the audit use. Without this, a large-norm corpus vector scores far
    from everything and PQ recall craters on non-normalized fixtures.

    Zero-norm vectors map EXPLICITLY to null: a zero vector has no
    direction, so ``cosine_similarity`` is null for it too (same
    guard) — it can never rank as a neighbor on either path. The guard
    matters doubly under Spark 4's ANSI default, where the bare divide
    would RAISE ``DIVIDE_BY_ZERO`` instead of nulling."""
    from mrjob_spark.operators.clustering import quantize_fixed_point

    norm = F.sqrt(
        F.aggregate(
            F.transform(vec, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    unit = F.when(
        norm > 0, F.transform(vec, lambda x: x.cast("double") / norm)
    )  # no otherwise → null, matching cosine_similarity on zero vectors
    return quantize_fixed_point(unit)


def _pq_subvectors(df: DataFrame, id_col: str, vec_col: str,
                   m: int, d_sub: int) -> DataFrame:
    """(id, sub, sv): each unit-normalized fixed-point vector cut into
    ``m`` disjoint ``d_sub``-dim subvectors, in-row."""
    qv = _pq_unit_fixed_point(F.col(vec_col))
    return df.select(
        F.col(id_col).alias("__pq_id"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda s: F.slice(qv, s * d_sub + 1, d_sub),
            )
        ).alias("sub", "sv"),
    )


def _pq_corpus_pass(
    c: DataFrame,
    codebook_rows: list[tuple[int, int, list[int]]],
    m: int,
    d_sub: int,
    vec_col: str,
    emit: str,
) -> DataFrame:
    """One Arrow pass over the corpus for the PQ index build (round 12):
    unit-normalize + fixed-point quantize each vector and assign every
    subvector its nearest codeword against the DRIVER-RESIDENT codebook —
    ``emit='codes'`` yields the (id, sub, code) code table, ``emit='sums'``
    yields per-batch partial integer sums (sub, code, pos, s, n) for the
    training mean update (finished by a tiny groupBy upstream).

    Replaces: the m-way subvector explode, the broadcast-codebook join,
    512k interpreted ``zip_with``/``aggregate`` folds per corpus scan, and
    (for training) a subs⋈assigned re-join + posexplode — measured as the
    dominant cost of both PQ tiers. Arithmetic is replicated EXACTLY:
    the norm accumulates ``acc + x²`` left-associative in double
    (float→double widening exact), the unit division and
    ``floor(u*1000+0.5)`` are elementwise IEEE-754, and codeword
    distances are exact int64 ``|q|²+|c|²−2q·c`` with first-min =
    lowest-code tie-break (the ``ORDER BY dist, code`` rule). Zero-norm
    vectors drop (they have no direction — the same verdict the null
    guard produces; fixtures contain none). The codebook is closure
    state: m × k × d_sub ints, the bounded driver payload the trainer
    already collects."""
    import numpy as np

    rows = sorted(codebook_rows)
    k = max(code for _, code, _ in rows) + 1
    # codes can be sparse after a training round (a codeword that attracts
    # no points is dropped), so keep the REAL code ids per subspace
    code_ids = [
        np.array(
            [code for s, code, _ in rows if s == sub], dtype=np.int64
        )
        for sub in range(m)
    ]
    cmats = [
        np.array(
            [cv for s, _, cv in rows if s == sub], dtype=np.int64
        )
        for sub in range(m)
    ]
    ccs = [(cm * cm).sum(axis=1) for cm in cmats]
    schema = (
        "neighbor_id long, sub int, code int"
        if emit == "codes"
        else "sub int, code int, pos int, s long, n long"
    )

    def _pass(batches):
        import pyarrow as pa

        for b in batches:
            b = _drop_malformed_vec_rows(b, vec_col, m * d_sub)
            n = b.num_rows
            if n == 0:
                continue
            v = np.asarray(
                b.column(vec_col).flatten(), dtype=np.float64
            ).reshape(n, -1)
            ids = np.asarray(b.column("neighbor_id"), dtype=np.int64)
            # l2 norm in the fold's exact order: acc + x*x, left-assoc
            nrm = np.zeros(n)
            for i in range(v.shape[1]):
                nrm = nrm + v[:, i] * v[:, i]
            nrm = np.sqrt(nrm)
            ok = nrm > 0
            if not ok.all():
                v, ids, nrm = v[ok], ids[ok], nrm[ok]
                n = ids.size
                if n == 0:
                    continue
            q = np.floor((v / nrm[:, None]) * 1000.0 + 0.5).astype(np.int64)
            codes = np.empty((n, m), dtype=np.int64)
            for s in range(m):
                qs = q[:, s * d_sub:(s + 1) * d_sub]
                qq = (qs * qs).sum(axis=1)
                dists = qq[:, None] + ccs[s][None, :] - 2 * (qs @ cmats[s].T)
                codes[:, s] = code_ids[s][np.argmin(dists, axis=1)]
            if emit == "codes":
                yield pa.record_batch(
                    {
                        "neighbor_id": pa.array(
                            np.repeat(ids, m), pa.int64()
                        ),
                        "sub": pa.array(
                            np.tile(np.arange(m, dtype=np.int32), n),
                            pa.int32(),
                        ),
                        "code": pa.array(
                            codes.ravel().astype(np.int32), pa.int32()
                        ),
                    }
                )
            else:
                subs_out, codes_out, pos_out, s_out, n_out = [], [], [], [], []
                for s in range(m):
                    qs = q[:, s * d_sub:(s + 1) * d_sub]
                    cnt = np.bincount(codes[:, s], minlength=k)
                    for p in range(d_sub):
                        # integer-valued float sums are exact far below
                        # 2^53, matching the JVM's long partial sums
                        tot = np.bincount(
                            codes[:, s], weights=qs[:, p], minlength=k
                        )
                        live = cnt > 0
                        cs = np.nonzero(live)[0]
                        subs_out.append(np.full(cs.size, s, dtype=np.int32))
                        codes_out.append(cs.astype(np.int32))
                        pos_out.append(np.full(cs.size, p, dtype=np.int32))
                        s_out.append(tot[live].astype(np.int64))
                        n_out.append(cnt[live].astype(np.int64))
                yield pa.record_batch(
                    {
                        "sub": pa.array(np.concatenate(subs_out), pa.int32()),
                        "code": pa.array(np.concatenate(codes_out), pa.int32()),
                        "pos": pa.array(np.concatenate(pos_out), pa.int32()),
                        "s": pa.array(np.concatenate(s_out), pa.int64()),
                        "n": pa.array(np.concatenate(n_out), pa.int64()),
                    }
                )

    return c.select(
        F.col("neighbor_id"), F.col(vec_col)
    ).mapInArrow(_pass, schema=schema)


def product_quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    dim: int,
    m: int = 4,
    codebook_k: int = 8,
    candidates: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011): each vector is cut
    into ``m`` subvectors, each subspace gets its own ``codebook_k``-word
    codebook (deterministic fixed-point Lloyd's, one refinement round,
    smallest-id init — the clustering.py recipe), and the corpus is
    stored as ``m`` one-byte codes per vector. Queries score the corpus
    by ASYMMETRIC distance: the query's exact subvector-to-codeword
    distances form an ``m × codebook_k`` lookup table, and a corpus
    vector's approximate distance is ``m`` table lookups summed — no
    vector math per corpus row at query time. The ``candidates`` best
    per query re-rank with the exact full-dimension cosine.

    Why this is a 100 TB tier of its own: IVF/LSH prune WHICH vectors
    get scored; PQ shrinks WHAT a scored vector costs — 64 float dims
    (256 B) become ``m`` bytes (64× less memory traffic), which is what
    lets a candidate set live in RAM at billions of vectors. The codes
    table build is two corpus scans (train round + encode), each a
    broadcast-codebook map + partial-agg min; query-time cost is a
    map-side join of codes against the broadcast ADC table, one
    per-query ranking on a precomputed scalar, then exact re-rank on
    ``candidates`` rows fetched by id.

    Everything is deterministic (fixed-point integers, smallest-id
    init, (dist, code) tie-breaks), so recall against the exact top-k
    is a fixed number per fixture — the query layer audits it in-query
    the way ``l3_knn_lsh`` does.
    """
    from mrjob_spark.operators.partitioning import parallelize_narrow_scan

    d_sub = dim // m
    assert d_sub * m == dim, "dim must divide evenly into m subspaces"

    c = parallelize_narrow_scan(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col))
    )
    q = queries.select(
        F.col(id_col).alias(query_id_col), F.col(vec_col).alias("__qvec")
    )
    codes, adc = _pq_index(c, q, m, d_sub, codebook_k, vec_col, query_id_col)

    # --- approximate distances: m lookups summed per (query, vector) ---
    approx = (
        codes.join(F.broadcast(adc), ["sub", "code"])
        .where(F.col(query_id_col) != F.col("neighbor_id"))
        .groupBy(query_id_col, "neighbor_id")
        .agg(F.sum("pdist").alias("adist"))
    )
    wc = Window.partitionBy(query_id_col).orderBy(
        F.col("adist").asc(), F.col("neighbor_id")
    )
    cand = (
        approx.withColumn("__crn", F.row_number().over(wc))
        .where(F.col("__crn") <= candidates)
        .select(query_id_col, "neighbor_id")
    )
    return _pq_rerank(c, q, cand, k, query_id_col, vec_col)


def _pq_index(c, q, m, d_sub, codebook_k, vec_col, query_id_col):
    """Train the per-subspace codebooks, encode the corpus, and build the
    per-query ADC lookup tables — the shared index core of
    :func:`product_quantized_topk` and :func:`ivf_product_quantized_topk`.
    Returns ``(codes, adc)``: ``codes`` = (neighbor_id, sub, code), m
    one-byte codes per corpus vector; ``adc`` = (query, sub, code, pdist),
    the m × codebook_k exact subvector-to-codeword distances per query.

    Round 12: both corpus scans (train-round partial sums and the final
    encode) run through :func:`_pq_corpus_pass` — one Arrow map stage
    each, exact arithmetic, no subvector explode/join — replacing the
    measured-dominant interpreted assign+rejoin shape. The query-side ADC
    table (m × codebook_k rows per query) stays JVM: it is
    queries-bounded, not corpus-bounded."""
    # --- train: smallest-id init, one integer-mean refinement round ----
    spark = c.sparkSession
    seed_rows = (
        c.orderBy("neighbor_id")
        .limit(codebook_k)
        .select(_pq_unit_fixed_point(F.col(vec_col)).alias("qv"))
        .collect()
    )
    codebook = [
        (s, code, list(r["qv"])[s * d_sub:(s + 1) * d_sub])
        for s in range(m)
        for code, r in enumerate(seed_rows)
    ]
    sums = (
        _pq_corpus_pass(c, codebook, m, d_sub, vec_col, emit="sums")
        .groupBy("sub", "code", "pos")
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
        .collect()
    )
    import math

    means: dict = {}
    for r in sums:
        # floor(sum/count + 0.5): the identical portable rounding the
        # k-means oracle uses (clustering.py)
        means.setdefault((int(r["sub"]), int(r["code"])), {})[
            int(r["pos"])] = int(math.floor(r["s"] / r["n"] + 0.5))
    codebook = [
        (s, code, [dims[p] for p in sorted(dims)])
        for (s, code), dims in sorted(means.items())
    ]
    final_cb = local_frame(spark, {
        "sub": [s for s, _, _ in codebook],
        "code": [code for _, code, _ in codebook],
        "cw": [cw for _, _, cw in codebook],
    }, "sub int, code int, cw array<bigint>")

    # --- encode the corpus: m small-int codes per vector ---------------
    codes = _pq_corpus_pass(c, codebook, m, d_sub, vec_col, emit="codes")

    # --- ADC lookup tables per query (m × codebook_k rows each) --------
    q_subs = _pq_subvectors(q, query_id_col, "__qvec", m, d_sub)
    adc = (
        q_subs.join(F.broadcast(final_cb), "sub")
        .select(
            F.col("__pq_id").alias(query_id_col), "sub", "code",
            _pq_sq_l2(F.col("sv"), F.col("cw")).alias("pdist"),
        )
    )
    return codes, adc


def _pq_rerank(c, q, cand, k, query_id_col, vec_col):
    """Exact-cosine re-rank of the (query, neighbor) candidate id pairs —
    the tail stage shared by both PQ entry points."""
    exact = rnd(cosine_similarity(F.col("__qvec"), F.col(vec_col)), 6)
    we = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        c.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(q), query_id_col)
        .select(query_id_col, "neighbor_id", exact.alias("cosine"))
        .withColumn("rank", F.row_number().over(we))
        .where(F.col("rank") <= k)
    )


def ivf_product_quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    dim: int,
    n_cells: int = 16,
    probe: int = 4,
    m: int = 4,
    codebook_k: int = 8,
    candidates: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVFADC — the composition FAISS ships as its billion-scale default
    (Jégou et al. 2011 §III): an IVF coarse quantizer prunes WHICH
    vectors get scored (each query reads only its ``probe`` nearest of
    ``n_cells`` k-means cells) and PQ shrinks WHAT scoring costs (the
    probed vectors are ranked by their m one-byte codes via the ADC
    lookup table, not their float dims). The two registered single-tier
    operators measure each lever alone; this is the production shape
    where both multiply: query-time work ≈ (probe / n_cells) × corpus ×
    m byte-lookups, so at 10^9 vectors a query touches ~probe cell
    inverted lists whose codes fit in RAM.

    ``queries`` must be drawn from the corpus (id subset) — the same
    contract as the IVF near-dup tiers: the multi-probe cell assignment
    comes from the single corpus-wide ``kmeans_assign`` run, so corpus
    cells and query probes share one clustering (one scan per Lloyd
    round, k×dim driver state).

    Deterministic end-to-end (fixed-point k-means, smallest-id inits,
    (dist, id) tie-breaks), so recall vs the exact top-k is a fixed
    per-fixture number the query layer audits in-query."""
    from mrjob_spark.operators.clustering import kmeans_assign
    from mrjob_spark.operators.partitioning import parallelize_narrow_scan

    d_sub = dim // m
    assert d_sub * m == dim, "dim must divide evenly into m subspaces"

    # --- IVF: one k-means over the corpus; rank-1 row = cell membership,
    # the query rows' full top-``probe`` = the cells each query reads
    multi = kmeans_assign(
        corpus, k=n_cells, iters=1, probe=probe, id_col=id_col,
        vec_col=vec_col,
    )
    cells = (
        multi.groupBy("vec_id")
        .agg(F.min(F.struct("dist", "cluster")).alias("dc"))
        .select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("dc.cluster").alias("cluster"),
        )
    )
    qprobe = multi.join(
        queries.select(F.col(id_col).alias("vec_id")), "vec_id"
    ).select(F.col("vec_id").alias(query_id_col), "cluster")
    # candidate pairs: every corpus vector in a probed cell. NOT
    # broadcast: per-query candidates are (probe / n_cells) × n and grow
    # with the corpus — AQE picks the join strategy from actual size.
    cand_pairs = qprobe.join(cells, "cluster").where(
        F.col(query_id_col) != F.col("neighbor_id")
    ).select(query_id_col, "neighbor_id")

    c = parallelize_narrow_scan(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col))
    )
    q = queries.select(
        F.col(id_col).alias(query_id_col), F.col(vec_col).alias("__qvec")
    )
    codes, adc = _pq_index(c, q, m, d_sub, codebook_k, vec_col, query_id_col)

    # --- ADC over the PROBED pairs only (the IVF prune applied before
    # any distance math), then the usual candidate top-N + exact re-rank
    approx = (
        codes.join(cand_pairs, "neighbor_id")
        .join(F.broadcast(adc), [query_id_col, "sub", "code"])
        .groupBy(query_id_col, "neighbor_id")
        .agg(F.sum("pdist").alias("adist"))
    )
    wc = Window.partitionBy(query_id_col).orderBy(
        F.col("adist").asc(), F.col("neighbor_id")
    )
    cand = (
        approx.withColumn("__crn", F.row_number().over(wc))
        .where(F.col("__crn") <= candidates)
        .select(query_id_col, "neighbor_id")
    )
    return _pq_rerank(c, q, cand, k, query_id_col, vec_col)


def arrow_cosine_verify(
    cand: DataFrame,
    emb: DataFrame,
    threshold: float,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    a_col: str = "id_a",
    b_col: str = "id_b",
    groups: int | None = None,
    group_on: str = "a",
) -> DataFrame:
    """Exact-cosine verification of candidate id pairs, Arrow-vectorized —
    the shared tail stage of every bucketed near-dup tier.

    Numerically IDENTICAL to the ``zip_with``/``aggregate`` fold it
    replaces: per pair, products are ``float→double`` widened (exact) and
    accumulated left-associative in double — here as one vectorized numpy
    op per dimension over a whole Arrow batch (``acc = acc + A[:, i] *
    B[:, i]``), so each row sees the same IEEE-754 operation sequence as
    the sequential fold while a task evaluates ``dim`` column ops instead
    of ``pairs × dim`` interpreted lambda steps. Norms use the same
    per-dimension ``acc + x*x`` order as ``l2_norm``; rounding is the
    portable ``floor(c*1e6+0.5)/1e6`` grid (``rnd``). Bit-identity with
    the fold is pinned by tests/test_operators.py.

    Why not the join-then-score shape: attaching both vectors to every
    candidate pair ships ``pairs × 2 × dim`` floats through the join and
    then across the Arrow boundary, and the per-pair fold is interpreted
    (HigherOrderFunction = CodegenFallback — measured ~8× slower than
    this path on the 1.4M-pair tight tier). Here candidate pairs shuffle
    ONCE on a deterministic group key (``pmod(xxhash64(id_a), P)`` — no
    RNG, retry-stable), each group is joined with only the DISTINCT
    vectors its pairs reference (≤ 2 ids per pair, typically far fewer),
    and the verify math runs vectorized per group. Bytes moved:
    O(pairs × 16 B) + O(distinct ids per group × dim) — strictly less
    than the join shape's O(pairs × 2 × dim).

    Edge semantics (fixtures contain none of these): pairs whose cosine
    is NaN (zero-norm or NaN input) are dropped, matching the null
    verdict of ``cosine_similarity``'s zero-norm guard; ids missing from
    ``emb`` drop their pairs like the inner join they replace, and so do
    null vectors and vectors whose length is not ``dim`` (the caller's
    embedding dimension — authoritative, never inferred from the data).
    """
    import numpy as np
    import pyarrow as pa

    spark = cand.sparkSession
    p = groups or spark.sparkContext.defaultParallelism
    # group on whichever pair side spreads (a near-dup self-join spreads on
    # either; a few-queries topk must group on the corpus side)
    gkey = "id_a" if group_on == "a" else "id_b"
    cand_g = cand.select(
        F.col(a_col).alias("id_a"), F.col(b_col).alias("id_b")
    ).withColumn("_gid", F.pmod(F.xxhash64(gkey), F.lit(p)).cast("int"))
    # only the vectors each group actually references travel to it: the
    # distinct (group, id) spine is pair-bounded, so no full replication
    need = (
        cand_g.select(
            F.col("_gid").alias("_vgid"),
            F.explode(F.array("id_a", "id_b")).alias("_vid"),
        ).distinct()
    )
    vec_g = need.join(
        emb.select(
            F.col(id_col).cast("long").alias("_vid"), F.col(vec_col).alias("_vec")
        ),
        "_vid",
    )
    thr = float(threshold)

    def _score(cand_tbl: "pa.Table", vec_tbl: "pa.Table") -> "pa.Table":
        empty = pa.table(
            {
                "id_a": pa.array([], pa.int64()),
                "id_b": pa.array([], pa.int64()),
                "cosine": pa.array([], pa.float64()),
            }
        )
        if cand_tbl.num_rows == 0:
            return empty
        # malformed vectors drop only their own pairs, exactly like ids
        # missing from `emb`
        vec_tbl = _drop_malformed_vec_rows(vec_tbl, "_vec", dim)
        if vec_tbl.num_rows == 0:
            return empty
        ids = np.asarray(vec_tbl.column("_vid"), dtype=np.int64)
        m = np.asarray(
            vec_tbl.column("_vec").combine_chunks().flatten(), dtype=np.float64
        ).reshape(ids.size, dim)
        order = np.argsort(ids, kind="stable")
        ids, m = ids[order], m[order]
        # l2_norm's exact order: acc + x*x, left-assoc per dimension
        nrm = np.zeros(ids.size)
        for i in range(m.shape[1]):
            nrm = nrm + m[:, i] * m[:, i]
        nrm = np.sqrt(nrm)
        ia = np.asarray(cand_tbl.column("id_a"), dtype=np.int64)
        ib = np.asarray(cand_tbl.column("id_b"), dtype=np.int64)
        ja = np.searchsorted(ids, ia)
        jb = np.searchsorted(ids, ib)
        ja = np.clip(ja, 0, ids.size - 1)
        jb = np.clip(jb, 0, ids.size - 1)
        ok = (ids[ja] == ia) & (ids[jb] == ib)  # inner-join semantics
        if not ok.all():
            ia, ib, ja, jb = ia[ok], ib[ok], ja[ok], jb[ok]
            if ia.size == 0:
                return empty
        a, b = m[ja], m[jb]
        # dot's exact order: acc + a_i*b_i, left-assoc per dimension
        acc = np.zeros(ia.size)
        for i in range(a.shape[1]):
            acc = acc + a[:, i] * b[:, i]
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = acc / (nrm[ja] * nrm[jb])
            c6 = np.floor(cos * 1e6 + 0.5) / 1e6
        keep = c6 >= thr  # NaN compares false: zero-norm pairs drop
        return pa.table(
            {
                "id_a": pa.array(ia[keep], pa.int64()),
                "id_b": pa.array(ib[keep], pa.int64()),
                "cosine": pa.array(c6[keep], pa.float64()),
            }
        )

    out = (
        cand_g.groupBy("_gid")
        .cogroup(vec_g.groupBy("_vgid"))
        .applyInArrow(_score, schema="id_a long, id_b long, cosine double")
    )
    return out.select(
        F.col("id_a").alias(a_col), F.col("id_b").alias(b_col), "cosine"
    )


def signbit_band_pairs(
    df: DataFrame,
    threshold: float,
    dim: int,
    n_planes: int = 8,
    n_tables: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ALL near-dup pairs above a (high) cosine ``threshold`` via banded
    sign-bit LSH — the embedding analogue of MinHash banding, for the
    regime where near-duplicates actually live (cosine ≥ ~0.8).

    Each of ``n_tables`` bands packs ``n_planes`` hyperplane sign bits into
    a bucket id (:func:`add_lsh_buckets`, deterministic md5 planes, pure
    column math); candidates are pairs sharing ANY band bucket
    (OR-amplification), then an exact-cosine verify join keeps precision
    exact. Two vectors at angle θ agree per bit with p = 1 - θ/π, so a
    band matches with p^n_planes and a true pair is missed by all bands
    with (1 - p^n_planes)^n_tables — at cosine 0.9 (p ≈ 0.856,
    band-match 0.288) the default 8-bit × 12-band config retains
    1 - 0.712¹² ≈ 0.98 of true pairs, while a random near-orthogonal
    pair (p ≈ 0.5) survives a band with 2⁻⁸, keeping candidate volume
    ~n_tables/256 ≈ 5% of the pair space and, on clustered real corpora,
    bounded per bucket. Scale shape: one scan to bucket,
    an explode to (band, bucket) keys, a self-equi-join on the compound
    key (shuffle on bucket id — no broadcast, no cartesian), distinct,
    then the verify join touches candidates only.

    The tight-radius fixture query (``l2_embedding_neardup_tight``) uses
    data-adapted IVF cells instead because the fixture family's closest
    pairs sit at cosine ≤ 0.68 where oblivious hyperplanes cannot
    separate (see its docstring); this operator is the production answer
    ABOVE that, unit-tested on planted ≥ 0.9 pairs
    (tests/test_operators.py::test_signbit_band_pairs_planted_neardups).
    """
    bucketed = add_lsh_buckets(
        df.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")),
        dim=dim,
        n_planes=n_planes,
        n_tables=n_tables,
    ).select("vec_id", "embedding", F.explode("lsh_buckets").alias("__band_bucket"))
    left = bucketed.select(
        F.col("vec_id").alias("id_a"), F.col("__band_bucket").alias("__ba")
    )
    right = bucketed.select(
        F.col("vec_id").alias("id_b"), F.col("__band_bucket").alias("__bb")
    )
    cand = (
        left.join(
            right,
            (F.col("__ba") == F.col("__bb")) & (F.col("id_a") < F.col("id_b")),
        )
        .select("id_a", "id_b")
        .distinct()
    )
    ea = df.select(
        F.col(id_col).alias("__ia"), F.col(vec_col).alias("__va")
    )
    eb = df.select(
        F.col(id_col).alias("__ib"), F.col(vec_col).alias("__vb")
    )
    cosine = rnd(cosine_similarity(F.col("__va"), F.col("__vb")), 6)
    return (
        cand.join(ea, F.col("id_a") == F.col("__ia"))
        .join(eb, F.col("id_b") == F.col("__ib"))
        .select("id_a", "id_b", cosine.alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )
