"""Streaming operators that build identical plans over batch and streaming
DataFrames (SURVEY.md §2.10).

Scale notes (100 TB / unbounded-stream design):

- Windowed aggregation shuffles once on (window, *keys) with partial
  aggregation map-side — same shape as any groupBy, so it scales like A1.
- Watermarks bound state: without one, a streaming group-agg or dedup keeps
  state forever. Every streaming wrapper here therefore takes a watermark
  and applies it ONLY on streaming inputs (batch inputs are complete by
  definition; ``withWatermark`` on them is a no-op Spark warns about).
- ``dropDuplicatesWithinWatermark`` keeps at most one state row per key per
  watermark horizon — the unbounded-stream twin of L1 exact dedup.
"""

from __future__ import annotations

from contextlib import contextmanager

from collections.abc import Sequence

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_watermark(df: DataFrame, ts_col: str, delay: str) -> DataFrame:
    """Apply an event-time watermark on streaming input; no-op on batch.

    Batch-equivalence contract: a batch DataFrame is a complete, closed
    input — no row can be "late" — so the batch twin of every watermarked
    plan is simply the un-watermarked plan. Late-data *dropping* is
    micro-batch-order-dependent and is exercised by
    ``tests/test_streaming.py::test_watermark_drops_late_rows``.
    """
    if df.isStreaming:
        return df.withWatermark(ts_col, delay)
    return df


def tumbling_window_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    keys: Sequence[str],
    aggs: Sequence[Column],
    *,
    watermark: str | None = None,
) -> DataFrame:
    """Fixed, non-overlapping event-time windows (ST-tumbling).

    Returns one row per (window_start, *keys) with ``wstart`` as the first
    column, matching the batch query ``st1_tumbling_window``.
    """
    if watermark:
        df = with_watermark(df, ts_col, watermark)
    return (
        df.groupBy(F.window(ts_col, duration).alias("w"), *keys)
        .agg(*aggs)
        .withColumn("wstart", F.col("w.start"))
        .drop("w")
    )


def sliding_window_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    slide: str,
    keys: Sequence[str],
    aggs: Sequence[Column],
    *,
    watermark: str | None = None,
) -> DataFrame:
    """Overlapping windows of ``duration`` every ``slide`` (ST-sliding).

    Each event lands in duration/slide windows; Spark expands the windows
    map-side, so the shuffle carries the fan-out factor — keep
    duration/slide small (2 here) at scale.
    """
    if watermark:
        df = with_watermark(df, ts_col, watermark)
    return (
        df.groupBy(F.window(ts_col, duration, slide).alias("w"), *keys)
        .agg(*aggs)
        .withColumn("wstart", F.col("w.start"))
        .drop("w")
    )


def session_window_agg(
    df: DataFrame,
    ts_col: str,
    gap: str,
    keys: Sequence[str],
    aggs: Sequence[Column],
    *,
    watermark: str | None = None,
) -> DataFrame:
    """Sessions closed by ``gap`` of inactivity per key (ST-session).

    ``F.session_window`` merges overlapping per-event windows into maximal
    sessions — identical semantics to the lag-gap + running-sum batch
    formulation in ``st3_sessionization`` (queries/windows.py), which is the
    oracle-checked twin. Streaming requires a watermark so session state can
    be finalized and evicted.
    """
    if watermark:
        df = with_watermark(df, ts_col, watermark)
    return (
        df.groupBy(F.session_window(ts_col, gap).alias("w"), *keys)
        .agg(*aggs)
        .withColumn("session_start", F.col("w.start"))
        .drop("w")
    )


def stateful_running_totals(
    df: DataFrame,
    key_col: str,
    value_col: str,
) -> DataFrame:
    """Custom stateful operator (ST-custom): per-key running ``(n, total)``
    maintained ACROSS micro-batches via ``applyInPandasWithState`` — the
    escape hatch for stateful logic the built-in windowed aggregates can't
    express (per-key model state, custom eviction, cross-batch counters).

    Emits one row per key per micro-batch that touched it, carrying the
    cumulative count and sum so far — the streaming twin of a grouped
    aggregate, except the intermediate state is USER-owned and updatable
    with arbitrary Python. State is one small tuple per key (bounded by
    key cardinality, not stream length); rows cross into Python in Arrow
    batches grouped by key.

    Batch twin: a complete input's final state is just the grouped
    aggregate, so the batch path is ``groupBy(key).agg(count, sum)`` — and
    with deterministic per-key totals, the pair is oracle-checkable.
    """
    out_schema = f"{key_col} string, n bigint, total double"

    if not df.isStreaming:
        from mrjob_spark.functions.rounding import dsum

        # decimal accumulation: order-independent, so the batch twin is
        # bit-stable for the oracle (streaming per-batch float sums are
        # checked behaviorally, not bit-wise)
        return df.groupBy(key_col).agg(
            F.count(F.lit(1)).alias("n"),
            dsum(value_col).alias("total"),
        )

    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    state_schema = "n bigint, total double"

    def update(key, pdf_iter, state):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf[value_col].astype(float).sum())
        state.update((n, total))
        yield pd.DataFrame({key_col: [key[0]], "n": [n], "total": [total]})

    return (
        df.select(F.col(key_col).cast("string").alias(key_col), value_col)
        .groupBy(key_col)
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_dedup(
    df: DataFrame,
    keys: Sequence[str],
    *,
    ts_col: str | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Stateful exact dedup on ``keys`` (ST-dedup; streaming twin of L1).

    Streaming: ``dropDuplicatesWithinWatermark`` keeps the FIRST-ARRIVING
    row per key and expires key state once the watermark passes it —
    bounded state on an unbounded stream. Batch: plain ``dropDuplicates``
    (arbitrary-but-single row per key; callers needing a deterministic
    representative should aggregate with min_by, as
    ``st5_stream_dedup`` does for the oracle check).
    """
    if df.isStreaming:
        if not (ts_col and watermark):
            raise ValueError("streaming dedup requires ts_col and watermark")
        return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            list(keys)
        )
    return df.dropDuplicates(list(keys))


def incremental_ingest_dedup(
    stream_df: DataFrame,
    history_hashes: DataFrame,
    text_col: str,
    *,
    ts_col: str | None = None,
    watermark: str | None = None,
    broadcast_history: bool = False,
) -> DataFrame:
    """Admission-control dedup for a live ingest stream (ST × L1): pass
    through only documents that are new against BOTH the already-ingested
    corpus and the stream itself — the streaming twin of
    ``operators/dedup.py:incremental_exact_dedup``.

    Order of operations is the state story: the content hash is computed
    in-stream, history rejects ride a stream-static **left_anti** join
    FIRST (stateless per-row — the static side is re-evaluated each
    micro-batch, so a compaction that appends newly-ingested hashes is
    picked up on the next trigger without a restart), and only survivors
    enter ``dropDuplicatesWithinWatermark`` — history duplicates never
    occupy dedup state, which keeps the state store bounded by the
    *novel*-hash rate per watermark horizon, not the ingest rate.

    ``broadcast_history=False`` by default: at 100 TB the history hash
    index is corpus-sized, so the anti join must be free to plan as a
    shuffled join of the (small) micro-batch against the (bucketed/
    pre-partitioned) index rather than force-collecting the corpus
    driver-side; pass True only for genuinely small indexes.  Runs
    unchanged over a batch DataFrame (plain anti join + dropDuplicates),
    which is how the oracle twin verifies it.
    """
    from mrjob_spark.functions.text import normalize_text

    hashed = stream_df.withColumn(
        "content_hash", F.md5(normalize_text(F.col(text_col)))
    )
    hist = (
        F.broadcast(history_hashes) if broadcast_history else history_hashes
    )
    novel = hashed.join(hist, "content_hash", "left_anti")
    return stream_dedup(
        novel, ["content_hash"], ts_col=ts_col, watermark=watermark
    )


#: arrivals per micro-batch up to which both ingest bodies decide
#: admission on the driver: the near-dup path's measured crossover
#: (between 2,000 and 4,000 arrivals; SCALE.md §5 has the table)
_DRIVER_ARRIVALS = 2_000


def neardup_ingest_foreach_batch(
    index_dir: str,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """``foreachBatch`` body for LSH NEAR-dup admission ingest (ST × L2)
    — the band-index composition of st11's exact-hash admission: each
    micro-batch's documents are admitted against the corpus band index
    with ``operators/dedup.py:lsh_band_admission``'s rule (any shared
    band bucket → reject), verdicts land in ``out_dir``, and ALL of the
    batch's band rows — rejected arrivals included, since a seen
    near-dup family still occupies its buckets — are appended to the
    index so later micro-batches observe them.

    Why the index is a parquet table and not the state store: at corpus
    scale the band index IS corpus-sized (NUM_BANDS rows per ingested
    document) — a state store holding it would replicate the corpus into
    executor state. Replayed batches (failure recovery) re-append their
    bands, which is harmless by construction: admission reads the index
    as a SET, so duplicate band rows cannot change any verdict, and the
    verdict sink partition-overwrites by batch_id (idempotent,
    streaming/io.py).

    Two regimes, picked per micro-batch by one bounded collect of its
    documents (``sources.collect_bounded``, :data:`_DRIVER_ARRIVALS`):

    - **Driver** (the common small micro-batch). The collected
      documents' band rows come from ``dedup.minhash_arrow`` on the
      collected table itself — the one hashing kernel of both regimes
      — with no Spark job. The index is probed ONCE with a pushed-down
      ``band_hash`` IN-list read, the verdicts are decided in Python
      (``dedup.lsh_admission_local``), and the verdicts and the index
      append are each written from one local frame: four Spark jobs
      per micro-batch instead of fifteen.
    - **Distributed** (above the bound). The band rows are computed and
      persisted across their two consumers,
      ``dedup.lsh_admission_from_bands`` (one index SCAN, never a
      shuffle — it probes the index with a broadcast semi join) and the
      index append, and released with the batch's scope.
    """
    from mrjob_spark.materialize import materialize, scope
    from mrjob_spark.operators.dedup import (
        lsh_admission_from_bands,
        lsh_admission_local,
        minhash_arrow,
        minhash_band_rows,
    )
    from mrjob_spark.sources import collect_bounded, local_frame

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        docs = batch_df.select(id_col, text_col)
        hist = _read_index(spark, index_dir, "band_idx int, band_hash string")
        # bound the documents, not the band rows (collect_bounded's
        # first hazard)
        local = collect_bounded(docs, _DRIVER_ARRIVALS)
        # one scope per micro-batch: the band rows and the operator's
        # `firsts` aggregate are freed when the batch ends — otherwise a
        # long-running stream strands entries PER MICRO-BATCH (VERDICT
        # r11 "what's wrong")
        with scope():
            if local is None:
                bands = materialize(minhash_band_rows(docs, id_col, text_col))
                verdicts = lsh_admission_from_bands(bands, hist)
            else:
                table = minhash_arrow(local, "bands")
                hits = hist.where(_in_list(
                    "band_hash", table.column("band_hash").unique())
                ).toArrow()
                # one task, one file per write: a local frame spreads
                # its rows over every core
                verdicts = local_frame(
                    spark, lsh_admission_local(table, hits)).coalesce(1)
                bands = local_frame(spark, table).coalesce(1)
            # The band-index re-append stays plain append: admission
            # reads the index as a SET, so duplicate band rows are
            # harmless by construction.
            _write_verdicts(verdicts, batch_id, out_dir)
            bands.write.mode("append").parquet(index_dir)

    return write_batch


def embedding_ingest_foreach_batch(
    index_dir: str,
    out_dir: str,
    centroid_rows: list,
    *,
    probe: int = 2,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """``foreachBatch`` body for IVF EMBEDDING near-dup admission ingest
    (ST × L2 × L3, round 12) — the embedding twin of the MinHash-band
    ingest above: each micro-batch's vectors are admitted against the
    corpus IVF cell index with
    ``operators/dedup.py:ivf_embedding_admission``'s rule (any indexed
    vector in a probed cell with cosine >= threshold → reject),
    verdicts land in ``out_dir``, and ALL of the batch's rank-1 cell
    rows — rejected arrivals included, since a seen near-dup family
    still occupies its cell — are appended to the index so later
    micro-batches observe them.

    ``centroid_rows`` is the PRE-FITTED coarse quantizer
    (``clustering.kmeans_fit`` on the seed corpus, collected — k×dim
    driver state): a production IVF index trains its quantizer once and
    assigns arrivals against it forever after; retraining per batch
    would move every cell boundary and invalidate the index.

    Why the index is a parquet table and not the state store: at corpus
    scale the cell index IS corpus-sized (one row per ingested vector).
    Partitioning the table by ``cluster`` turns every history probe
    into a partition-pruned read of the batch's probed cells only.
    Replayed batches re-append their cell rows, which is harmless by
    construction: admission takes a MAX of cosines, so duplicate index
    rows cannot change any verdict, and the verdict sink
    partition-overwrites by batch_id (idempotent, the
    foreach_batch_overwrite idiom). Only a missing index reads as
    empty; an unreadable one raises.

    Two regimes, picked per micro-batch by one bounded collect of its
    quantized vectors (``sources.collect_bounded``,
    :data:`_DRIVER_ARRIVALS`):

    - **Driver** (the common small micro-batch). The batch is assigned
      to cells by ``clustering._score_cells``, the scoring code of the
      distributed assignment pass; the probed ``cluster`` partitions
      are read once; ``dedup.ivf_admission_local`` computes the
      cosines with Spark's exact arithmetic and decides; the verdicts
      and the rank-1 cell append are each written from one local frame.
      At most four Spark jobs per micro-batch instead of thirteen. The
      probed cells' vectors come to the driver: with IVF's usual
      cell size (the st13 rule, about 125 vectors a cell) that is a few
      hundred vectors per arrival.
    - **Distributed** (above the bound). The batch is assigned to cells
      ONCE (``assign_cells(probe, with_rank=True)``, materialized in
      the batch's scope); ``dedup.ivf_admission_from_cells`` broadcasts
      the probed cells onto the pruned index (never a shuffle of it),
      and the assignment's ``rn == 1`` rows are the index append.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    from mrjob_spark.materialize import materialize, scope
    from mrjob_spark.operators.clustering import (
        _centroid_arrays,
        _centroids_df,
        _score_cells,
        assign_cells,
        quantize_fixed_point,
    )
    from mrjob_spark.operators.dedup import (
        ivf_admission_from_cells,
        ivf_admission_local,
    )
    from mrjob_spark.sources import collect_bounded, local_frame

    index_schema = f"cluster long, {id_col} long, {vec_col} array<float>"
    cents = _centroid_arrays(centroid_rows)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        index = _read_index(spark, index_dir, index_schema)
        local = collect_bounded(batch_df.select(
            F.col(id_col).cast("long").alias("vec_id"),
            quantize_fixed_point(F.col(vec_col)).alias("qv"),
            vec_col,
        ), _DRIVER_ARRIVALS)
        # one scope per micro-batch frees the batch and its cell
        # assignment (the VERDICT r11 stranded-block class)
        with scope():
            if local is None:
                batch = materialize(batch_df.select(id_col, vec_col))
                # ONE Arrow assignment pass per micro-batch: its
                # top-`probe` rows feed admission and its rank-1 rows
                # are the index append (stable argsort: the same rows a
                # probe=1 pass gives); the vector rides the pass, no
                # join back onto the batch by id
                cells = materialize(assign_cells(
                    batch, _centroids_df(spark, centroid_rows), probe=probe,
                    id_col=id_col, vec_col=vec_col, passthrough=(vec_col,),
                    with_rank=True,
                ), StorageLevel.MEMORY_AND_DISK)
                verdicts = ivf_admission_from_cells(
                    batch, cells, index, threshold=threshold, id_col=id_col,
                    vec_col=vec_col,
                )
                append = cells.where(F.col("rn") == 1).select(
                    "cluster", F.col("vec_id").alias(id_col), vec_col)
            else:
                cells = _score_cells(local, cents, probe=probe,
                                     passthrough=(vec_col,), with_rank=True)
                hist = index.where(_in_list(
                    "cluster", cells.column("cluster").unique())).toArrow()
                verdicts = local_frame(spark, ivf_admission_local(
                    local.column("vec_id").to_pylist(), cells, hist,
                    threshold=threshold, vec_col=vec_col)).coalesce(1)
                rank1 = cells.filter(pc.equal(cells.column("rn"), 1))
                append = local_frame(spark, pa.table({
                    "cluster": rank1.column("cluster"),
                    id_col: rank1.column("vec_id"),
                    vec_col: rank1.column(vec_col),
                })).coalesce(1)
            _write_verdicts(verdicts, batch_id, out_dir)
            # the index append is PARTITIONED BY CLUSTER: admission reads
            # only the batch's probed cell directories (VERDICT r12 item
            # 5; the at-scale layout the operator docstring promises)
            append.write.mode("append").partitionBy("cluster").parquet(
                index_dir)

    return write_batch


def _in_list(col: str, values) -> Column:
    """``col IN (values)`` for an Arrow array of integers or hex
    strings (safe to inline), built as one SQL text: ``Column.isin``
    pays a py4j round trip per literal, 1.7 s for 4,000 band hashes
    against 6 ms this way. Parquet gets the same pushed-down ``In``
    filter, and a partition column the same pruning."""
    if len(values) == 0:
        return F.lit(False)
    return F.expr(f"{col} IN (%s)" % ", ".join(
        f"'{v}'" if isinstance(v, str) else str(v)
        for v in values.to_pylist()))


def _write_verdicts(verdicts: DataFrame, batch_id: int, out_dir: str) -> None:
    """Write a micro-batch's verdicts as its own ``batch_id`` partition
    of ``out_dir`` by DYNAMIC overwrite (the foreach_batch_overwrite
    idiom, streaming/io.py): a replayed micro-batch — redelivered after
    a crash between this write and the offset commit — replaces its own
    verdicts instead of appending duplicates, preserving
    one-verdict-per-arrival."""
    (
        verdicts.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(out_dir)
    )


def _read_index(spark, index_dir: str, schema: str) -> DataFrame:
    """The ingest index at ``index_dir`` read with its declared
    ``schema`` (no schema-inference job), or an empty frame of that
    schema before the first micro-batch has written it. Only a missing
    path reads as empty: a corrupt or unreadable index raises, instead
    of admitting every arrival as ``new``."""
    from pyspark.errors import AnalysisException

    from mrjob_spark.sources import local_frame

    try:
        return spark.read.schema(schema).parquet(index_dir)
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        return local_frame(spark, {}, schema)


def stream_static_enrich(
    stream_df: DataFrame,
    dim_df: DataFrame,
    on,
    *,
    how: str = "inner",
    broadcast: bool = True,
) -> DataFrame:
    """Stream-static enrichment join (the dimension-lookup step of every
    event pipeline). Structured Streaming re-evaluates the static side per
    micro-batch, so a dimension update is picked up on the next trigger
    without restarting the query; with ``broadcast=True`` (the default —
    dims are small by definition) the stream side is never shuffled and
    enrichment stays a map-side operation at any event rate. The same
    builder runs unchanged over a batch DataFrame, which is how the oracle
    verifies it."""
    d = F.broadcast(dim_df) if broadcast else dim_df
    return stream_df.join(d, on=on, how=how)


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    within: str,
    *,
    watermark: str | None = None,
    how: str = "inner",
) -> DataFrame:
    """Stream-stream equi-join with a time bound: pair each left event with
    right events for the same key occurring in ``[left_ts, left_ts +
    within]`` — the click→purchase attribution shape.

    In streaming execution BOTH sides buffer in join state; the time-bound
    condition plus per-side watermarks is what lets Spark evict state (an
    unbounded stream-stream join never forgets). ``within`` must parse as
    an INTERVAL (e.g. ``'30 minutes'``). The same builder runs over batch
    frames, which is how the oracle checks it.
    """
    # rename key + timestamp on each side BEFORE the join so every
    # reference below is by unique name — dataset-attribute references
    # (l[key] == r[key]) trip Spark's ambiguous-self-join check when both
    # sides derive from the same source, the common case (events vs events)
    lt, rt = f"__l_{left_ts}", f"__r_{right_ts}"
    lk, rk = f"__l_{key}", f"__r_{key}"
    l = left.withColumnRenamed(left_ts, lt).withColumnRenamed(key, lk)
    r = right.withColumnRenamed(right_ts, rt).withColumnRenamed(key, rk)
    if watermark:
        l = l.withWatermark(lt, watermark)
        r = r.withWatermark(rt, watermark)
    cond = (
        (F.col(lk) == F.col(rk))
        & (F.col(rt) >= F.col(lt))
        & (F.col(rt) <= F.col(lt) + F.expr(f"INTERVAL {within}"))
    )
    # collapse the two key columns into one (coalesce covers outer joins,
    # where one side's key is null on unmatched rows); the timestamps stay
    # exposed as __l_<ts>/__r_<ts> for callers that need both
    return (
        l.join(r, cond, how)
        .withColumn(key, F.coalesce(F.col(lk), F.col(rk)))
        .drop(lk, rk)
    )


def transform_with_state_stats(
    df: DataFrame,
    key_col: str,
    value_col: str,
) -> DataFrame:
    """Custom stateful operator on the ``transformWithStateInPandas`` API
    (the arbitrary-state successor to ``applyInPandasWithState``): a
    user-defined ``StatefulProcessor`` owns named, typed state handles
    (here one ValueState holding ``(n, total_cents, mx)`` per key) that
    survive across micro-batches, with timers and TTL available for
    eviction policies the fixed-function operators can't express.

    Unlike ``applyInPandasWithState``, this API also EXECUTES in batch
    queries — state initializes empty, each key's rows stream through the
    same ``handleInputRows``, and the final state row is emitted — so the
    oracle-checked query below runs the REAL processor, not a batch twin.

    Accumulation is exact: the count and the cent-scaled value sum are
    integers (``floor(v*100+0.5)`` per row, the portable rounding formula)
    and the max is order-independent, so per-batch/partition ordering
    cannot move the result — the property that makes a Python stateful
    operator oracle-checkable at all.

    Scale shape: rows reach Python in Arrow batches grouped by key; state
    is one small tuple per key in the (RocksDB-backed) state store —
    bounded by key cardinality, not stream length.

    Environment gate: the transformWithState Python↔JVM state protocol
    rides protobuf (``pyspark/sql/streaming/proto/StateMessage_pb2``),
    an optional pyspark dependency. Where no real ``google-protobuf`` is
    installed, :func:`mrjob_spark.compat_pb.ensure_protobuf_compat`
    vendors the Cloud SDK's pure-Python runtime (driver-side alias +
    worker-side sitecustomize via PYTHONPATH — session.get_spark wires
    the env before the JVM starts); only if THAT also fails does this
    raise a clear ImportError instead of a mid-job worker crash.

    Batch-mode quirk (worked around here): batch queries never start the
    driver's StateStoreCoordinator RPC endpoint (a streaming query would),
    so executors' state-store loads die with RpcEndpointNotFoundException;
    ``StateStoreCoordinatorRef.forDriver`` creates it idempotently.
    """
    from mrjob_spark.compat_pb import ensure_protobuf_compat

    if not ensure_protobuf_compat():
        raise ImportError(
            "transform_with_state_stats requires the 'protobuf' package "
            "(pyspark's transformWithState state protocol is protobuf-"
            "serialized); neither a real google-protobuf nor the "
            "vendorable Cloud SDK runtime is present in this environment"
        )

    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    if not df.isStreaming:
        # batch mode: make sure the StateStoreCoordinator endpoint exists
        # (idempotent; normally created by the first streaming query).
        # forDriver(env, conf) is an INTERNAL JVM API whose signature is
        # Spark-version-specific (2-arg form pinned against Spark 4.1);
        # fail loudly and diagnosably if it drifts rather than letting
        # executors die later with RpcEndpointNotFoundException.
        spark = df.sparkSession
        jvm = spark._jvm
        try:
            jvm.org.apache.spark.sql.execution.streaming.state.StateStoreCoordinatorRef.forDriver(
                jvm.org.apache.spark.SparkEnv.get(),
                spark._jsparkSession.sessionState().conf(),
            )
        except Exception as e:  # py4j signature/lookup errors
            raise RuntimeError(
                "StateStoreCoordinatorRef.forDriver(env, conf) failed — this "
                "internal batch-mode bootstrap is pinned against Spark 4.1 "
                f"(running {spark.version}); the signature likely changed in "
                "this Spark version. Run the stateful operator as a real "
                "streaming query, or update the bootstrap."
            ) from e

    out_schema = f"{key_col} string, n bigint, total_cents bigint, mx double"

    def _install_pb_in_worker() -> bool:
        """Worker-side twin of mrjob_spark/_pbcompat/sitecustomize.py's
        install() — deliberately a CLOSURE so cloudpickle ships it BY
        VALUE inside the processor: the correctness driver (and any
        embedding application) builds its own SparkSession without
        session.get_spark's PYTHONPATH hook, so its workers never ran
        sitecustomize; the first state access below is also the first
        protobuf import in the worker, so installing here is always in
        time. The body below is AST-identical to sitecustomize.install()
        (which carries the full rationale) — tests/test_streaming.py's
        sync test fails on any drift, so edit BOTH or neither."""
        import importlib.util
        import os
        import sys
        import types

        try:
            if importlib.util.find_spec("google.protobuf.descriptor") is not None:
                return True  # real protobuf (or an earlier install): done
        except (ModuleNotFoundError, ImportError):
            pass  # no 'google' namespace at all

        sdk = "/usr/lib/google-cloud-sdk/lib/third_party"
        if not os.path.isdir(os.path.join(sdk, "cloudsdk", "google", "protobuf")):
            return False  # no vendorable runtime on this host either

        if sdk not in sys.path:
            # cloudsdk protobuf modules import each other absolutely
            # (``from cloudsdk.google.protobuf.internal import ...``)
            sys.path.append(sdk)
        import cloudsdk.google as _cg
        import cloudsdk.google.protobuf as _cpb

        # scoped alias — full rationale lives in sitecustomize.py
        g = sys.modules.get("google")
        if g is None:
            try:
                import google as g
            except ImportError:
                g = None
        if g is not None and getattr(g, "__path__", None) is not None:
            sys.modules["google.protobuf"] = _cpb
            g.protobuf = _cpb  # `from google import protobuf` reads the attr
        else:
            sys.modules["google"] = _cg
            sys.modules["google.protobuf"] = _cpb

        if not hasattr(_cpb, "runtime_version"):
            rv = types.ModuleType("google.protobuf.runtime_version")

            class Domain:
                GOOGLE_INTERNAL = 1
                PUBLIC = 2

            rv.Domain = Domain
            rv.ValidateProtobufRuntimeVersion = lambda *a, **k: None
            rv.__doc__ = (
                "no-op stand-in for protobuf>=5.27's gencode/runtime version "
                "check; see sitecustomize module docstring"
            )
            sys.modules["google.protobuf.runtime_version"] = rv
            _cpb.runtime_version = rv
        return True

    class _StatsProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            _install_pb_in_worker()
            self._state = handle.getValueState(
                "stats", "n bigint, total_cents bigint, mx double"
            )

        def handleInputRows(self, key, rows, timerValues):
            if self._state.exists():
                n, cents, mx = self._state.get()
            else:
                n, cents, mx = 0, 0, None
            for pdf in rows:
                v = pdf[value_col].astype(float)
                n += len(pdf)
                # accumulate as int64, not a float64 sum cast afterwards:
                # a float sum silently loses exactness past 2^53 cents
                cents += int(np.floor(v * 100.0 + 0.5).astype(np.int64).sum())
                batch_max = float(v.max()) if len(v) else None
                if batch_max is not None:
                    mx = batch_max if mx is None else max(mx, batch_max)
            self._state.update((n, cents, mx))
            yield pd.DataFrame(
                {key_col: [key[0]], "n": [n], "total_cents": [cents], "mx": [mx]}
            )

        def close(self) -> None:
            pass

    return (
        df.select(F.col(key_col).cast("string").alias(key_col), value_col)
        .groupBy(key_col)
        .transformWithStateInPandas(
            statefulProcessor=_StatsProcessor(),
            outputStructType=out_schema,
            outputMode="Update",
            timeMode="None",
        )
    )


@contextmanager
def state_partitions(spark, n: int):
    """Pin ``spark.sql.shuffle.partitions`` — which for a streaming query
    is the number of STATE STORES per stateful operator, frozen into the
    checkpoint at first start — for the duration of a streamed segment.

    State-partition count is a sizing decision, not a default to inherit:
    every micro-batch opens, updates, snapshots, and commits one store per
    partition per stateful operator, so checkpoint IO scales with the
    count while per-store work scales inversely with it. Size it to key
    cardinality and cluster parallelism — measured on the fixture scale
    (9k keys, local[32]): 32 stores ran the st10 pipeline in 3.2 s, 8
    stores in 2.0 s, identical results. A 100 TB deployment sizes UP
    (state stores are also the recovery/parallelism unit); the point of
    the knob is that the number is CHOSEN either way.
    """
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
