"""Oracle-checked batch twins of the Structured Streaming operators
(SURVEY.md §2.10) — these run the SAME transform builders from
``mrjob_spark.streaming`` over the static ``events`` table, which is how the
DuckDB oracle can verify them; ``tests/test_streaming.py`` replays the
identical plans through real micro-batch execution (file source →
AvailableNow → memory sink) and asserts equivalence, plus the two behaviors
batch cannot express: watermark late-row dropping and cross-batch stateful
dedup.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mrjob_spark.functions.rounding import rnd, dsum, sql_rnd
from mrjob_spark.functions.vectors import sql_cosine
from mrjob_spark.queries import Tables, query
from mrjob_spark.streaming import session_window_agg, stream_dedup, tumbling_window_agg


@query(
    "st4_session_window",
    sql="""
    WITH flagged AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id)
                         > INTERVAL '30 minutes'
                    OR lag(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ), numbered AS (
        SELECT user_id, ts, value,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                               AND CURRENT ROW) AS session_seq
        FROM flagged
    )
    SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
           (floor((CAST(sum(CAST((value) AS DECIMAL(38,6))) AS DOUBLE)) * 100 + 0.5) / 100) AS sum_value
    FROM numbered GROUP BY user_id, session_seq
    """,
)
def st4_session_window(spark, sf_dir):
    """ST-session via ``F.session_window`` (streaming/ops.py): Spark merges
    overlapping per-event 30-min windows into maximal sessions — the oracle
    states the same semantics as the lag-gap formulation (st3's CTE), so a
    hash match proves the two constructions agree session-for-session."""
    t = Tables(spark, sf_dir)
    return session_window_agg(
        t.events,
        "ts",
        "30 minutes",
        ["user_id"],
        [
            F.count(F.lit(1)).alias("n_events"),
            rnd(dsum("value"), 2).alias("sum_value"),
        ],
    ).drop("session_end")


@query(
    "st5_stream_dedup",
    sql="""
    SELECT user_id, event_type,
           time_bucket(INTERVAL '10 minutes', ts) AS wstart,
           arg_min(event_id, ts) AS first_event_id,
           count(*) AS n_dupes
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def st5_stream_dedup(spark, sf_dir):
    """ST-dedup, deterministic batch twin: one representative event per
    (user_id, event_type, 10-min bucket) — the first by (ts, event_id) —
    plus the duplicate count. The streaming form is
    ``stream_dedup(..., watermark=...)`` → ``dropDuplicatesWithinWatermark``
    (first-arriving row, state expired past the watermark), exercised
    cross-micro-batch in tests/test_streaming.py. One shuffle, map-side
    partial agg; the min-struct trick keeps it a plain hash aggregate."""
    t = Tables(spark, sf_dir)
    first = F.min(F.struct("ts", "event_id")).alias("f")
    return (
        t.events.groupBy(
            "user_id",
            "event_type",
            F.window("ts", "10 minutes").alias("w"),
        )
        .agg(first, F.count(F.lit(1)).alias("n_dupes"))
        .select(
            "user_id",
            "event_type",
            F.col("w.start").alias("wstart"),
            F.col("f.event_id").alias("first_event_id"),
            "n_dupes",
        )
    )


@query(
    "st6_stateful_running_totals",
    sql="""
    SELECT event_type,
           count(*) AS n,
           (floor((CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE)) * 100 + 0.5) / 100)
               AS total
    FROM events GROUP BY event_type
    """,
)
def st6_stateful_running_totals(spark, sf_dir):
    """ST-custom: the batch twin of ``stateful_running_totals``
    (streaming/ops.py), the ``applyInPandasWithState`` exemplar — per-key
    state updated with arbitrary Python across micro-batches. A complete
    batch input's final state IS the grouped aggregate, which is what the
    oracle checks; the cross-micro-batch state retention (the part batch
    can't express) is asserted in tests/test_streaming.py."""
    from mrjob_spark.functions.rounding import rnd, dsum
    from mrjob_spark.streaming import stateful_running_totals

    t = Tables(spark, sf_dir)
    out = stateful_running_totals(t.events, "event_type", "value")
    return out.select("event_type", "n", rnd(F.col("total"), 2).alias("total"))


@query(
    "st6_transform_with_state",
    sql="""
    SELECT CAST(event_type AS VARCHAR) AS event_type,
           count(*) AS n,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS total_cents,
           max(value) AS mx
    FROM events GROUP BY event_type
    """,
)
def st6_transform_with_state(spark, sf_dir):
    """ST-custom on the SPARK-4 API: ``transformWithStateInPandas`` with
    a user StatefulProcessor owning a named typed ValueState
    (streaming/ops.py transform_with_state_stats) — EXECUTING for real,
    in-container, as of round 10: mrjob_spark.compat_pb vendors the
    Cloud SDK's pure-Python protobuf runtime (driver alias + worker
    sitecustomize) where no real google-protobuf exists, which is what
    the Python↔JVM state-server protocol rides. Batch queries run the
    REAL processor (state initializes empty, every key's rows stream
    through handleInputRows, final state emits), so the oracle is the
    grouped aggregate with the identical integer-cents accumulation —
    order-independent by construction, hence hash-checkable. The
    cross-micro-batch retention half (what batch can't express) runs as
    a real RocksDB-backed streaming query in tests/test_streaming.py."""
    from mrjob_spark.streaming import transform_with_state_stats

    t = Tables(spark, sf_dir)
    return transform_with_state_stats(
        t.events.select("event_type", "value"), "event_type", "value"
    )


@query(
    "st7_stream_enrich_window",
    sql="""
    SELECT time_bucket(INTERVAL '1 hour', e.ts) AS wstart,
           c.c_mktsegment AS segment,
           count(*) AS n_events,
           (floor((CAST(sum(CAST((e.value) AS DECIMAL(38,6))) AS DOUBLE))
                  * 100 + 0.5) / 100) AS sum_value
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY 1, 2
    """,
)
def st7_stream_enrich_window(spark, sf_dir):
    """Stream-static enrichment + tumbling window: every event pipeline's
    dimension-lookup step. The customer dim is broadcast so the event
    stream is never shuffled for the join (its only exchange is the
    windowed aggregation's own); in streaming execution the static side is
    re-read each micro-batch, picking up dim updates live. The oracle runs
    the identical join+window relationally; tests/test_streaming.py replays
    the same plan through real micro-batches."""
    from mrjob_spark.streaming import stream_static_enrich, tumbling_window_agg

    t = Tables(spark, sf_dir)
    dim = t.customer.select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    enriched = stream_static_enrich(t.events, dim, on="user_id")
    return tumbling_window_agg(
        enriched,
        "ts",
        "1 hour",
        ["segment"],
        [
            F.count(F.lit(1)).alias("n_events"),
            rnd(dsum("value"), 2).alias("sum_value"),
        ],
    )


@query(
    "st8_stream_stream_join",
    sql="""
    SELECT c.event_id AS click_id, p.event_id AS purchase_id,
           c.user_id
    FROM events c JOIN events p
      ON p.user_id = c.user_id
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL '30 minutes'
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    """,
)
def st8_stream_stream_join(spark, sf_dir):
    """Stream-stream time-bounded join: every click paired with the same
    user's purchases inside the following 30 minutes — the attribution
    shape. In streaming execution both sides buffer join state and the
    time bound + watermarks are what let Spark EVICT it (an unbounded
    stream-stream join never forgets); the batch twin is the identical
    builder over static frames, which the oracle restates relationally.
    tests/test_streaming.py replays it through real micro-batches with
    watermarks on."""
    from mrjob_spark.streaming import stream_stream_join

    t = Tables(spark, sf_dir)
    clicks = t.events.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    purchases = t.events.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    joined = stream_stream_join(
        clicks, purchases, key="user_id",
        left_ts="ts", right_ts="ts", within="30 minutes",
    )
    return joined.select("click_id", "purchase_id", "user_id")


@query(
    "st8_stream_stream_left_outer",
    sql="""
    SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON p.user_id = c.user_id
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL '30 minutes'
    """,
)
def st8_stream_stream_left_outer(spark, sf_dir):
    """The outer variant of st8: every click, matched or not — unmatched
    ones carry a null purchase. In streaming execution these null-extended
    rows may only emit after the watermark passes the click's join window
    (Spark must prove no match can still arrive), which
    tests/test_streaming.py pins with a controlled watermark advance; the
    batch twin here is the plain LEFT JOIN the oracle restates."""
    from mrjob_spark.streaming import stream_stream_join

    t = Tables(spark, sf_dir)
    clicks = t.events.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    purchases = t.events.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    joined = stream_stream_join(
        clicks, purchases, key="user_id",
        left_ts="ts", right_ts="ts", within="30 minutes", how="left_outer",
    )
    return joined.select("click_id", "purchase_id", "user_id")


@query(
    "st8_stream_stream_full_outer",
    sql="""
    SELECT c.event_id AS click_id, p.event_id AS purchase_id,
           coalesce(c.user_id, p.user_id) AS user_id
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON p.user_id = c.user_id
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL '30 minutes'
    """,
)
def st8_stream_stream_full_outer(spark, sf_dir):
    """The full-outer variant of st8, completing the stream-stream join
    family (inner / left_outer / full_outer): every click AND every
    purchase appears — unmatched rows null-extend on the opposite side.
    In streaming execution each side's null-extended rows emit only
    after the OTHER side's watermark clears the join window (state for
    both sides must drain, the strictest eviction case Spark supports);
    the batch twin is the plain FULL JOIN the oracle restates, with the
    key coalesced across sides exactly as the builder does."""
    from mrjob_spark.streaming import stream_stream_join

    t = Tables(spark, sf_dir)
    clicks = t.events.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    purchases = t.events.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    joined = stream_stream_join(
        clicks, purchases, key="user_id",
        left_ts="ts", right_ts="ts", within="30 minutes",
        how="full_outer",
    )
    return joined.select("click_id", "purchase_id", "user_id")


@query(
    "st9_foreachbatch_sink",
    sql="""
    SELECT time_bucket(INTERVAL '15 minutes', ts) AS wstart, event_type,
           count(*) AS n,
           (floor((CAST(sum(CAST((value) AS DECIMAL(38,6))) AS DOUBLE)) * 100 + 0.5) / 100) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def st9_foreachbatch_sink(spark, sf_dir):
    """ST-foreachBatch: a REAL streaming run, not a batch twin — the events
    fixture is replayed through readStream → 15-min tumbling aggregation →
    ``foreachBatch`` with the idempotent batch-partition-overwrite sink
    (streaming/io.py), then the sink directory is read back and reduced to
    the highest-batch version per group. The oracle is plain batch SQL over
    the same rows, so a hash match proves the streamed, checkpointed,
    replay-safe path produces exactly the batch answer.
    tests/test_streaming.py additionally replays a batch twice to prove the
    overwrite is duplicate-free."""
    import os
    import shutil

    from mrjob_spark.functions.rounding import dsum, rnd
    from mrjob_spark.streaming.io import foreach_batch_overwrite, read_stream_parquet
    from mrjob_spark.streaming.ops import tumbling_window_agg

    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    # PID-scoped scratch: a concurrent process (bench, driver, a second
    # test run) must never share a checkpoint dir mid-flight
    base = f"/tmp/mrjob_spark_streaming/{tag}/st9_{os.getpid()}"
    out, ckpt = f"{base}/out", f"{base}/ckpt"
    shutil.rmtree(base, ignore_errors=True)

    from mrjob_spark.streaming.ops import state_partitions

    # state stores sized to the workload (see state_partitions): 8 here
    # vs the session's 32 halves the streamed wall time on the fixtures
    with state_partitions(spark, 8):
        events = read_stream_parquet(spark, f"{sf_dir}/events.parquet")
        agg = tumbling_window_agg(
            events,
            "ts",
            "15 minutes",
            ["event_type"],
            [F.count(F.lit(1)).alias("n"), rnd(dsum("value"), 2).alias("sum_value")],
        )
        q = (
            agg.writeStream.foreachBatch(foreach_batch_overwrite(out))
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    back = spark.read.parquet(out)
    latest = F.max_by(F.struct("n", "sum_value"), "batch_id").alias("v")
    return (
        back.groupBy("wstart", "event_type")
        .agg(latest)
        .select(
            "wstart",
            "event_type",
            F.col("v.n").alias("n"),
            F.col("v.sum_value").alias("sum_value"),
        )
    )


@query(
    "st10_stream_pipeline",
    sql="""
    SELECT time_bucket(INTERVAL '30 minutes', e.ts) AS wstart,
           c.c_mktsegment AS segment, e.event_type,
           count(*) AS n,
           (floor((CAST(sum(CAST((e.value) AS DECIMAL(38,6))) AS DOUBLE))
                  * 100 + 0.5) / 100) AS sum_value
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY 1, 2, 3
    """,
)
def st10_stream_pipeline(spark, sf_dir):
    """ST capstone: the full streaming ingest pipeline REALLY streamed —
    readStream → watermark + ``dropDuplicatesWithinWatermark`` on the
    event id (the exactly-once guard every at-least-once delivery needs;
    a no-op on clean data by design) → broadcast dimension enrichment →
    30-minute tumbling aggregation → ``foreachBatch`` idempotent
    batch-partition-overwrite sink, read back as highest-batch-wins.
    TWO chained stateful operators (dedup state + window state) run in
    one streamed query — the composition Spark only supports with
    watermarks on both, which this pins in CI. The oracle is the plain
    batch join+window SQL: a hash match proves the streamed, chained-
    stateful, checkpointed path produces exactly the batch answer.
    State at 100 TB/day: dedup state is bounded by the watermark horizon,
    window state by (dims × open windows); the enrich join is map-side
    (broadcast), so the stream shuffles once — for its own aggregation."""
    import os
    import shutil

    from mrjob_spark.streaming.io import (
        foreach_batch_overwrite,
        read_stream_parquet,
    )
    from mrjob_spark.streaming.ops import stream_dedup, stream_static_enrich

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1] or "sf"
    base = f"/tmp/mrjob_spark_streaming/{tag}/st10_{os.getpid()}"
    out, ckpt = f"{base}/out", f"{base}/ckpt"
    shutil.rmtree(base, ignore_errors=True)

    from mrjob_spark.streaming.ops import state_partitions

    t = Tables(spark, sf_dir)
    # two stateful operators x state stores per partition: sized to the
    # workload, not inherited (see state_partitions — measured 3.2 -> 2.0 s)
    with state_partitions(spark, 8):
        events = read_stream_parquet(spark, f"{sf_dir}/events.parquet")
        deduped = stream_dedup(
            events, ["event_id"], ts_col="ts", watermark="1 hour"
        )
        dim = t.customer.select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_mktsegment").alias("segment"),
        )
        enriched = stream_static_enrich(deduped, dim, on="user_id")
        agg = tumbling_window_agg(
            enriched,
            "ts",
            "30 minutes",
            ["segment", "event_type"],
            [F.count(F.lit(1)).alias("n"), rnd(dsum("value"), 2).alias("sum_value")],
        )
        q = (
            agg.writeStream.foreachBatch(foreach_batch_overwrite(out))
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    back = spark.read.parquet(out)
    latest = F.max_by(F.struct("n", "sum_value"), "batch_id").alias("v")
    return (
        back.groupBy("wstart", "segment", "event_type")
        .agg(latest)
        .select(
            "wstart",
            "segment",
            "event_type",
            F.col("v.n").alias("n"),
            F.col("v.sum_value").alias("sum_value"),
        )
    )


@query(
    "st11_incremental_ingest",
    sql="""
    WITH h AS (
        SELECT doc_id,
               md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
                   AS content_hash
        FROM documents
    ), hist AS (
        SELECT DISTINCT content_hash FROM h WHERE doc_id % 10 <> 9
    ), batch AS (
        SELECT * FROM h WHERE doc_id % 10 = 9
    )
    SELECT b.content_hash, min(b.doc_id) AS admitted_id,
           CAST(count(*) AS BIGINT) AS n_arrivals
    FROM batch b
    WHERE NOT EXISTS (
        SELECT 1 FROM hist x WHERE x.content_hash = b.content_hash
    )
    GROUP BY b.content_hash
    """,
)
def st11_incremental_ingest(spark, sf_dir):
    """Admission-control ingest dedup, deterministic batch twin of
    ``streaming/ops.py:incremental_ingest_dedup``: the arriving batch
    (doc_id % 10 = 9) is admitted only where its content hash is new
    against BOTH the ingested corpus (the rest of documents) and the
    batch itself — min-doc_id representative plus arrival count, which is
    what the stream's first-arrival ``dropDuplicatesWithinWatermark``
    converges to on complete input. The real streaming form (stream-static
    left_anti per micro-batch, THEN watermarked dedup so history dupes
    never occupy state) is replayed cross-micro-batch in
    tests/test_streaming.py.

    Scale shape mirrors ``l1_incremental_dedup``: the corpus-sized history
    index is probed with a broadcast LeftSemi of the batch's hashes
    (history never shuffles), the matched set — bounded by batch size —
    broadcasts into the anti join, and the only hash exchanges carry
    batch-sized streams."""
    from mrjob_spark.functions.text import normalize_text

    t = Tables(spark, sf_dir)
    docs = t.documents.select("doc_id", "text")
    hashed = docs.select(
        "doc_id", F.md5(normalize_text(F.col("text"))).alias("content_hash")
    )
    batch = hashed.where(F.col("doc_id") % 10 == 9)
    history = hashed.where(F.col("doc_id") % 10 != 9)
    matched = (
        history.select("content_hash")
        .join(
            F.broadcast(batch.select("content_hash").distinct()),
            "content_hash",
            "leftsemi",
        )
        .distinct()
    )
    return (
        batch.join(F.broadcast(matched), "content_hash", "left_anti")
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("admitted_id"),
            F.count(F.lit(1)).alias("n_arrivals"),
        )
    )


def _st12_sql() -> str:
    from mrjob_spark.operators.dedup import sql_band_rows_cte

    return "WITH " + sql_band_rows_cte("documents") + """
    , hist AS (
        SELECT DISTINCT band_idx, band_hash FROM bands WHERE doc_id % 10 <> 9
    ), bb AS (
        SELECT doc_id, band_idx, band_hash FROM bands WHERE doc_id % 10 = 9
    ), firsts AS (
        SELECT band_idx, band_hash, min(doc_id) AS first_id
        FROM bb GROUP BY band_idx, band_hash
    )
    SELECT bb.doc_id,
           CASE WHEN max(CASE WHEN h.band_hash IS NOT NULL THEN 1 ELSE 0 END) = 1
                THEN 'dup_of_history'
                WHEN min(f.first_id) < bb.doc_id THEN 'dup_in_batch'
                ELSE 'new' END AS verdict
    FROM bb
    LEFT JOIN hist h
           ON h.band_idx = bb.band_idx AND h.band_hash = bb.band_hash
    JOIN firsts f
           ON f.band_idx = bb.band_idx AND f.band_hash = bb.band_hash
    GROUP BY bb.doc_id
    """


@query("st12_incremental_neardup", sql=_st12_sql())
def st12_incremental_neardup(spark, sf_dir):
    """NEAR-dup admission ingest, deterministic batch twin of
    ``streaming/ops.py:neardup_ingest_foreach_batch`` (VERDICT r10 task
    4 — st11's exact-hash admission composed with dedup.py's MinHash
    band machinery): the arriving batch (doc_id % 10 = 9) probes the
    corpus LSH band index built from the already-ingested rest; any
    shared (band_idx, band_hash) bucket rejects the arrival as
    ``dup_of_history``, an earlier arrival in one of its buckets rejects
    it as ``dup_in_batch`` (first-arrival-wins — a rejected arrival
    still occupies its buckets, which is what makes ordered micro-batch
    replay converge to this batch form; tests/test_streaming.py replays
    it cross-micro-batch against a growing parquet band index), and the
    rest admit as ``new``.

    Scale shape (``operators/dedup.py:lsh_band_admission``): the
    corpus-sized history index is scanned once and NEVER shuffled — it
    is probed with a broadcast LeftSemi of the batch's band keys and the
    matched keys broadcast back; the batch's own band rows hang off ONE
    explicit repartition reused by the key-distinct, the first-arrival
    aggregate, and the flag join, plus one batch-sized per-doc aggregate.
    Ingest micro-batches are small relative to the corpus by definition —
    the design leans entirely on that asymmetry."""
    from mrjob_spark.operators.dedup import (
        lsh_band_admission,
        minhash_band_rows,
    )

    t = Tables(spark, sf_dir)
    docs = t.documents.select("doc_id", "text")
    history = minhash_band_rows(
        docs.where(F.col("doc_id") % 10 != 9), "doc_id", "text"
    ).select("band_idx", "band_hash")
    return lsh_band_admission(docs.where(F.col("doc_id") % 10 == 9), history)


def _st13_sql(probe: int = 2, threshold: float = 0.4) -> str:
    """DuckDB twin of st13: history-trained quantized k-means (seed = 20
    smallest HISTORY ids, one exact integer update round over history),
    history indexed rank-1 and arrivals probed rn <= probe under the
    SAME centroids, history-hit max cosine + earlier-arrival rank-1
    occupancy hits, rnd6-portable cosines throughout — every centroid,
    every assignment, and every verdict must agree with Spark."""
    cos = sql_rnd(sql_cosine("CAST({a}.embedding AS DOUBLE[])",
                             "CAST({b}.embedding AS DOUBLE[])"), 6)
    return f"""
    WITH q AS (
        SELECT vec_id,
               list_transform(CAST(embedding AS DOUBLE[]),
                              x -> CAST(floor(x * 1000 + 0.5) AS BIGINT)) AS qv
        FROM embeddings
    ), hq AS (
        SELECT * FROM q WHERE vec_id % 10 <> 9
    ), bq AS (
        SELECT * FROM q WHERE vec_id % 10 = 9
    ), c0 AS (
        SELECT vec_id AS cluster, qv AS cv FROM hq
        WHERE vec_id IN (SELECT vec_id FROM hq ORDER BY vec_id
            LIMIT (SELECT greatest(16, CAST(ceil(count(*) / 125.0) AS BIGINT))
                   FROM hq))
    ), d0 AS (
        SELECT vec_id, cluster, CAST(sum((a - b) * (a - b)) AS BIGINT) AS dist
        FROM (SELECT hq.vec_id, c.cluster, unnest(hq.qv) AS a,
                     unnest(c.cv) AS b
              FROM hq CROSS JOIN c0 c) z
        GROUP BY vec_id, cluster
    ), a0 AS (
        SELECT vec_id, cluster FROM (
            SELECT vec_id, cluster,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cluster) AS rn
            FROM d0) zz
        WHERE rn = 1
    ), c1 AS (
        SELECT cluster, pos,
               CAST(floor(CAST(sum(a) AS DOUBLE) / count(*) + 0.5)
                    AS BIGINT) AS v
        FROM (SELECT a0.cluster, unnest(hq.qv) AS a,
                     generate_subscripts(hq.qv, 1) AS pos
              FROM hq JOIN a0 USING (vec_id)) z
        GROUP BY cluster, pos
    ), dh AS (
        SELECT vec_id, cluster, CAST(sum((a - v) * (a - v)) AS BIGINT) AS dist
        FROM (SELECT hq.vec_id, c1.cluster, c1.v, hq.qv[c1.pos] AS a
              FROM hq CROSS JOIN c1) z
        GROUP BY vec_id, cluster
    ), ah AS (
        SELECT vec_id, cluster FROM (
            SELECT vec_id, cluster,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cluster) AS rn
            FROM dh) zz
        WHERE rn = 1
    ), db AS (
        SELECT vec_id, cluster, CAST(sum((a - v) * (a - v)) AS BIGINT) AS dist
        FROM (SELECT bq.vec_id, c1.cluster, c1.v, bq.qv[c1.pos] AS a
              FROM bq CROSS JOIN c1) z
        GROUP BY vec_id, cluster
    ), ab AS (
        SELECT vec_id, cluster, rn FROM (
            SELECT vec_id, cluster,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cluster) AS rn
            FROM db) zz
        WHERE rn <= {probe}
    ), hist_top AS (
        SELECT ab.vec_id,
               MAX({cos.format(a='eb', b='eh')}) AS hist_top_cosine
        FROM ab
        JOIN ah ON ah.cluster = ab.cluster
        JOIN embeddings eb ON eb.vec_id = ab.vec_id
        JOIN embeddings eh ON eh.vec_id = ah.vec_id
        GROUP BY ab.vec_id
    ), batch_hits AS (
        SELECT DISTINCT a.vec_id
        FROM ab a
        JOIN (SELECT vec_id, cluster FROM ab WHERE rn = 1) e
          ON e.cluster = a.cluster AND e.vec_id < a.vec_id
        JOIN embeddings ea ON ea.vec_id = a.vec_id
        JOIN embeddings ee ON ee.vec_id = e.vec_id
        WHERE {cos.format(a='ea', b='ee')} >= {threshold}
    )
    SELECT b.vec_id,
           CASE WHEN ht.hist_top_cosine >= {threshold}
                THEN 'dup_of_history'
                WHEN bh.vec_id IS NOT NULL THEN 'dup_in_batch'
                ELSE 'new' END AS verdict,
           ht.hist_top_cosine
    FROM bq b
    LEFT JOIN hist_top ht ON ht.vec_id = b.vec_id
    LEFT JOIN batch_hits bh ON bh.vec_id = b.vec_id
    """


@query("st13_incremental_embedding_neardup", sql=_st13_sql())
def st13_incremental_embedding_neardup(spark, sf_dir):
    """IVF EMBEDDING near-dup admission, deterministic batch twin of
    ``streaming/ops.py:embedding_ingest_foreach_batch`` (round 12 — the
    embedding twin of st12's MinHash-band admission, composing L3's IVF
    machinery with the ST ingest shape): the arriving batch
    (vec_id % 10 = 9) probes an IVF cell index built from the
    already-ingested rest under a coarse quantizer FITTED ONCE on that
    history (``clustering.kmeans_fit`` — production IVF never retrains
    per batch). An indexed vector in a probed cell with cosine >= 0.4
    rejects the arrival as ``dup_of_history``; an EARLIER arrival whose
    rank-1 cell (the cell a streamed ingest appends it to — rejected
    arrivals still occupy) the later arrival probes and matches rejects
    it as ``dup_in_batch``; the rest admit as ``new``.
    ``hist_top_cosine`` reports the best history match.

    Scale shape (``operators/dedup.py:ivf_embedding_admission``): the
    corpus-sized cell index is scanned once and NEVER shuffled — the
    batch's probed cells broadcast onto it, cosines compute in-row, and
    only matched candidates shuffle for the per-arrival max; at scale
    the index is a parquet table partitioned by cluster, so the probe
    is a partition-pruned read. The quantizer's cell count is
    SF-ADAPTIVE (k = max(16, ceil(n_history/125)) — the tight-tier
    constant-cell-size rule, SCALE.md §12), so probe work per arrival
    stays ~constant as the corpus grows; the oracle derives the same k
    from count(*) in its seed CTE."""
    from mrjob_spark.operators.clustering import assign_cells, kmeans_fit
    from mrjob_spark.operators.dedup import ivf_embedding_admission

    t = Tables(spark, sf_dir)
    emb = t.embeddings.select("vec_id", "embedding")
    history = emb.where(F.col("vec_id") % 10 != 9)
    arrivals = emb.where(F.col("vec_id") % 10 == 9)
    import math as _math

    k = max(16, _math.ceil(history.count() / 125))
    cents = kmeans_fit(history, k=k, iters=1)
    # the vector rides the assignment pass (round 13): the old
    # .join(history, "vec_id") shuffled the corpus onto its own
    # assignment by id just to re-attach the embedding — §8's
    # move-the-payload-once rule, one Arrow pass, zero joins
    index = assign_cells(
        history, cents, probe=1, passthrough=("embedding",)
    ).select("cluster", "vec_id", "embedding")
    return ivf_embedding_admission(
        arrivals, index, cents, probe=2, threshold=0.4
    )
