"""LLM-data-pipeline queries (SURVEY.md §2.11 L1-L7) over the ``documents``
and ``embeddings`` fixtures: dedup family, similarity search, text analysis,
multimodal byte columns — each an oracle-checked `queries()` entry backed by
the operators in ``mrjob_spark.operators``.

Also includes the two canonical mrjob example jobs re-expressed relationally:
wordcount (``mr_word_freq_count.py``) and most-used-word
(``mr_most_used_word.py``) — the A3/A4/A5/J3 idioms on real text.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from mrjob_spark.functions.rounding import davg, dsum, rnd, sql_davg, sql_dsum, sql_rnd
from mrjob_spark.functions.vectors import sql_cosine

from mrjob_spark.functions.hashing import (
    hex_hash32,
    hex_hash64,
    sql_hex_hash32,
    sql_hex_hash64,
)
from mrjob_spark.functions.text import (
    STOPWORDS,
    bind1,
    normalize_text,
    sql_normalize_text,
    sql_tokens,
    tokens,
    distinct_tokens,
)
from mrjob_spark.materialize import LOCAL_CHECKPOINT, materialize, release
from mrjob_spark.operators.graph import connected_components
from mrjob_spark.operators.dedup import (
    embedding_neardup_pairs,
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_pairs,
    normalized_dedup,
    simhash_fingerprints,
    sql_jaccard_pairs,
    sql_minhash_lsh_pairs,
    sql_simhash_fingerprints,
)
from mrjob_spark.operators.similarity import (
    brute_force_topk,
    bucketed_topk,
    hyperplane_lsh_topk,
    two_stage_topk,
)
from mrjob_spark.queries import Tables, query
from mrjob_spark.sources import local_frame

# ---------------------------------------------------------------------------
# L1: exact / normalized dedup
# ---------------------------------------------------------------------------


@query(
    "l1_exact_dedup",
    sql="""
    SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def l1_exact_dedup(spark, sf_dir):
    t = Tables(spark, sf_dir)
    return exact_dedup(t.documents, "text", "doc_id")


@query(
    "l1_normalized_dedup",
    sql=f"""
    SELECT md5({sql_normalize_text('text')}) AS norm_hash,
           min(doc_id) AS keep_id, count(*) AS n_copies
    FROM documents GROUP BY 1
    """,
)
def l1_normalized_dedup(spark, sf_dir):
    t = Tables(spark, sf_dir)
    return normalized_dedup(t.documents, "text", "doc_id")


@query(
    "l1_incremental_dedup",
    sql=f"""
    WITH h AS (
        SELECT doc_id, md5({sql_normalize_text('text')}) AS content_hash
        FROM documents
    ), new_h AS (
        SELECT * FROM h WHERE doc_id % 10 = 9
    ), hist_match AS (
        SELECT content_hash, min(doc_id) AS hist_keep
        FROM h
        WHERE doc_id % 10 <> 9
          AND content_hash IN (SELECT content_hash FROM new_h)
        GROUP BY content_hash
    ), batch_first AS (
        SELECT content_hash, min(doc_id) AS batch_keep
        FROM new_h GROUP BY content_hash
    )
    SELECT n.doc_id, n.content_hash,
           CASE WHEN hm.content_hash IS NOT NULL THEN 'dup_of_history'
                WHEN n.doc_id > bf.batch_keep THEN 'dup_in_batch'
                ELSE 'new' END AS verdict,
           coalesce(hm.hist_keep, bf.batch_keep) AS keep_id
    FROM new_h n
    JOIN batch_first bf ON bf.content_hash = n.content_hash
    LEFT JOIN hist_match hm ON hm.content_hash = n.content_hash
    """,
)
def l1_incremental_dedup(spark, sf_dir):
    """Incremental (batch-vs-corpus) dedup — the ingestion-time shape at
    100 TB: each arriving batch dedups against the already-ingested corpus
    WITHOUT re-scanning or re-shuffling it.  The fixture splits documents
    into a 10% "new batch" (doc_id % 10 = 9) and 90% "history"; the
    operator (operators/dedup.py:incremental_exact_dedup) broadcasts the
    batch's distinct hashes, probes history with a map-side broadcast semi
    join — the history side carries NO exchange, pinned in test_plans.py —
    and classifies every new doc as dup_of_history / dup_in_batch / new
    with its surviving representative id."""
    t = Tables(spark, sf_dir)
    from mrjob_spark.operators.dedup import incremental_exact_dedup

    docs = t.documents.select("doc_id", "text")
    return incremental_exact_dedup(
        docs.where(F.col("doc_id") % 10 != 9),
        docs.where(F.col("doc_id") % 10 == 9),
        "text",
        "doc_id",
    )


# ---------------------------------------------------------------------------
# L2: near-dedup family
# ---------------------------------------------------------------------------


@query("l2_minhash_lsh_pairs", sql=sql_minhash_lsh_pairs(threshold=0.6),
       baseline_of="l2_minhash_lsh_capped")
def l2_minhash_lsh_pairs(spark, sf_dir):
    """MinHash+LSH near-dup pairs, exact-Jaccard-verified. The whole
    pipeline (shingle → minhash → band → bucket → verify) has a DuckDB
    twin, so even this approximate operator is oracle-checked. Its 500
    fixture documents sit under ``dedup._DRIVER_DOCS``: the pairs are
    found on the driver in one job, and the distributed plan (band
    bucket shuffle, candidate persist, semi-join, verification join)
    runs above the bound."""
    t = Tables(spark, sf_dir)
    return minhash_lsh_pairs(t.documents, "doc_id", "text", threshold=0.6)


_CLUSTERS_SQL = """
WITH RECURSIVE pairs AS ({lsh_sql}
), edges AS (
    SELECT doc_a AS u, doc_b AS v FROM pairs
    UNION
    SELECT doc_b, doc_a FROM pairs
), reach AS (
    SELECT u AS node, u AS r FROM edges
    UNION
    SELECT e.v, reach.r FROM edges e JOIN reach ON reach.node = e.u
)
SELECT node AS doc_id, min(r) AS cluster_rep FROM reach GROUP BY node
""".format(lsh_sql=sql_minhash_lsh_pairs(threshold=0.6))


@query("l1_dedup_clusters", sql=_CLUSTERS_SQL,
       baseline_of="l1_dedup_clusters_capped")
def l1_dedup_clusters(spark, sf_dir):
    """Duplicate CLUSTERS, not just pairs: connected components of the
    MinHash-LSH near-dup graph (operators/graph.py) — the step that turns
    pair detection into "keep one representative per group" at 100 TB. A
    pair graph of up to a million edges is labeled by a union-find on the
    driver (one probe job); above that, large-star/small-star rounds take
    O(log² n) rounds whatever the diameter. Still oracle-checked: the
    DuckDB twin is a WITH RECURSIVE transitive closure over the SAME pair
    SQL, and both engines must land on identical (doc, min-reachable-id)
    labels. Below ``dedup._DRIVER_DOCS`` documents the pairs themselves
    come from the driver, as a local frame."""
    t = Tables(spark, sf_dir)
    pairs = minhash_lsh_pairs(t.documents, "doc_id", "text", threshold=0.6)
    cc = connected_components(pairs, src="doc_a", dst="doc_b")
    return cc.select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_rep")
    )


@query("l2_simhash", sql=sql_simhash_fingerprints())
def l2_simhash(spark, sf_dir):
    t = Tables(spark, sf_dir)
    return simhash_fingerprints(t.documents, "doc_id", "text")


@query("l2_jaccard_pairs", sql=sql_jaccard_pairs(threshold=0.8))
def l2_jaccard_pairs(spark, sf_dir):
    """Exact token-Jaccard near-dup pairs via inverted-index join — the
    brute-force baseline that verifies the LSH path."""
    t = Tables(spark, sf_dir)
    return jaccard_pairs(t.documents, "doc_id", "text", threshold=0.8)


@query(
    "l2_embedding_neardup",
    baseline_of="l2_embedding_neardup_ivf_hi",
    sql=f"""
    WITH scored AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               {sql_rnd(sql_cosine("CAST(a.embedding AS DOUBLE[])",
                                   "CAST(b.embedding AS DOUBLE[])"), 6)} AS cosine
        FROM embeddings a
        JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, cosine FROM scored WHERE cosine >= 0.4
    """,
)
def l2_embedding_neardup(spark, sf_dir):
    t = Tables(spark, sf_dir)
    return embedding_neardup_pairs(t.embeddings, threshold=0.4)


# ---------------------------------------------------------------------------
# L3: similarity search
# ---------------------------------------------------------------------------

_TOPK_SQL_TEMPLATE = f"""
    WITH scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {sql_rnd(sql_cosine("CAST(q.embedding AS DOUBLE[])",
                                   "CAST(c.embedding AS DOUBLE[])"), 6)} AS cosine
        FROM embeddings q
        JOIN embeddings c ON {{join_cond}} AND q.vec_id <> c.vec_id
        WHERE q.vec_id < 10
    )
    SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored
    ) WHERE rank <= 5
"""


@query(
    "l3_knn_bruteforce",
    sql=_TOPK_SQL_TEMPLATE.format(join_cond="TRUE"),
)
def l3_knn_bruteforce(spark, sf_dir):
    """Exact cosine top-5 for the first 10 vectors: broadcast queries, scan
    corpus once — the correctness baseline for the ANN variants."""
    t = Tables(spark, sf_dir)
    emb = t.embeddings
    res = brute_force_topk(emb, emb.where(F.col("vec_id") < 10), k=5)
    return res.select(
        "query_id", "neighbor_id", "cosine", F.col("rank").cast("long").alias("rank")
    )


@query(
    "l3_knn_bucketed",
    sql=_TOPK_SQL_TEMPLATE.format(join_cond="q.label = c.label"),
)
def l3_knn_bucketed(spark, sf_dir):
    """IVF-style ANN: search only the query's precomputed bucket (label) —
    the equi-join on bucket is the 100 TB scale path."""
    t = Tables(spark, sf_dir)
    emb = t.embeddings
    res = bucketed_topk(emb, emb.where(F.col("vec_id") < 10), k=5)
    return res.select(
        "query_id", "neighbor_id", "cosine", F.col("rank").cast("long").alias("rank")
    )


@query(
    "l3_knn_lsh",
    sql="""
    SELECT vec_id AS query_id, TRUE AS recall_ge_floor
    FROM embeddings WHERE vec_id < 10
    """,
)
def l3_knn_lsh(spark, sf_dir):
    """OR-amplified hyperplane-LSH ANN, driver-checked via a recall-floor
    tolerance oracle (VERDICT r4 task 1): the random planes are
    engine-specific so the neighbor set itself has no DuckDB twin, but the
    per-query recall against the exact brute-force top-5 is a deterministic
    number (md5 planes, fixed fixtures) — emit ``recall >= 0.2`` as a
    boolean the oracle states as literal TRUE. Measured recall at
    sf0.001/0.01/0.1 is 0.4-1.0 per query (mean 0.72-0.76), so a broken
    sketch — not noise — is what flips the hash. The brute-force pass here
    is the audit harness, not the production operator."""
    t = Tables(spark, sf_dir)
    emb = t.embeddings
    q = emb.where(F.col("vec_id") < 10)
    exact = brute_force_topk(emb, q, k=5).select("query_id", "neighbor_id")
    approx = hyperplane_lsh_topk(emb, q, k=5, dim=64).select(
        "query_id", F.col("neighbor_id").alias("__lsh_neighbor")
    )
    hits = exact.join(
        approx,
        (exact["query_id"] == approx["query_id"])
        & (exact["neighbor_id"] == approx["__lsh_neighbor"]),
        "left_semi",
    )
    n_exact = exact.groupBy("query_id").agg(F.count("*").alias("__n_exact"))
    n_hit = hits.groupBy("query_id").agg(F.count("*").alias("__n_hit"))
    return (
        n_exact.join(n_hit, "query_id", "left")
        .select(
            "query_id",
            (
                F.coalesce(F.col("__n_hit"), F.lit(0))
                / F.col("__n_exact")
                >= F.lit(0.2)
            ).alias("recall_ge_floor"),
        )
    )


@query(
    "l3_knn_pq",
    sql="""
    SELECT vec_id AS query_id, TRUE AS recall_ge_floor
    FROM embeddings WHERE vec_id < 10
    """,
)
def l3_knn_pq(spark, sf_dir):
    """Product-quantization ANN (operators/similarity.py:
    product_quantized_topk — Jégou et al. 2011): 16 subspaces × 16-word
    deterministic codebooks compress each 64-dim vector to 16 codes;
    queries rank the corpus by summed table lookups (asymmetric
    distance), then exact-cosine re-rank the best max(100, n/50) — an
    SF-adaptive width holding the re-ranked corpus fraction at ≥2%
    (fixed 100 measured recall < 0.6 at sf1). The tier PQ adds
    over IVF/LSH: those prune WHICH vectors get scored, PQ shrinks WHAT
    scoring costs (256 B → 16 B per corpus vector at query time) — the
    memory-bandwidth lever that holds candidate sets in RAM at 10^9
    vectors. Driver-checked like ``l3_knn_lsh``: codebooks are
    engine-specific, so the oracle states the deterministic per-query
    recall floor (vs exact brute-force top-5) as literal TRUE; measured
    per-query recall is 0.8-1.0 at sf0.001/0.01/0.1 (means
    0.94/1.00/0.90), so only a broken quantizer — not noise — flips the
    0.6 floor. The brute-force pass is the audit harness, not the
    production path."""
    from mrjob_spark.operators.similarity import product_quantized_topk

    t = Tables(spark, sf_dir)
    emb = t.embeddings
    # SF-ADAPTIVE re-rank width (the l2_..._tight precedent): a FIXED
    # candidate count shrinks to a vanishing corpus fraction as data
    # grows and recall craters (measured: 100 candidates = 0.2% of sf1's
    # 50k vectors read recall < 0.6); holding the fraction at ≥2% keeps
    # the floor scale-stable while re-rank work stays ~n/50
    n = emb.count()
    cand = max(100, -(-n // 50))
    q = emb.where(F.col("vec_id") < 10)
    exact = brute_force_topk(emb, q, k=5).select("query_id", "neighbor_id")
    approx = product_quantized_topk(
        emb, q, k=5, dim=64, m=16, codebook_k=16, candidates=cand
    ).select(
        "query_id", F.col("neighbor_id").alias("__pq_neighbor")
    )
    hits = exact.join(
        approx,
        (exact["query_id"] == approx["query_id"])
        & (exact["neighbor_id"] == approx["__pq_neighbor"]),
        "left_semi",
    )
    n_exact = exact.groupBy("query_id").agg(F.count("*").alias("__n_exact"))
    n_hit = hits.groupBy("query_id").agg(F.count("*").alias("__n_hit"))
    return (
        n_exact.join(n_hit, "query_id", "left")
        .select(
            "query_id",
            (
                F.coalesce(F.col("__n_hit"), F.lit(0))
                / F.col("__n_exact")
                >= F.lit(0.6)
            ).alias("recall_ge_floor"),
        )
    )


@query(
    "l3_knn_ivf_pq",
    sql="""
    SELECT vec_id AS query_id, TRUE AS recall_ge_floor
    FROM embeddings WHERE vec_id < 10
    """,
)
def l3_knn_ivf_pq(spark, sf_dir):
    """IVFADC — IVF pruning × PQ compression composed, the architecture
    FAISS ships as its billion-scale default (operators/similarity.py:
    ivf_product_quantized_topk; Jégou et al. 2011 §III). The registered
    single-tier operators measure each lever alone (l3_knn_bucketed/
    l2_..._ivf prune WHICH vectors get scored; l3_knn_pq shrinks WHAT
    scoring costs); here they multiply: each query ADC-scores only its 4
    probed cells' code lists — ≈ (probe / n_cells) × n × 16 one-byte
    lookups — so query-time work per 10^9 vectors is 4 RAM-resident
    inverted lists, not a corpus scan of either floats (IVF alone) or
    codes (PQ alone).

    Both knobs are SF-ADAPTIVE, each inheriting its proven rule:
    n_cells = max(16, n/250) holds cell size ~constant (the
    l2_..._tight precedent — measured min-recall 1.00 at sf1 with 80
    cells vs 0.60 with fixed 16), and the re-rank width stays
    max(100, n/50) (the l3_knn_pq rule). Driver-checked like its
    parents: codebooks/centroids are engine-specific, so the oracle
    states the deterministic per-query recall floor (vs exact
    brute-force top-5) as literal TRUE; measured min per-query recall
    is 0.80 at sf0.001/0.01/0.1 and 1.00 at sf1, so only a broken
    index — not noise — flips the 0.6 floor. The brute-force pass is
    the audit harness, not the production path."""
    from mrjob_spark.operators.similarity import ivf_product_quantized_topk

    t = Tables(spark, sf_dir)
    emb = t.embeddings
    n = emb.count()
    cand = max(100, -(-n // 50))
    n_cells = max(16, n // 250)
    q = emb.where(F.col("vec_id") < 10)
    exact = brute_force_topk(emb, q, k=5).select("query_id", "neighbor_id")
    approx = ivf_product_quantized_topk(
        emb, q, k=5, dim=64, n_cells=n_cells, probe=4, m=16,
        codebook_k=16, candidates=cand,
    ).select("query_id", F.col("neighbor_id").alias("__ivfpq_neighbor"))
    hits = exact.join(
        approx,
        (exact["query_id"] == approx["query_id"])
        & (exact["neighbor_id"] == approx["__ivfpq_neighbor"]),
        "left_semi",
    )
    n_exact = exact.groupBy("query_id").agg(F.count("*").alias("__n_exact"))
    n_hit = hits.groupBy("query_id").agg(F.count("*").alias("__n_hit"))
    return (
        n_exact.join(n_hit, "query_id", "left")
        .select(
            "query_id",
            (
                F.coalesce(F.col("__n_hit"), F.lit(0))
                / F.col("__n_exact")
                >= F.lit(0.6)
            ).alias("recall_ge_floor"),
        )
    )


# ---------------------------------------------------------------------------
# L4: text analysis
# ---------------------------------------------------------------------------

_STOP_SQL = "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"


@query(
    "l4_token_stats",
    sql=f"""
    WITH tok AS (
        SELECT doc_id, lang, {sql_tokens('text')} AS toks FROM documents
    )
    SELECT doc_id, lang,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
           (floor((CAST(length(array_to_string(toks, '')) AS DOUBLE)
                 / greatest(len(toks), 1)) * 1000000 + 0.5) / 1000000) AS avg_token_len,
           (floor((CAST(len(list_intersect(list_distinct(toks), {_STOP_SQL})) AS DOUBLE)
                 / greatest(len(list_distinct(toks)), 1)) * 1000000 + 0.5) / 1000000) AS stopword_ratio
    FROM tok
    """,
)
def l4_token_stats(spark, sf_dir):
    """Token counting + quality signals per document, all JVM-side column
    math (no UDF): the core text-quality scoring pass of a training-data
    pipeline."""
    t = Tables(spark, sf_dir)
    toks = tokens(F.col("text"))
    dtoks = F.array_distinct(toks)
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    return t.documents.select(
        "doc_id",
        "lang",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(dtoks).cast("long").alias("n_distinct"),
        rnd(
            F.length(F.concat_ws("", toks)).cast("double")
            / F.greatest(F.size(toks), F.lit(1)),
            6,
        ).alias("avg_token_len"),
        rnd(
            F.size(F.array_intersect(dtoks, stop_arr)).cast("double")
            / F.greatest(F.size(dtoks), F.lit(1)),
            6,
        ).alias("stopword_ratio"),
    )


@query(
    "l5_lang_id",
    sql=f"""
    WITH scored AS (
        SELECT lang,
               CASE WHEN len(list_intersect({sql_tokens('text')},
                                            {_STOP_SQL})) >= 1
                    THEN 'en' ELSE 'other' END AS pred_lang
        FROM documents
    )
    SELECT lang, pred_lang, count(*) AS n FROM scored GROUP BY lang, pred_lang
    """,
)
def l5_lang_id(spark, sf_dir):
    """Language-ID heuristic (stopword-hit rule), confusion-matrix output.
    A real pipeline swaps in an n-gram model; the Spark plumbing — per-doc
    scoring then grouped confusion counts — is what this declares."""
    t = Tables(spark, sf_dir)
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    pred = F.when(
        F.size(F.array_intersect(tokens(F.col("text")), stop_arr)) >= 1, "en"
    ).otherwise("other")
    return (
        t.documents.select("lang", pred.alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "l7_quality_profile",
    sql="""
    SELECT source, count(*) AS n_docs,
           (floor((avg(n_chars)) * 10000 + 0.5) / 10000) AS avg_chars,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
    FROM documents GROUP BY source
    """,
)
def l7_quality_profile(spark, sf_dir):
    t = Tables(spark, sf_dir)
    return t.documents.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        rnd(F.avg("n_chars"), 4).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.countDistinct("lang").alias("n_langs"),
    )


@query(
    "l4_doc_fingerprint",
    sql=f"""
    SELECT doc_id, min({sql_hex_hash64(f"substr(t, i, 8)")}) AS fingerprint
    FROM (
        SELECT doc_id, lower(text) AS t,
               unnest(generate_series(1, greatest(length(text) - 7, 1))) AS i
        FROM documents
    ) GROUP BY doc_id
    """,
)
def l4_doc_fingerprint(spark, sf_dir):
    """Winnowing-style document fingerprint: min rolling (8-char shingle)
    hash per doc — a compact identity robust to small appends. The md5 per
    shingle dominates, so the narrow (id, text) projection is repartitioned
    to cluster parallelism first (no-op when the scan already parallelizes;
    single-row-group files otherwise hash on one core)."""
    t = Tables(spark, sf_dir)
    from mrjob_spark.functions.text import char_shingles
    from mrjob_spark.operators.partitioning import parallelize_narrow_scan

    docs = parallelize_narrow_scan(t.documents.select("doc_id", "text"))
    return (
        docs.select(
            "doc_id", F.explode(char_shingles(F.col("text"), 8)).alias("shingle")
        )
        .groupBy("doc_id")
        .agg(F.min(hex_hash64(F.col("shingle"))).alias("fingerprint"))
    )


# ---------------------------------------------------------------------------
# L6: multimodal byte columns
# ---------------------------------------------------------------------------


@query(
    "l6_multimodal_bytes",
    sql="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS content_hash,
           substr(text, 1, 8) AS head
    FROM documents
    """,
)
def l6_multimodal_bytes(spark, sf_dir):
    """Opaque binary payload handling (SURVEY §2.11 L6): text re-encoded as
    a BinaryType column stands in for image/audio bytes — pure JVM column
    math over the binary payload (length/hash/slice need no decode)."""
    t = Tables(spark, sf_dir)
    payload = F.encode(F.col("text"), "UTF-8")
    return t.documents.select(
        "doc_id",
        F.length(payload).cast("long").alias("n_bytes"),
        F.md5("text").alias("content_hash"),
        F.substring("text", 1, 8).alias("head"),
    )


@query(
    "l6_media_features",
    sql="""
    SELECT doc_id, 'unknown' AS modality,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS content_hash
    FROM documents
    """,
)
def l6_media_features(spark, sf_dir):
    """L6 via the real multimodal operator (operators/multimodal.py): bytes
    cross the JVM→Python boundary in Arrow batches, mapInPandas sniffs
    container headers (PNG/GIF/JPEG/WAV parse from magic bytes; UTF-8 text
    is modality 'unknown') and emits typed metadata + a deterministic
    md5-derived feature vector. The oracle checks the metadata columns;
    the binaryFile-source path and real-container sniffing are covered by
    tests/test_multimodal.py."""
    from mrjob_spark.operators.multimodal import featurize_media

    t = Tables(spark, sf_dir)
    # NOTE: no widen before the Arrow boundary here — these payloads are
    # tiny (~150 B) so header sniffing is cheap and the repartition benched
    # 1.5x slower; real media (MBs per row) would want
    # parallelize_narrow_scan like the hashing-heavy operators do.
    payload = t.documents.select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("content")
    )
    return featurize_media(payload, id_cols=("doc_id",)).select(
        "doc_id", "modality", "n_bytes", "content_hash"
    )


@query(
    "l6_cross_modal_dedup",
    sql="""
    WITH media AS (
        SELECT doc_id + 1000000 AS media_id, md5(text) AS h
        FROM documents WHERE doc_id % 3 = 0
        UNION ALL
        SELECT doc_id + 2000000 AS media_id, md5(text) AS h
        FROM documents WHERE doc_id % 5 = 0
    ),
    m AS (
        SELECT h, COUNT(*) AS n_media_twins,
               MIN(media_id) AS first_media_id
        FROM media GROUP BY h
    )
    SELECT d.doc_id,
           COALESCE(m.n_media_twins, 0) AS n_media_twins,
           m.first_media_id,
           CASE WHEN m.n_media_twins IS NOT NULL
                THEN 'matched' ELSE 'unmatched' END AS status
    FROM documents d
    LEFT JOIN m ON m.h = md5(d.text)
    """,
)
def l6_cross_modal_dedup(spark, sf_dir):
    """Cross-modal EXACT dedup (VERDICT r11 task 5 — the L1 hash-groupBy
    idiom over BinaryType, operators/multimodal.py:binary_content_dedup):
    which documents' byte payloads already exist in a media store. The
    store is two overlapping shards derived from the corpus (doc_id%3 and
    doc_id%5 re-encoded as binary under distinct media_ids), so twin
    counts vary 0/1/2 and the doc↔media hash join is exercised for hits,
    misses, and multi-hit fan-in.

    Scale shape: both sides hash JVM-side (F.md5 over the binary column);
    the media store pre-aggregates map-side to one row per distinct
    content hash BEFORE its shuffle, so media bytes never move — only
    16-byte hashes — and the doc side joins that hash table. At 100 TB of
    media vs a text corpus this is one hash-key shuffle each side."""
    from mrjob_spark.operators.multimodal import binary_content_dedup

    t = Tables(spark, sf_dir)
    docs = t.documents.select("doc_id", "text")
    payload = F.encode(F.col("text"), "UTF-8")
    media = (
        docs.where(F.col("doc_id") % 3 == 0)
        .select(
            (F.col("doc_id") + 1000000).alias("media_id"),
            payload.alias("content"),
        )
        .unionByName(
            docs.where(F.col("doc_id") % 5 == 0).select(
                (F.col("doc_id") + 2000000).alias("media_id"),
                payload.alias("content"),
            )
        )
    )
    return binary_content_dedup(docs, media, doc_payload=payload)


@query(
    "l6_media_metadata_extract",
    sql="""
    SELECT doc_id,
           CASE WHEN doc_id % 4 IN (0, 1) THEN 'image'
                WHEN doc_id % 4 = 2 THEN 'audio'
                ELSE 'unknown' END AS modality,
           CASE WHEN doc_id % 4 = 0 THEN 'png'
                WHEN doc_id % 4 = 1 THEN 'gif'
                WHEN doc_id % 4 = 2 THEN 'wav' END AS format,
           CAST(CASE WHEN doc_id % 4 = 0 THEN 1 + octet_length(encode(text)) % 1024
                     WHEN doc_id % 4 = 1 THEN 1 + octet_length(encode(text)) % 640
                END AS INTEGER) AS width,
           CAST(CASE WHEN doc_id % 4 = 0 THEN 1 + doc_id % 768
                     WHEN doc_id % 4 = 1 THEN 1 + doc_id % 480
                END AS INTEGER) AS height,
           CAST(CASE WHEN doc_id % 4 = 2 THEN 8000 * (1 + doc_id % 3)
                END AS INTEGER) AS sample_rate,
           CAST(CASE WHEN doc_id % 4 = 2 THEN 1 + doc_id % 2
                END AS INTEGER) AS channels
    FROM documents
    """,
)
def l6_media_metadata_extract(spark, sf_dir):
    """Media-metadata struct extraction at corpus scale (VERDICT r11 task
    5): every document is re-encoded as a byte-accurate container payload
    (real PNG/GIF/WAV headers on a doc_id%4 schedule,
    operators/multimodal.py:synthesize_media_payloads), then the REAL
    header sniffer parses modality/format/width/height/sample_rate/
    channels back out of the leading bytes via Arrow-batched mapInPandas
    (featurize_media — the same code path a binaryFile scan of actual
    media takes). The oracle recomputes the metadata arithmetically from
    (doc_id, text length), so any drift in the binary construction OR the
    parser breaks the hash match.

    Scale shape: two Arrow map stages, ZERO shuffles — extraction
    parallelizes with the scan; payload bytes stay inside one task from
    synthesis to parse."""
    from mrjob_spark.operators.multimodal import (
        featurize_media,
        synthesize_media_payloads,
    )

    t = Tables(spark, sf_dir)
    payloads = synthesize_media_payloads(
        t.documents.select("doc_id", "text")
    )
    return featurize_media(payloads, id_cols=("doc_id",)).select(
        "doc_id", "modality", "format", "width", "height",
        "sample_rate", "channels",
    )


# ---------------------------------------------------------------------------
# L8: training-set assembly — mixture sampling, quality filtering, packing.
# Not in the reference at all; these are the operations that sit between
# "clean corpus" and "training batches" in a real pipeline, expressed so
# they parallelize embarrassingly (per-row hash / flag math, one window).
# ---------------------------------------------------------------------------

@query(
    "l8_weighted_mixture",
    sql=f"""
    SELECT doc_id, source FROM (
        SELECT doc_id, source,
               {sql_hex_hash32("concat(CAST(doc_id AS VARCHAR), ':mix')")} % 10000
                   AS u,
               {sql_hex_hash32("source")} % 9000 + 1000 AS keep_bp
        FROM documents
    ) WHERE u < keep_bp
    """,
)
def l8_weighted_mixture(spark, sf_dir):
    """Deterministic data-mixture sampling: every source kept at its own
    rate (here a hash-derived 10-100% weight per source; real runs pass a
    weight table) by hashing the document id — the mixture-weights step of
    training-set assembly. Hash-based (not ``sample()``): the keep decision
    is a pure per-row function of the id, so it's reproducible across
    engines, runs, partitionings, and task retries, and needs no RNG state.
    Per-row math only — no shuffle at any scale."""
    t = Tables(spark, sf_dir)
    u = F.pmod(
        hex_hash32(F.concat(F.col("doc_id").cast("string"), F.lit(":mix"))),
        F.lit(10_000),
    )
    keep_bp = F.pmod(hex_hash32(F.col("source")), F.lit(9_000)) + F.lit(1_000)
    return (
        t.documents.select("doc_id", "source", u.alias("u"), keep_bp.alias("bp"))
        .where(F.col("u") < F.col("bp"))
        .select("doc_id", "source")
    )


@query(
    "l8_temperature_mixture",
    sql=f"""
    WITH counts AS (
        SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang
    ),
    w AS (
        SELECT lang, n_docs,
               CAST(floor(sqrt(n_docs) * 1000) AS BIGINT) AS w
        FROM counts
    ),
    z AS (SELECT CAST(sum(w) AS BIGINT) AS z FROM w),
    bp AS (
        SELECT lang, n_docs,
               CAST(least(10000, (10000 * 250 * w) // (z * n_docs))
                    AS BIGINT) AS keep_bp
        FROM w, z
    )
    SELECT d.lang, b.n_docs, b.keep_bp,
           CAST(sum(CASE WHEN {sql_hex_hash32(
               "concat(CAST(d.doc_id AS VARCHAR), ':temp')")} % 10000
                          < b.keep_bp THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept
    FROM documents d JOIN bp b USING (lang)
    GROUP BY d.lang, b.n_docs, b.keep_bp
    """,
)
def l8_temperature_mixture(spark, sf_dir):
    """Temperature-scaled domain mixture (the multilingual sampling rule,
    q_s ∝ p_s^α with α = 1/2): low-resource languages are upsampled
    relative to proportional sampling so a 250-doc budget isn't
    swallowed by the head language. Unlike ``l8_weighted_mixture``
    (fixed per-source rates), the weights here are computed FROM corpus
    statistics, then applied with the same RNG-free hash keep.

    Cross-engine determinism is engineered, not hoped for: per-domain
    weights are ``floor(sqrt(n) * 1000)`` — IEEE sqrt is correctly
    rounded, so the floored int is bit-identical everywhere — and the
    normalizer Z is an INTEGER sum of those ints, so no float
    accumulation order can flip a keep threshold (a double Σ sqrt(n)
    would differ between engines in the last bit). Scale shape: one
    partial-agg count per domain (tiny), the threshold table broadcast
    back, keep decisions map-side per row, one final per-domain
    aggregate — the corpus never shuffles."""
    t = Tables(spark, sf_dir)
    docs = t.documents.select("doc_id", "lang")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    weights = counts.withColumn(
        "w",
        F.floor(F.sqrt(F.col("n_docs").cast("double")) * 1000).cast("long"),
    )
    z = weights.agg(F.sum("w").alias("z"))
    bp = (
        weights.crossJoin(F.broadcast(z))
        .withColumn(
            "keep_bp",
            F.least(
                F.lit(10_000).cast("long"),
                F.expr("(10000 * 250 * w) DIV (z * n_docs)"),
            ),
        )
        .select("lang", "n_docs", "keep_bp")
    )
    u = F.pmod(
        hex_hash32(F.concat(F.col("doc_id").cast("string"), F.lit(":temp"))),
        F.lit(10_000),
    )
    return (
        docs.join(F.broadcast(bp), "lang")
        .groupBy("lang", "n_docs", "keep_bp")
        .agg(
            F.sum(F.when(u < F.col("keep_bp"), 1).otherwise(0)).alias(
                "n_kept"
            )
        )
    )


@query(
    "l8_quality_filter",
    sql=f"""
    WITH scored AS (
        SELECT doc_id,
               len({sql_tokens('text')}) AS n_tokens,
               CASE WHEN len({sql_tokens('text')}) = 0 THEN 0.0
                    ELSE CAST(length(array_to_string({sql_tokens('text')}, ''))
                              AS DOUBLE) / len({sql_tokens('text')}) END
                   AS avg_tok_len,
               CASE WHEN length(text) = 0 THEN 1.0
                    ELSE 1.0 - CAST(length(regexp_replace(lower(text),
                              '[^a-z0-9 ]', '', 'g'))
                              AS DOUBLE) / length(text) END AS symbol_ratio
        FROM documents
    )
    SELECT doc_id,
           CASE WHEN n_tokens < 5 THEN 'too_short'
                WHEN avg_tok_len < 2.0 THEN 'short_tokens'
                WHEN avg_tok_len > 12.0 THEN 'long_tokens'
                WHEN symbol_ratio > 0.4 THEN 'too_many_symbols'
                ELSE 'keep' END AS verdict
    FROM scored
    """,
)
def l8_quality_filter(spark, sf_dir):
    """Composed heuristic quality filter (C4/Gopher-rule shape): length,
    mean token length, and symbol-ratio gates, emitting keep/reject WITH the
    first failing rule — the reject-reason histogram is what you actually
    tune on. All JVM-side column math; the filter column pattern (verdict,
    not a dropped row) keeps the full corpus auditable.

    Two costs found by the round-5 sf1 screen (20.7× per 10× docs, fixed
    to ~linear): (1) with no downstream exchange the per-row math ran at
    SCAN parallelism — one task on a single-row-group file —
    ``parallelize_narrow_scan`` pays one narrow round-robin shuffle to
    recover cluster parallelism (a structural no-op at real scale);
    (2) the tokens array was re-split for every CASE branch that
    references it (conditional branches defeat codegen subexpression
    elimination) — aliasing it as a COLUMN in a prior select makes
    CollapseProject keep the single evaluation (its own no-inline
    heuristic for non-cheap, multiply-referenced aliases), measured
    14.2 → 3.7 s at sf1. The symbol count is one ``regexp_replace``
    pass (the per-char ``regexp_extract_all`` array build was ~5× the
    cost); the 1.0 - alnum/len arithmetic is unchanged, so the ratio is
    bit-identical to the oracle's."""
    from mrjob_spark.operators.partitioning import parallelize_narrow_scan

    t = Tables(spark, sf_dir)
    docs = parallelize_narrow_scan(t.documents.select("doc_id", "text"))
    scored = docs.select(
        "doc_id", "text", tokens(F.col("text")).alias("_toks")
    )
    tk = F.col("_toks")
    n_tokens = F.size(tk)
    avg_tok_len = F.when(n_tokens == 0, F.lit(0.0)).otherwise(
        F.length(F.concat_ws("", tk)).cast("double") / n_tokens
    )
    alnum_len = F.length(
        F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", "")
    )
    symbol_ratio = F.when(F.length("text") == 0, F.lit(1.0)).otherwise(
        F.lit(1.0) - alnum_len.cast("double") / F.length("text")
    )
    verdict = (
        F.when(n_tokens < 5, "too_short")
        .when(avg_tok_len < 2.0, "short_tokens")
        .when(avg_tok_len > 12.0, "long_tokens")
        .when(symbol_ratio > 0.4, "too_many_symbols")
        .otherwise("keep")
    )
    return scored.select("doc_id", verdict.alias("verdict"))


_PACK_BUDGET = 2048

#: Target sub-bucket count per source for the scalable packing twin: the
#: broadcast offsets table is bounded by sources x this, independent of
#: corpus size (width scales instead — see l8_sequence_packing_scalable).
#: 4096 buckets ≈ full parallelism on thousands of cores while keeping the
#: offsets broadcast in the kilobyte-to-megabyte range.
_PACK_TARGET_BUCKETS = 4096

_PACKING_SQL = f"""
    SELECT doc_id, source, n_tokens,
           CAST(floor((cum - n_tokens) / {_PACK_BUDGET}.0) AS BIGINT) AS pack_id
    FROM (
        SELECT doc_id, source, n_tokens,
               sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) AS cum
        FROM (SELECT doc_id, source, len({sql_tokens('text')}) AS n_tokens
              FROM documents)
    )
"""


@query(
    "l8_sequence_packing",
    sql=_PACKING_SQL,
)
def l8_sequence_packing(spark, sf_dir):
    """Token-budget sequence packing: documents are assigned to fixed-size
    training sequences (packs of 2048 tokens) by their starting offset
    in a deterministic per-source stream — the step that turns a filtered
    corpus into dense batches. One window per source partition (running
    token sum), so parallelism = number of sources; for skewed sources,
    sub-shard the partition key exactly like w3's scalable twin."""
    from pyspark.sql import Window

    t = Tables(spark, sf_dir)
    docs = t.documents.select(
        "doc_id", "source", F.size(tokens(F.col("text"))).alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    return docs.select(
        "doc_id",
        "source",
        "n_tokens",
        F.floor((cum - F.col("n_tokens")) / float(_PACK_BUDGET))
        .cast("long")
        .alias("pack_id"),
    )


@query(
    "skew_salted_collect_set",
    sql="""
    SELECT lang,
           array_to_string(list_sort(list_distinct(list(source))), ',')
               AS source_set
    FROM documents GROUP BY lang
    """,
)
def skew_salted_collect_set(spark, sf_dir):
    """Skew-safe non-algebraic aggregation (operators/skew.py): collect_set
    has no map-side partial form, so under the naive plan every row of a
    hot key lands on one task. The salted two-phase variant spreads a hot
    key over n_salts tasks and flattens bounded partial sets — here
    collecting each language's source set, oracle-checked against DuckDB's
    straight list aggregation (same sorted result, skew-proof plan). The
    set is emitted as a joined string: array columns stringify differently
    across engines, scalars hash identically."""
    from mrjob_spark.operators.skew import salted_collect_set

    t = Tables(spark, sf_dir)
    return salted_collect_set(t.documents, "lang", "source", n_salts=8).select(
        "lang", F.array_join("source_set", ",").alias("source_set")
    )


# ---------------------------------------------------------------------------
# The two canonical mrjob examples, relationally.
# ---------------------------------------------------------------------------


@query(
    "mr_wordcount",
    sql=f"""
    SELECT word, count(*) AS n FROM (
        SELECT unnest({sql_tokens('text')}) AS word FROM documents
    ) GROUP BY word
    """,
)
def mr_wordcount(spark, sf_dir):
    """mrjob's flagship example (mr_word_freq_count.py:24-33): tokenize +
    count. Catalyst's partial aggregation is the combiner."""
    t = Tables(spark, sf_dir)
    return (
        t.documents.select(F.explode(tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "mr_most_used_word",
    sql=f"""
    SELECT word, n FROM (
        SELECT word, count(*) AS n FROM (
            SELECT unnest({sql_tokens('text')}) AS word FROM documents
        ) WHERE word NOT IN (SELECT UNNEST({_STOP_SQL}))
        GROUP BY word
    ) ORDER BY n DESC, word LIMIT 1
    """,
)
def mr_most_used_word(spark, sf_dir):
    """mr_most_used_word.py:33-77: stopword anti-join + global argmax
    (single-reducer pattern → ungrouped top-1)."""
    t = Tables(spark, sf_dir)
    stop = local_frame(spark, {"word": list(STOPWORDS)}, "word string")
    return (
        t.documents.select(F.explode(tokens(F.col("text"))).alias("word"))
        .join(F.broadcast(stop), "word", "left_anti")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "word")
        .limit(1)
    )


# ---------------------------------------------------------------------------
# L4/L5 completions: n-grams, TF-IDF, naive-Bayes classification scoring.
# SURVEY §2.11 declares L4 as "tokenize/ngram/tf-idf/langfilter" and L5 as
# the mr_text_classifier scoring pipeline; tokenize/langfilter landed in
# rounds 1-2, these close the family.
# ---------------------------------------------------------------------------


@query(
    "l4_ngrams",
    sql=f"""
    WITH tok AS (
        SELECT doc_id, {sql_tokens('text')} AS toks FROM documents
    ), bg AS (
        SELECT unnest(list_transform(range(1, greatest(len(toks), 1)),
                                     i -> toks[i] || ' ' || toks[i + 1]))
                   AS bigram
        FROM tok
    )
    SELECT bigram, count(*) AS n FROM bg GROUP BY bigram
    ORDER BY n DESC, bigram LIMIT 50
    """,
)
def l4_ngrams(spark, sf_dir):
    """Word-bigram counting (the ``count_ngrams`` idiom of
    ``mrjob/examples/mr_text_classifier.py:88-126``), entirely JVM-side:
    adjacent-token pairs via ``zip_with`` over two shifted ``slice`` views
    of the token array — no posexplode + self-join, no UDF. One explode and
    one map-side-combinable count: linear in corpus size at any scale."""
    from mrjob_spark.operators.partitioning import parallelize_narrow_scan

    t = Tables(spark, sf_dir)

    def _bigrams(toks):
        # tokens bound once per row (bind1): as a captured expression the
        # tokenize re-runs for each of the 4 references below
        n_pairs = F.greatest(F.size(toks) - 1, F.lit(0))
        return F.zip_with(
            F.slice(toks, 1, n_pairs),
            F.slice(toks, 2, n_pairs),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )

    bigrams = bind1(tokens(F.col("text")), _bigrams)
    docs = parallelize_narrow_scan(t.documents.select("text"))
    return (
        docs.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "bigram")
        .limit(50)
    )


@query(
    "l4_tfidf",
    sql=f"""
    WITH tok AS (
        SELECT doc_id, unnest({sql_tokens('text')}) AS term FROM documents
    ), tf AS (
        SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term
    ), df AS (
        SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term
    ), n AS (
        SELECT count(*) AS n_docs FROM documents
    )
    SELECT tf.doc_id, tf.term, tf.tf,
           {sql_rnd('tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df)', 6)}
               AS tfidf
    FROM tf JOIN df ON df.term = tf.term CROSS JOIN n
    """,
)
def l4_tfidf(spark, sf_dir):
    """TF-IDF term weighting (SURVEY L4). Two shuffles total — (doc, term)
    counts and per-term document frequencies — then the small df table and
    the single-row corpus count join back by broadcast, so the big side is
    shuffled exactly once. The idf model (|vocab| rows) is broadcast-sized
    by construction at any corpus scale."""
    t = Tables(spark, sf_dir)
    tok = t.documents.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = t.documents.agg(F.count(F.lit(1)).alias("n_docs"))
    tfidf = rnd(
        F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
    )
    return (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n))
        .select("doc_id", "term", "tf", tfidf.alias("tfidf"))
    )


@query(
    "l5_text_classifier",
    sql=f"""
    WITH tok AS (
        SELECT doc_id, lang, unnest({sql_tokens('text')}) AS term
        FROM documents
    ), model AS (
        SELECT lang, term, count(*) AS c_tl FROM tok GROUP BY lang, term
    ), lang_tot AS (
        SELECT lang, count(*) AS c_l FROM tok GROUP BY lang
    ), prior AS (
        SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang
    ), vocab AS (
        SELECT count(DISTINCT term) AS v FROM tok
    ), corpus AS (
        SELECT count(*) AS n FROM documents
    ), doc_terms AS (
        SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term
    ), scored AS (
        SELECT dt.doc_id, p.lang,
               {sql_rnd('ln(CAST(p.n_docs AS DOUBLE) / corpus.n)', 6)}
                   + {sql_dsum(
                       'dt.tf * ln((coalesce(m.c_tl, 0) + 1.0)'
                       ' / (lt.c_l + vocab.v))')}
                   AS score
        FROM doc_terms dt
        CROSS JOIN prior p
        CROSS JOIN vocab CROSS JOIN corpus
        JOIN lang_tot lt ON lt.lang = p.lang
        LEFT JOIN model m ON m.lang = p.lang AND m.term = dt.term
        GROUP BY dt.doc_id, p.lang, p.n_docs, corpus.n, lt.c_l, vocab.v
    )
    SELECT s.doc_id, d.lang, s.lang AS pred_lang
    FROM (
        SELECT doc_id, lang,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, lang) AS rk
        FROM scored
    ) s JOIN documents d ON d.doc_id = s.doc_id
    WHERE s.rk = 1
    """,
)
def l5_text_classifier(spark, sf_dir):
    """Naive-Bayes text classification scoring — the
    ``mrjob/examples/mr_text_classifier.py:141-160`` pipeline re-expressed
    relationally: train per-(lang, term) add-one-smoothed log-likelihoods
    over the corpus, then score every document against every language and
    take the argmax. Scale shape: the exploded token stream is aggregated
    ONCE (into per-(doc, lang, term) counts); the model, language totals,
    and vocab size all derive from that small intermediate, and priors /
    corpus count come from the unexploded table — so the big stream pays a
    single shuffle, and scoring is a map-side broadcast join over it
    followed by one grouped sum. Cross-engine float determinism: each
    per-token log term accumulates in DECIMAL(38,6) (order-independent —
    see functions/rounding.py), and the prior is rounded to the same grid,
    so both engines produce bit-identical scores and the argmax can't
    flip."""
    t = Tables(spark, sf_dir)
    docs = t.documents
    # NOTE: no input widen here — tokenization is cheap (no hashing) and
    # the aggregation's own exchange supplies the parallelism; a
    # repartition before the explode benched 25% slower at sf0.1.
    tok = docs.select(
        "doc_id", "lang", F.explode(tokens(F.col("text"))).alias("term")
    )
    # lang is constant per doc, so carrying it through the doc-term count
    # is free — and every training aggregate then derives from this one
    # (already shuffled, far smaller) intermediate instead of re-exploding
    # the corpus per consumer.
    doc_terms = tok.groupBy("doc_id", "lang", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    model = doc_terms.groupBy("lang", "term").agg(F.sum("tf").alias("c_tl"))
    lang_tot = model.groupBy("lang").agg(F.sum("c_tl").alias("c_l"))
    prior = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    vocab = model.select("term").distinct().agg(
        F.count(F.lit(1)).alias("v")
    )
    corpus = docs.agg(F.count(F.lit(1)).alias("n"))

    langs = (
        F.broadcast(prior)
        .join(F.broadcast(lang_tot), "lang")
        .crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(corpus))
    )
    per_token = F.col("tf") * F.log(
        (F.coalesce(F.col("c_tl"), F.lit(0)) + F.lit(1.0))
        / (F.col("c_l") + F.col("v"))
    )
    scored = (
        doc_terms.withColumnRenamed("lang", "actual_lang")
        .crossJoin(langs)
        .join(F.broadcast(model), ["lang", "term"], "left")
        .groupBy("doc_id", "actual_lang", "lang", "n_docs", "n", "c_l", "v")
        .agg(
            (
                rnd(F.log(F.col("n_docs").cast("double") / F.col("n")), 6)
                + dsum(per_token)
            ).alias("score")
        )
    )
    from pyspark.sql import Window

    rk = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "lang")
    )
    return (
        scored.select("doc_id", "actual_lang", "lang", "score")
        .withColumn("rk", rk)
        .where(F.col("rk") == 1)
        .select(
            "doc_id",
            F.col("actual_lang").alias("lang"),
            F.col("lang").alias("pred_lang"),
        )
    )


@query(
    "l8_decontaminate",
    sql=f"""
    WITH sh AS (
        SELECT DISTINCT doc_id,
               {sql_hex_hash32('substr(t, i, 8)')} AS h
        FROM (
            SELECT doc_id, lower(text) AS t,
                   unnest(generate_series(1, greatest(length(text) - 7, 1)))
                       AS i
            FROM documents
        )
    ), bench_sh AS (
        SELECT DISTINCT h FROM sh WHERE doc_id % 97 = 0
    ), corpus_sh AS (
        SELECT doc_id, h FROM sh WHERE doc_id % 97 <> 0
    ), overlap AS (
        SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_shared
        FROM corpus_sh c JOIN bench_sh b ON b.h = c.h
        GROUP BY c.doc_id
    )
    SELECT d.doc_id,
           coalesce(o.n_shared, 0) AS n_shared,
           CASE WHEN coalesce(o.n_shared, 0) >= 16 THEN 1 ELSE 0 END
               AS contaminated
    FROM documents d LEFT JOIN overlap o ON o.doc_id = d.doc_id
    WHERE d.doc_id % 97 <> 0
    """,
)
def l8_decontaminate(spark, sf_dir):
    """Benchmark decontamination — the training-pipeline step that removes
    corpus documents overlapping the evaluation set (here: the deterministic
    ``doc_id % 97 = 0`` subset stands in for the benchmark; real runs pass
    one). Overlap = count of distinct shared 8-char shingle hashes; >= 16
    flags the document. Scale shape: the benchmark shingle set is tiny by
    construction (eval sets are small), so it broadcasts and the corpus
    stream is never shuffled for the probe — the only shuffles are the
    per-doc distinct + overlap count, both map-side combinable."""
    t = Tables(spark, sf_dir)
    from mrjob_spark.functions.text import char_shingles
    from mrjob_spark.operators.partitioning import parallelize_narrow_scan

    docs = parallelize_narrow_scan(t.documents.select("doc_id", "text"))
    sh = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    char_shingles(F.col("text"), 8), lambda s: hex_hash32(s)
                )
            )
        ).alias("h"),
    )
    bench_sh = sh.where(F.col("doc_id") % 97 == 0).select("h").distinct()
    corpus_sh = sh.where(F.col("doc_id") % 97 != 0)
    overlap = (
        corpus_sh.join(F.broadcast(bench_sh), "h")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        t.documents.select("doc_id")
        .where(F.col("doc_id") % 97 != 0)
        .join(overlap, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_shared"), F.lit(0)).alias("n_shared"),
            F.when(F.coalesce(F.col("n_shared"), F.lit(0)) >= 16, 1)
            .otherwise(0)
            .alias("contaminated"),
        )
    )


@query(
    "l8_decontaminate_bloom",
    sql=f"""
    WITH sh AS (
        SELECT DISTINCT doc_id,
               {sql_hex_hash32('substr(t, i, 8)')} AS h
        FROM (
            SELECT doc_id, lower(text) AS t,
                   unnest(generate_series(1, greatest(length(text) - 7, 1)))
                       AS i
            FROM documents
        )
    ), bench_sh AS (
        SELECT DISTINCT h FROM sh WHERE doc_id % 97 = 0
    ), corpus_sh AS (
        SELECT doc_id, h FROM sh WHERE doc_id % 97 <> 0
    ), overlap AS (
        SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_shared
        FROM corpus_sh c JOIN bench_sh b ON b.h = c.h
        GROUP BY c.doc_id
    )
    SELECT d.doc_id,
           coalesce(o.n_shared, 0) AS n_shared,
           CASE WHEN coalesce(o.n_shared, 0) >= 16 THEN 1 ELSE 0 END
               AS contaminated
    FROM documents d LEFT JOIN overlap o ON o.doc_id = d.doc_id
    WHERE d.doc_id % 97 <> 0
    """,
)
def l8_decontaminate_bloom(spark, sf_dir):
    """Bloom-tier decontamination — same semantics (and the same oracle
    SQL, verbatim) as ``l8_decontaminate``, restructured for the regime
    where the benchmark shingle set is too large to broadcast exactly: a
    full eval-suite union at 100 TB is tens of GB of distinct n-grams,
    which no longer fits an exact broadcast hash table, while joining
    corpus shingles against it shuffle-side costs a corpus-sized exchange.

    Three stages, each bounded (operators/bloom.py):

    1. BUILD the Bloom bitmap over benchmark shingles: one bit_or
       aggregation whose shuffle is capped by the bitmap size (2^20 bits →
       ≤16k rows/partition), collecting 128 KiB of driver state.
    2. PROBE every corpus shingle map-side (k JVM bit-tests against the
       broadcast bitmap) — the corpus stream is filtered to candidates
       BEFORE any exchange, with zero false negatives by construction.
    3. CONFIRM candidates with an exact join against the true benchmark
       set — no broadcast hint: both sides are now candidate-sized (true
       overlaps + the filter's ~0.5% FPs), so AQE picks the strategy and
       the exchange moves candidates, never the corpus.

    Output is value-identical to the exact form — the Bloom filter only
    prunes rows the exact join would drop anyway (no-false-negative
    property is hypothesis-tested in tests/test_bloom.py)."""
    t = Tables(spark, sf_dir)
    from mrjob_spark.functions.text import char_shingles
    from mrjob_spark.operators.bloom import bloom_build, bloom_filter_maybe
    from mrjob_spark.operators.partitioning import parallelize_narrow_scan

    docs = parallelize_narrow_scan(t.documents.select("doc_id", "text"))
    sh = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    char_shingles(F.col("text"), 8), lambda s: hex_hash32(s)
                )
            )
        ).alias("h"),
    )
    bench_sh = sh.where(F.col("doc_id") % 97 == 0).select("h").distinct()
    bitmap = bloom_build(bench_sh, "h")
    corpus_sh = sh.where(F.col("doc_id") % 97 != 0)
    candidates = bloom_filter_maybe(corpus_sh, "h", bitmap)
    overlap = (
        candidates.join(bench_sh, "h")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        t.documents.select("doc_id")
        .where(F.col("doc_id") % 97 != 0)
        .join(overlap, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_shared"), F.lit(0)).alias("n_shared"),
            F.when(F.coalesce(F.col("n_shared"), F.lit(0)) >= 16, 1)
            .otherwise(0)
            .alias("contaminated"),
        )
    )


#: GPT-2-style pre-tokenizer regex, reduced to the dialect-portable subset
#: (leading-space-attached letter runs, digit runs, punctuation runs).
#: Alternation order matters and is leftmost-first in BOTH Java regex and
#: RE2, so Spark and DuckDB segment identically.
_BPE_RE = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+"


@query(
    "l4_bpe_token_count",
    sql=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(lower(text), '{_BPE_RE}')) AS BIGINT)
               AS n_bpe_tokens,
           CAST(len(regexp_extract_all(text, '[^ ]+')) AS BIGINT)
               AS n_ws_tokens,
           CAST(length(text) AS BIGINT) AS n_chars
    FROM documents
    """,
)
def l4_bpe_token_count(spark, sf_dir):
    """Token counting two ways (SURVEY L4): whitespace tokens and a BPE-ish
    pre-tokenizer segmentation (the GPT-2 pattern family: space-attached
    letter runs / digit runs / punctuation runs). Per-row regex count with
    zero shuffles — the cheapest possible cost estimate for sequence-length
    budgeting before real tokenization."""
    t = Tables(spark, sf_dir)
    return t.documents.select(
        "doc_id",
        F.size(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(_BPE_RE), F.lit(0))
        )
        .cast("long")
        .alias("n_bpe_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[^ ]+"), F.lit(0)))
        .cast("long")
        .alias("n_ws_tokens"),
        F.length("text").cast("long").alias("n_chars"),
    )


# ---------------------------------------------------------------------------
# Round-4 LLM-pipeline additions: span-level dedup, repetition-quality
# signals, vocabulary building, and redaction plumbing (SURVEY.md §2.11
# L2/L4/L5/L8 extensions).
# ---------------------------------------------------------------------------

_SPAN_W = 10  # tokens per span (stride == width: disjoint spans)


@query(
    "l2_span_dedup",
    sql=f"""
    WITH spans AS (
        SELECT DISTINCT doc_id,
               md5(unnest(list_transform(
                   range(CAST(ceil(len(toks) / {_SPAN_W}.0) AS BIGINT)),
                   j -> array_to_string(
                       toks[(j * {_SPAN_W} + 1):(j * {_SPAN_W} + {_SPAN_W})], ' ')
               ))) AS span_h
        FROM (SELECT doc_id, {sql_tokens('text')} AS toks FROM documents)
    ),
    hot AS (
        SELECT span_h FROM spans GROUP BY span_h
        HAVING count(*) > 1
    )
    SELECT s.doc_id,
           count(*) AS n_spans,
           CAST(sum(CASE WHEN h.span_h IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dup_spans
    FROM spans s LEFT JOIN hot h ON s.span_h = h.span_h
    GROUP BY s.doc_id
    """,
)
def l2_span_dedup(spark, sf_dir):
    """Span-level (sub-document) duplication audit — the paragraph-dedup
    shape on a corpus without paragraph breaks: each document is cut into
    disjoint 10-token spans in-row (no shuffle to build spans), span hashes
    are deduped in-row too (``array_distinct`` before the explode — the
    DISTINCT costs zero shuffles), so the exploded stream is already unique
    on (doc_id, span_h) and carries 16-byte keys instead of raw text. A
    span is "duplicated" when it appears in more than one document. Per
    doc: span count + duplicated-span count, the signal used to strip
    boilerplate or drop mostly-copied documents.

    Scale shape — single corpus scan, two shuffles: explode → per-span doc
    count as a window over span_h → per-doc aggregate. The previous
    formulation computed the exploded span set TWICE (once for a hot-span
    aggregate, once for the join back — Spark does not reuse the identical
    subtree), re-tokenizing the corpus both times; measured 5.0 → 1.9 s at
    sf0.1. Tradeoff, stated: the window funnels each span's rows through
    one task, so an ultra-hot boilerplate span (10^8 docs) makes one fat —
    narrow-row, spill-bounded — window partition, where the join-back form
    stayed partial-agg skew-proof. For corpora in that regime the
    ``max_span_df`` switch (operators/dedup.py:span_dedup, exercised by
    ``l2_span_dedup_capped``) swaps in the skew-proof capped plan; below
    it the single-scan window form strictly dominates."""
    from mrjob_spark.operators.dedup import span_dedup

    t = Tables(spark, sf_dir)
    return span_dedup(t.documents, "doc_id", "text", span_w=_SPAN_W)


_SPAN_DF_CAP = 3  # chosen to actually trigger at sf0.01 (max span DF ~6)


@query(
    "l2_span_dedup_capped",
    sql=f"""
    WITH spans AS (
        SELECT DISTINCT doc_id,
               md5(unnest(list_transform(
                   range(CAST(ceil(len(toks) / {_SPAN_W}.0) AS BIGINT)),
                   j -> array_to_string(
                       toks[(j * {_SPAN_W} + 1):(j * {_SPAN_W} + {_SPAN_W})], ' ')
               ))) AS span_h
        FROM (SELECT doc_id, {sql_tokens('text')} AS toks FROM documents)
    ),
    hot AS (
        SELECT span_h FROM spans GROUP BY span_h
        HAVING count(*) >= 2 AND count(*) <= {_SPAN_DF_CAP}
    )
    SELECT s.doc_id,
           count(*) AS n_spans,
           CAST(sum(CASE WHEN h.span_h IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dup_spans
    FROM spans s LEFT JOIN hot h ON s.span_h = h.span_h
    GROUP BY s.doc_id
    """,
)
def l2_span_dedup_capped(spark, sf_dir):
    """Skew-proof twin of ``l2_span_dedup`` (r3 verdict #7): the hot-span
    caveat turned into a mechanism. Spans with document frequency above
    ``max_span_df`` are boilerplate by definition and excluded from the
    dup signal (the Jaccard DF-cutoff pattern); the plan replaces the
    span_h window with a hash-aggregated frequency table joined back —
    a hot span is one partial-agg counter cell, never a single sorted
    window partition — and both the count and the join probe reuse ONE
    explicit repartition of the exploded spans, so the corpus is
    tokenized once (AQE exchange reuse). The cap is set low enough that
    the driver's differential actually exercises the exclusion path at
    sf0.01, not just the degenerate cap=∞ case."""
    from mrjob_spark.operators.dedup import span_dedup

    t = Tables(spark, sf_dir)
    return span_dedup(
        t.documents, "doc_id", "text", span_w=_SPAN_W, max_span_df=_SPAN_DF_CAP
    )


_PARA_W = 12


@query(
    "l2_paragraph_dedup",
    sql=f"""
    WITH toks AS (
        SELECT doc_id, {sql_tokens('text')} AS w FROM documents
    ),
    paras AS (
        SELECT doc_id,
               unnest(range(CAST(ceil(len(w) / {_PARA_W}.0) AS BIGINT)))
                   AS para_idx,
               unnest(list_transform(
                   range(CAST(ceil(len(w) / {_PARA_W}.0) AS BIGINT)),
                   j -> md5(array_to_string(
                       w[(j * {_PARA_W} + 1):(j * {_PARA_W} + {_PARA_W})],
                       ' '))
               )) AS para_h
        FROM toks
    ),
    firstd AS (
        SELECT para_h, min(doc_id) AS f_doc FROM paras GROUP BY para_h
    ),
    firsts AS (
        SELECT p.para_h, f.f_doc, min(p.para_idx) AS f_idx
        FROM paras p JOIN firstd f
             ON p.para_h = f.para_h AND p.doc_id = f.f_doc
        GROUP BY p.para_h, f.f_doc
    )
    SELECT p.doc_id, count(*) AS n_paras,
           CAST(sum(CASE WHEN p.doc_id = f.f_doc AND p.para_idx = f.f_idx
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM paras p JOIN firsts f USING (para_h)
    GROUP BY p.doc_id
    """,
)
def l2_paragraph_dedup(spark, sf_dir):
    """Corpus-wide paragraph-level dedup with a CANONICAL SURVIVOR —
    the CCNet cleaning step (Wenzek et al. 2020): every distinct
    12-token paragraph is kept exactly once, at its first occurrence
    (smallest (doc_id, para_idx)); all later copies drop. Unlike the
    span-dedup audit (which flags docs carrying duplicated spans), this
    is the removal decision itself — per doc, how many paragraphs it
    contributes vs how many survive. The Spark side computes the global
    first occurrence as a skew-proof ``min(struct(doc_id, para_idx))``
    hash aggregate (a 10^8-document boilerplate paragraph is one
    partial-agg cell per partition, never one sorted window partition),
    and the aggregate + verdict probe share ONE explicit repartition of
    the exploded paragraphs, so the corpus is tokenized once (AQE
    exchange reuse — the span_dedup_capped pattern; the oracle computes
    the identical lexicographic first as TWO scalar mins — min doc_id
    per hash, then min para_idx within that doc — overflow-proof at any
    doc_id range where a packed-integer key misorders/overflows, and
    fast where DuckDB's ``min(ROW(...))`` struct aggregate is a
    non-vectorized fallback measured 80x slower at sf1)."""
    from mrjob_spark.operators.dedup import paragraph_dedup

    t = Tables(spark, sf_dir)
    return paragraph_dedup(t.documents, "doc_id", "text", para_w=_PARA_W)


_SUBSTR_K = 8  # anchor width: sliding k-token shingles
_SUBSTR_DF_CAP = 2  # chosen to actually trigger at sf0.01 (max occ = 3)


@query(
    "l2_substring_dedup",
    sql=f"""
    WITH toks AS (
        SELECT doc_id, {sql_tokens('text')} AS w FROM documents
    ),
    anchors AS (
        SELECT doc_id, p,
               md5(array_to_string(w[(p + 1):(p + {_SUBSTR_K})], ' ')) AS sh
        FROM (SELECT doc_id, w, unnest(range(len(w) - {_SUBSTR_K} + 1)) AS p
              FROM toks WHERE len(w) >= {_SUBSTR_K})
    ),
    occ AS (
        SELECT sh FROM anchors GROUP BY sh
        HAVING count(*) >= 2 AND count(*) <= {_SUBSTR_DF_CAP}
    ),
    dup AS (
        SELECT a.doc_id, a.p FROM anchors a JOIN occ USING (sh)
    ),
    flagged AS (
        SELECT doc_id, p,
               CASE WHEN lag(p) OVER w IS NULL
                         OR p > lag(p) OVER w + 1 THEN 1 ELSE 0 END AS rs,
               CASE WHEN lag(p) OVER w IS NULL
                         OR p > lag(p) OVER w + {_SUBSTR_K} THEN 1 ELSE 0
                    END AS cs
        FROM dup WINDOW w AS (PARTITION BY doc_id ORDER BY p)
    ),
    ids AS (
        SELECT doc_id, p,
               sum(rs) OVER w AS run_id, sum(cs) OVER w AS cov_id
        FROM flagged
        WINDOW w AS (PARTITION BY doc_id ORDER BY p
                     ROWS UNBOUNDED PRECEDING)
    ),
    runs AS (
        SELECT doc_id, cov_id, run_id,
               min(p) AS pmin, max(p) AS pmax, count(*) AS cnt
        FROM ids GROUP BY doc_id, cov_id, run_id
    ),
    covs AS (
        SELECT doc_id, cov_id, sum(cnt) AS anchors, count(*) AS nruns,
               max(pmax - pmin + {_SUBSTR_K}) AS maxrun,
               max(pmax) - min(pmin) + {_SUBSTR_K} AS covtok
        FROM runs GROUP BY doc_id, cov_id
    )
    SELECT doc_id,
           CAST(sum(anchors) AS BIGINT) AS n_dup_anchors,
           CAST(sum(nruns) AS BIGINT) AS n_dup_runs,
           CAST(max(maxrun) AS BIGINT) AS max_run_tokens,
           CAST(sum(covtok) AS BIGINT) AS n_dup_tokens
    FROM covs GROUP BY doc_id
    """,
)
def l2_substring_dedup(spark, sf_dir):
    """Maximal duplicated-substring audit — the suffix-array dedup of Lee
    et al. 2022 in its distributed shingle-anchor form (the remaining big
    dedup mode next to exact/minhash/span/paragraph): sliding 8-token
    anchors, corpus-wide occurrence counts with the span-dedup DF cutoff
    (more than _SUBSTR_DF_CAP occurrences = boilerplate, excluded — LIVE at
    sf0.01 where the hottest shingle occurs 3 times), and per-document
    chaining of adjacent duplicated anchors into maximal runs. Reports,
    per document carrying duplicates: anchor count, run count, the
    longest duplicated run in tokens (the Lee et al. removal unit), and
    the exact union token coverage (interval-merge at gap ``k``, so
    overlapping runs never double-count a token).

    Scale: anchors build in-row; ONE explicit repartition feeds both the
    occurrence hash-aggregate (partial-agg skew-proof) and the probe
    (AQE exchange reuse, plan-pinned like span_dedup_capped); only the
    duplicated anchors — ~4% of the stream at sf0.01 — shuffle on
    doc_id, and the run/coverage math is in-row array logic bounded by
    single-document length. The oracle computes the identical islands
    via lag/running-sum windows, which DuckDB can afford at oracle SF.

    Reference parity: mrjob has no sub-document dedup; this extends the
    EXT L2 family (SURVEY.md §2.11) the way the public corpus-cleaning
    literature (Lee et al. 2022; Penedo et al. 2023 RefinedWeb §4.3)
    specifies substring-level dedup."""
    from mrjob_spark.operators.dedup import substring_dedup

    t = Tables(spark, sf_dir)
    return substring_dedup(
        t.documents, "doc_id", "text", k=_SUBSTR_K,
        max_shingle_df=_SUBSTR_DF_CAP,
    )


@query(
    "l2_substring_dedup_clean",
    sql=f"""
    WITH toks AS MATERIALIZED (
        SELECT doc_id, {sql_tokens('text')} AS w FROM documents
    ),
    anchors AS MATERIALIZED (
        SELECT doc_id, p,
               md5(array_to_string(w[(p + 1):(p + {_SUBSTR_K})], ' ')) AS sh
        FROM (SELECT doc_id, w, unnest(range(len(w) - {_SUBSTR_K} + 1)) AS p
              FROM toks WHERE len(w) >= {_SUBSTR_K})
    ),
    occ AS MATERIALIZED (
        -- anchors feeds occ, firstp AND rm: MATERIALIZED so DuckDB
        -- builds the tokenize+md5 stream once (the l2_minhash
        -- staged-oracle lesson). The first occurrence is TWO scalar
        -- mins — min doc_id per shingle, then min p within that doc —
        -- never min(ROW(...)): DuckDB's struct-min aggregate is a
        -- non-vectorized fallback measured 35 s at sf0.01 / >25 min at
        -- sf1 where the scalar pair runs in milliseconds, and the
        -- two-step ordering is the identical lexicographic rule,
        -- overflow-proof at any doc_id
        SELECT sh, count(*) AS c, min(doc_id) AS f_doc
        FROM anchors GROUP BY sh
    ),
    firstp AS MATERIALIZED (
        SELECT a.sh, min(a.p) AS f_p
        FROM anchors a JOIN occ o ON a.sh = o.sh AND a.doc_id = o.f_doc
        GROUP BY a.sh
    ),
    rm AS MATERIALIZED (
        SELECT a.doc_id, a.p
        FROM anchors a JOIN occ o USING (sh) JOIN firstp f USING (sh)
        WHERE o.c >= 2 AND o.c <= {_SUBSTR_DF_CAP}
              AND NOT (a.doc_id = o.f_doc AND a.p = f.f_p)
    ),
    flagged AS (
        SELECT doc_id, p,
               CASE WHEN lag(p) OVER w IS NULL
                         OR p > lag(p) OVER w + 1 THEN 1 ELSE 0 END AS rs,
               CASE WHEN lag(p) OVER w IS NULL
                         OR p > lag(p) OVER w + {_SUBSTR_K} THEN 1 ELSE 0
                    END AS cs
        FROM rm WINDOW w AS (PARTITION BY doc_id ORDER BY p)
    ),
    ids AS (
        SELECT doc_id, p,
               sum(rs) OVER w AS run_id, sum(cs) OVER w AS cov_id
        FROM flagged
        WINDOW w AS (PARTITION BY doc_id ORDER BY p
                     ROWS UNBOUNDED PRECEDING)
    ),
    runs AS (
        SELECT doc_id, cov_id, run_id,
               min(p) AS pmin, max(p) AS pmax, count(*) AS cnt
        FROM ids GROUP BY doc_id, cov_id, run_id
    ),
    covs AS (
        SELECT doc_id, cov_id, sum(cnt) AS anchors, count(*) AS nruns,
               max(pmax - pmin + {_SUBSTR_K}) AS maxrun,
               max(pmax) - min(pmin) + {_SUBSTR_K} AS covtok
        FROM runs GROUP BY doc_id, cov_id
    )
    SELECT doc_id,
           CAST(sum(anchors) AS BIGINT) AS n_rm_anchors,
           CAST(sum(nruns) AS BIGINT) AS n_rm_runs,
           CAST(max(maxrun) AS BIGINT) AS max_rm_run_tokens,
           CAST(sum(covtok) AS BIGINT) AS n_rm_tokens
    FROM covs GROUP BY doc_id
    """,
)
def l2_substring_dedup_clean(spark, sf_dir):
    """The REMOVAL half of substring dedup (Lee et al. 2022) — the
    canonical-survivor rule of ``l2_paragraph_dedup`` applied at
    substring granularity: every duplicated shingle's corpus-wide FIRST
    occurrence (smallest ``(doc_id, p)``, the overflow-proof struct
    ordering in both engines) keeps its text; later occurrences mark
    their covered tokens for removal, reported per document as anchor/
    run counts, the longest removable run, and the exact union token
    coverage a cleaning pass strips. Where ``l2_substring_dedup`` is
    the audit (who carries duplicates), this is the decision (what
    comes out, with the duplicated text surviving exactly once).

    Scale: same single-exchange shape as the audit — the one anchor
    aggregate now computes occurrence count and ``min(struct)`` in the
    same partial-agg pass — plus the same DF cutoff (boilerplate
    shingles above the cap are excluded, live at sf0.01) and the shared
    in-row run/coverage chaining (operators/dedup.py:_anchor_runs)."""
    from mrjob_spark.operators.dedup import substring_dedup_clean

    t = Tables(spark, sf_dir)
    return substring_dedup_clean(
        t.documents, "doc_id", "text", k=_SUBSTR_K,
        max_shingle_df=_SUBSTR_DF_CAP,
    )


@query(
    "l5_repetition_filter",
    sql=f"""
    WITH pc AS (
        SELECT doc_id, tok, count(*) AS c
        FROM (SELECT doc_id, unnest({sql_tokens('text')}) AS tok FROM documents)
        GROUP BY doc_id, tok
    ),
    per_doc AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
               count(*) AS n_distinct, max(c) AS m
        FROM pc GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, n_distinct,
           {sql_rnd('CAST(m AS DOUBLE) / n_tokens')} AS top_share,
           CASE WHEN CAST(m AS DOUBLE) / n_tokens > 0.12
                     OR CAST(n_distinct AS DOUBLE) / n_tokens < 0.35
                THEN 'repetitive' ELSE 'ok' END AS verdict
    FROM per_doc
    """,
)
def l5_repetition_filter(spark, sf_dir):
    """Repetition-based quality signals (the Gopher repetition rules'
    shape): per-document top-token share and distinct-token ratio, with a
    verdict column instead of a dropped row so the reject histogram stays
    auditable. Two aggregations, both with map-side partial agg: (doc_id,
    token) counts, then per-doc max/sum/count — the first shuffle's key
    cardinality is bounded by per-doc vocabulary, not corpus size."""
    t = Tables(spark, sf_dir)
    pc = (
        t.documents.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
    )
    per_doc = pc.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count("*").alias("n_distinct"),
        F.max("c").alias("m"),
    )
    top_share = F.col("m").cast("double") / F.col("n_tokens")
    distinct_ratio = F.col("n_distinct").cast("double") / F.col("n_tokens")
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        rnd(top_share).alias("top_share"),
        F.when((top_share > 0.12) | (distinct_ratio < 0.35), "repetitive")
        .otherwise("ok")
        .alias("verdict"),
    )


@query(
    "l4_vocab_coverage",
    sql=f"""
    WITH agg AS (
        SELECT tok, count(*) AS cnt
        FROM (SELECT unnest({sql_tokens('text')}) AS tok FROM documents)
        GROUP BY tok
    ),
    ranked AS (
        SELECT tok, cnt,
               row_number() OVER (ORDER BY cnt DESC, tok) AS rnk,
               sum(cnt) OVER (ORDER BY cnt DESC, tok
                              ROWS UNBOUNDED PRECEDING) AS cum,
               sum(cnt) OVER () AS total
        FROM agg
    )
    SELECT tok, rnk, cnt,
           {sql_rnd('CAST(cum AS DOUBLE) / total')} AS cum_share
    FROM ranked WHERE rnk <= 50
    """,
)
def l4_vocab_coverage(spark, sf_dir):
    """Vocabulary building with coverage: global token counts ranked by
    frequency with each rank's cumulative share of the token stream — the
    curve that picks a vocab size. Scale shape (r3 verdict fix): web-scale
    distinct vocab is 10^8-10^9 rows (typos/URLs/IDs), so ranking it
    through one unpartitioned window is a funnel. Instead: top-50 via
    ``orderBy().limit(50)`` — TakeOrderedAndProject, a per-partition
    top-N that never globally sorts — and the corpus token total as a
    one-row scalar aggregate broadcast back (the q22 pattern). Both
    branches hang off the same token-count aggregate, so its shuffle is
    computed once and reused (ReusedExchange, pinned in test_plans). The
    cumulative sum then runs over exactly 50 rows; its window is keyed on
    the (constant-valued, non-foldable) broadcast total column because one
    partition of 50 rows IS the plan — a foldable literal key would be
    optimized away back into the unpartitioned-window warning. Tiebreak
    on token keeps rank/cum_share deterministic across engines."""
    from pyspark.sql import Window

    t = Tables(spark, sf_dir)
    agg = (
        t.documents.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("cnt"))
    )
    top50 = agg.orderBy(F.col("cnt").desc(), "tok").limit(50)
    total = agg.agg(F.sum("cnt").cast("double").alias("_total"))
    w = Window.partitionBy("_total").orderBy(F.col("cnt").desc(), "tok")
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return top50.crossJoin(F.broadcast(total)).select(
        "tok",
        F.row_number().over(w).cast("long").alias("rnk"),
        "cnt",
        rnd(F.sum("cnt").over(wcum).cast("double") / F.col("_total")).alias(
            "cum_share"
        ),
    )


_MASK_RE = r"\b(customer|supplier|order)\b"


@query(
    "l8_token_mask",
    sql=f"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{_MASK_RE}')) AS n_masked,
           md5(regexp_replace(text, '{_MASK_RE}', '[MASK]', 'g')) AS masked_md5
    FROM documents
    """,
)
def l8_token_mask(spark, sf_dir):
    """Redaction / PII-scrub plumbing: blocklisted terms are replaced with
    a mask token by a word-boundary regex (the pattern is kept to the
    Java-regex ∩ RE2 dialect so the oracle scrubs identically), emitting
    the per-doc redaction count and an md5 of the scrubbed text — the
    audit pair a scrubbing pass must produce. Pure per-row JVM column math:
    no shuffle, no Python, safe at any scale; a real PII pass swaps the
    pattern, not the plan."""
    t = Tables(spark, sf_dir)
    return t.documents.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(_MASK_RE), 0))
        .cast("long")
        .alias("n_masked"),
        F.md5(F.regexp_replace("text", _MASK_RE, "[MASK]")).alias("masked_md5"),
    )


# Typed PII patterns, kept to the Java-regex ∩ RE2 dialect so the DuckDB
# oracle detects and scrubs byte-identically (\b, \d, {m,n} and character
# classes behave the same in both engines; no lookarounds, which RE2
# lacks).
_PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE_RE = r"\+\d{1,2}[ -]\d{3}[ -]\d{4}"
_PII_IP_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PII_ANY_RE = f"({_PII_EMAIL_RE})|({_PII_PHONE_RE})|({_PII_IP_RE})"

# The fixture corpus is PII-free word salad, so the query deterministically
# injects one email, one phone, and one IPv4 per document — derived purely
# from doc_id with the SAME expression on both engines — making every
# detection/redaction branch observable and the counts non-trivial.
_PII_AUG_SQL = (
    "text || ' reach user' || CAST(doc_id AS STRING) || '@example.com"
    " or +1 555-' || lpad(CAST(doc_id % 10000 AS STRING), 4, '0')"
    " || ' at 10.' || CAST(doc_id % 256 AS STRING)"
    " || '.' || CAST((doc_id * 7) % 256 AS STRING)"
    " || '.' || CAST((doc_id * 13) % 256 AS STRING)"
)


@query(
    "l9_pii_redaction",
    sql=f"""
    WITH aug AS (
        SELECT doc_id, {_PII_AUG_SQL} AS body FROM documents
    ),
    red AS (
        SELECT doc_id, body,
               regexp_replace(
                   regexp_replace(
                       regexp_replace(body, '{_PII_EMAIL_RE}', '<EMAIL>', 'g'),
                       '{_PII_PHONE_RE}', '<PHONE>', 'g'),
                   '{_PII_IP_RE}', '<IP>', 'g') AS redacted
        FROM aug
    )
    SELECT doc_id,
           len(regexp_extract_all(body, '{_PII_EMAIL_RE}')) AS n_email,
           len(regexp_extract_all(body, '{_PII_PHONE_RE}')) AS n_phone,
           len(regexp_extract_all(body, '{_PII_IP_RE}')) AS n_ip,
           md5(redacted) AS redacted_md5,
           len(regexp_extract_all(redacted, '{_PII_ANY_RE}')) = 0 AS clean
    FROM red
    """,
)
def l9_pii_redaction(spark, sf_dir):
    """Typed PII detection + redaction — the corpus-hygiene pass a
    training pipeline runs before anything else sees the text: per-doc
    counts for each PII category (email / phone / IPv4), the scrubbed
    text's md5 (the audit artifact a redaction pass must produce), and a
    ``clean`` verification bit proving ZERO matches survive redaction —
    the property that actually matters, checked in-query rather than
    assumed. Patterns live in the Java∩RE2 dialect (same policy as
    ``l8_token_mask``) so the oracle scrubs byte-identically; replacement
    order (email → phone → IP) is fixed on both sides. Pure per-row JVM
    column math: one parquet scan, zero shuffle, zero Python — at 100 TB
    this is a map-only pass whose cost is the regex engine itself, and a
    production pass swaps patterns, not the plan."""
    t = Tables(spark, sf_dir)
    body = F.expr(_PII_AUG_SQL)
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(body, _PII_EMAIL_RE, "<EMAIL>"),
            _PII_PHONE_RE, "<PHONE>"),
        _PII_IP_RE, "<IP>")

    def n(pat, col):
        return F.size(F.regexp_extract_all(col, F.lit(pat), 0)).cast("long")

    return t.documents.select(
        "doc_id",
        n(_PII_EMAIL_RE, body).alias("n_email"),
        n(_PII_PHONE_RE, body).alias("n_phone"),
        n(_PII_IP_RE, body).alias("n_ip"),
        F.md5(redacted).alias("redacted_md5"),
        (n(_PII_ANY_RE, redacted) == 0).alias("clean"),
    )


@query(
    "l8_stratified_split",
    sql="""
    SELECT source, lang, split,
           COUNT(*) AS docs,
           CAST(SUM(n_chars) AS BIGINT) AS chars
    FROM (
        SELECT source, lang, n_chars,
               CASE
                   WHEN bucket < 80 THEN 'train'
                   WHEN bucket < 90 THEN 'val'
                   ELSE 'test'
               END AS split
        FROM (
            SELECT source, lang, n_chars,
                   CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 15)) AS BIGINT) % 100 AS bucket
            FROM documents
        ) b
    ) s
    GROUP BY source, lang, split
    """,
)
def l8_stratified_split(spark, sf_dir):
    """Deterministic train/val/test assignment with a per-stratum audit —
    the eval-hygiene step between corpus assembly and shard writing. Each
    document's split is a pure function of its id (md5 under a salt, mod
    100 → 80/10/10), so the assignment is identical across engines, runs,
    partitionings, and retries, and a document can never migrate between
    train and test when the corpus is re-processed — the leakage property
    RNG-based splitters lose on any re-run. The output is the realized
    (source, lang, split) count/char matrix: the audit a release manager
    reads to confirm every stratum's ratios converged (hash-mod is
    per-doc Bernoulli, so ratios are statistical, not enforced — the
    audit IS the check). Scale shape: one scan → one partial-agg shuffle
    on a tiny (source × lang × 3) key space; the per-doc split column
    costs one md5. Assignment reuses the ``l8_global_shuffle`` salted-
    hash idiom with an independent salt, so shuffle order and split
    membership are uncorrelated."""
    t = Tables(spark, sf_dir)
    bucket = F.pmod(
        hex_hash64(F.concat(F.col("doc_id").cast("string"), F.lit(":split"))),
        F.lit(100),
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        t.documents.select("source", "lang", "n_chars", split.alias("split"))
        .groupBy("source", "lang", "split")
        .agg(
            F.count("*").alias("docs"),
            F.sum("n_chars").cast("bigint").alias("chars"),
        )
    )


@query(
    "l8_balanced_sample",
    sql=f"""
    WITH keyed AS (
        SELECT source, doc_id,
               {sql_hex_hash64("CAST(doc_id AS STRING) || ':psample'")} AS h
        FROM documents
    ), counts AS (
        SELECT source, COUNT(*) AS n_s FROM documents GROUP BY source
    ), survivors AS (
        SELECT k.source, k.doc_id, k.h
        FROM keyed k JOIN counts c ON c.source = k.source
        WHERE (k.h // 268435456) < (343597383680 // c.n_s)
    )
    SELECT source, doc_id,
           CAST(row_number() OVER (PARTITION BY source ORDER BY h, doc_id)
                AS BIGINT) AS pos
    FROM survivors
    QUALIFY pos <= 20
    """,
)
def l8_balanced_sample(spark, sf_dir):
    """Balanced per-group sampling — exactly k=20 documents per source,
    deterministically (the balanced-subsampling step a mixture pipeline
    runs to build probes, eval slices, or per-source inspection sets).
    Selection is the k smallest salted doc hashes per source, but the
    plan NEVER ranks a whole source: a hash-threshold prefilter keeps an
    expected margin×k = 80 survivors per source (threshold =
    2^32·80 / n_source, integer math only so the oracle is bit-identical
    — no float boundary can disagree between engines), and the window
    ranks ONLY the survivors. A naive per-source row_number funnels each
    source's entire partition through one task — at 10^9 docs per source
    that is the job; here the window input is ~80 rows per source at ANY
    corpus size, the per-source counts arrive via a broadcast of a tiny
    aggregate, and the corpus is touched by exactly one scan + one
    map-side filter. Sources with n ≤ 80 pass the threshold whole
    (threshold ≥ 2^32), so small groups degrade to keep-all-then-rank.
    Shortfall (<k survivors) has probability ~e^-41 per source by
    Chernoff at margin 4 — and is deterministic and engine-identical if
    it ever occurs, since both sides apply the same integer threshold."""
    t = Tables(spark, sf_dir)
    from pyspark.sql import Window

    h = hex_hash64(
        F.concat(F.col("doc_id").cast("string"), F.lit(":psample"))
    )
    keyed = t.documents.select("source", "doc_id", h.alias("h"))
    counts = t.documents.groupBy("source").agg(F.count("*").alias("n_s"))
    survivors = keyed.join(F.broadcast(counts), "source").where(
        F.expr("(h DIV 268435456) < (343597383680 DIV n_s)")
    )
    w = Window.partitionBy("source").orderBy("h", "doc_id")
    return (
        survivors.select(
            "source",
            "doc_id",
            F.row_number().over(w).cast("bigint").alias("pos"),
        )
        .where(F.col("pos") <= 20)
    )


@query(
    "l8_global_shuffle",
    sql="""
    SELECT doc_id, shard,
           row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS pos
    FROM (
        SELECT doc_id,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':shuffle'), 1, 15)) AS BIGINT) AS h,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':shuffle'), 1, 15)) AS BIGINT) % 32 AS shard
        FROM documents
    ) keyed
    """,
)
def l8_global_shuffle(spark, sf_dir):
    """Reproducible global shuffle + sharding — the step that randomizes
    example order before training shards are written. Each document gets a
    pure-function shuffle key (md5 of its id under a salt), a shard
    assignment (key mod n_shards), and its position within the shard
    (rank by key). Hash-ordered, not ``orderBy(rand())``: the permutation
    is identical across engines, runs, partitionings, and task retries,
    and re-running with a new salt is a fresh permutation. Scale shape:
    one hash-exchange on shard, then each shard sorts independently
    inside its own task — the per-shard ``row_number`` never funnels the
    corpus through a single partition, and n_shards scales with the
    cluster (32 here, thousands at 100 TB), exactly the layout a shard
    writer needs (``partitionBy(shard)`` + in-file order = pos)."""
    from pyspark.sql.window import Window

    t = Tables(spark, sf_dir)
    h = hex_hash64(F.concat(F.col("doc_id").cast("string"), F.lit(":shuffle")))
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return (
        t.documents.select(
            "doc_id", h.alias("h"), F.pmod(h, F.lit(32)).alias("shard")
        )
        .select(
            "doc_id",
            "shard",
            F.row_number().over(w).cast("long").alias("pos"),
            F.col("h"),
        )
        .drop("h")
    )


_PIPELINE_SQL = f"""
    WITH scored AS (
        SELECT doc_id, source, text,
               len({sql_tokens('text')}) AS n_tokens,
               CASE WHEN len({sql_tokens('text')}) = 0 THEN 0.0
                    ELSE CAST(length(array_to_string({sql_tokens('text')}, ''))
                              AS DOUBLE) / len({sql_tokens('text')}) END
                   AS avg_tok_len,
               CASE WHEN length(text) = 0 THEN 1.0
                    ELSE 1.0 - CAST(length(regexp_replace(lower(text),
                              '[^a-z0-9 ]', '', 'g'))
                              AS DOUBLE) / length(text) END AS symbol_ratio
        FROM documents
    ),
    kept AS (
        SELECT doc_id, source, text, n_tokens FROM scored
        WHERE n_tokens >= 5 AND avg_tok_len >= 2.0 AND avg_tok_len <= 12.0
          AND symbol_ratio <= 0.4
    ),
    winners AS (
        SELECT min(doc_id) AS doc_id
        FROM kept GROUP BY md5({sql_normalize_text('text')})
    ),
    mixed AS (
        SELECT k.doc_id, k.source, k.n_tokens
        FROM kept k JOIN winners w ON k.doc_id = w.doc_id
        WHERE {sql_hex_hash32("concat(CAST(k.doc_id AS VARCHAR), ':mix')")} % 10000
              < {sql_hex_hash32("k.source")} % 9000 + 1000
    )
    SELECT doc_id, source, n_tokens,
           CAST(floor((cum - n_tokens) / 2048.0) AS BIGINT) AS pack_id
    FROM (
        SELECT doc_id, source, n_tokens,
               sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) AS cum
        FROM mixed
    )
"""


@query("l8_pipeline_end_to_end", sql=_PIPELINE_SQL)
def l8_pipeline_end_to_end(spark, sf_dir):
    """The capstone: the whole training-set assembly pipeline — quality
    filter → normalized exact-dedup → mixture sampling → sequence packing
    — composed as ONE lazy plan, the way a production run would chain the
    l8 stages (each also registered standalone). The whole pipeline is a
    SINGLE corpus scan (pinned in test_plans.py): quality gates and the
    mixture hash-keep are per-row predicates fused into the scan, and the
    dedup winner is a min-over-window on the normalization hash rather
    than an aggregate-plus-join-back — the diamond form would scan and
    re-tokenize the corpus twice (Spark does not reuse identical
    subtrees; same finding as q15/span-dedup). Deterministic end-to-end
    (hash-based keeps, min-id winners, id-ordered packing), so the
    four-stage composition is oracle-checked as one query — correctness
    of the composition, not just the parts. Scale: one scan + the
    norm-hash window shuffle (groups = copies of one document, tiny) +
    the per-source packing window; nothing quadratic, no Python."""
    from pyspark.sql.window import Window

    t = Tables(spark, sf_dir)
    toks = tokens(F.col("text"))
    n_tokens = F.size(toks)
    avg_tok_len = F.when(n_tokens == 0, F.lit(0.0)).otherwise(
        F.length(F.concat_ws("", toks)).cast("double") / n_tokens
    )
    # single-pass char count (round-5 sf1 screen: the per-char
    # regexp_extract_all array build was ~5x the cost of one
    # regexp_replace pass); the 1.0 - alnum/len arithmetic is unchanged,
    # so the ratio is bit-identical to the oracle's
    alnum_len = F.length(
        F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", "")
    )
    symbol_ratio = F.when(F.length("text") == 0, F.lit(1.0)).otherwise(
        F.lit(1.0) - alnum_len.cast("double") / F.length("text")
    )
    kept = (
        t.documents.select(
            "doc_id", "source", "text", n_tokens.alias("n_tokens"),
            avg_tok_len.alias("avg_tok_len"), symbol_ratio.alias("symbol_ratio"),
        )
        .where(
            (F.col("n_tokens") >= 5)
            & F.col("avg_tok_len").between(2.0, 12.0)
            & (F.col("symbol_ratio") <= 0.4)
        )
    )
    u = F.pmod(
        hex_hash32(F.concat(F.col("doc_id").cast("string"), F.lit(":mix"))),
        F.lit(10_000),
    )
    keep_bp = F.pmod(hex_hash32(F.col("source")), F.lit(9_000)) + F.lit(1_000)
    wdup = Window.partitionBy(F.md5(normalize_text(F.col("text"))))
    mixed = (
        kept.withColumn("w_doc_id", F.min("doc_id").over(wdup))
        .where(F.col("doc_id") == F.col("w_doc_id"))
        .where(u < keep_bp)
        .select("doc_id", "source", "n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    return mixed.select(
        "doc_id",
        "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.floor((cum - F.col("n_tokens")) / 2048.0).cast("long").alias("pack_id"),
    )


@query("l8_sequence_packing_scalable", sql=_PACKING_SQL)
def l8_sequence_packing_scalable(spark, sf_dir):
    """Skew-proof twin of ``l8_sequence_packing``: the per-source running
    token sum computed two-phase (``bucketed_running_sum``,
    operators/scalable_windows.py) — doc_id-range sub-buckets sort in
    parallel, broadcast per-bucket prefix totals reconcile the global sum
    — instead of one task per source. Same oracle SQL as the naive form:
    the driver's hash match proves the two-phase plan is value-identical.
    This closes the gap SCALE.md §2 noted for packing: sources are FEW by
    nature, so the naive per-source window is the textbook
    low-cardinality-key straggler at 100 TB.

    Bucket sizing (r3 advice): width is DERIVED from the doc_id range so
    the bucket COUNT is bounded (≤ _PACK_TARGET_BUCKETS per source) — a
    hardcoded width would grow the broadcast offsets table linearly with
    the corpus and blow the broadcast/driver limits the twin exists to
    avoid. The range comes from a metadata-cheap min/max scalar aggregate
    (parquet column statistics), one tiny pre-job — the same
    stats-before-plan move AQE itself makes."""
    from mrjob_spark.operators.scalable_windows import bucketed_running_sum

    t = Tables(spark, sf_dir)
    docs = t.documents.select(
        "doc_id", "source", F.size(tokens(F.col("text"))).alias("n_tokens")
    )
    lo, hi = t.documents.agg(F.min("doc_id"), F.max("doc_id")).first()
    width = max(64.0, (hi - lo + 1) / float(_PACK_TARGET_BUCKETS))
    cum = bucketed_running_sum(
        docs, "source", "doc_id", "n_tokens", bucket_width=width
    )
    return cum.select(
        "doc_id",
        "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.floor((F.col("cum") - F.col("n_tokens")) / float(_PACK_BUDGET))
        .cast("long")
        .alias("pack_id"),
    )


# ---------------------------------------------------------------------------
# Round-4 additions: embedding index construction + n-gram LM
# ---------------------------------------------------------------------------

_KMEANS_SQL = f"""
    WITH q AS (
        SELECT vec_id,
               list_transform(CAST(embedding AS DOUBLE[]),
                              x -> CAST(floor(x * 1000 + 0.5) AS BIGINT)) AS qv
        FROM embeddings
    ), c0 AS (
        -- seed rule = the k SMALLEST vec_ids, exactly as the Spark side's
        -- orderBy(vec_id).limit(k) encodes it (operators/clustering.py) —
        -- NOT `vec_id < 8`, which only coincides on 0-based contiguous ids
        SELECT vec_id AS cluster, qv AS cv FROM q
        WHERE vec_id IN (SELECT vec_id FROM q ORDER BY vec_id LIMIT 8)
    ), d0 AS (
        SELECT vec_id, cluster, CAST(sum((a - b) * (a - b)) AS BIGINT) AS dist
        FROM (SELECT q.vec_id, c.cluster, unnest(q.qv) AS a, unnest(c.cv) AS b
              FROM q CROSS JOIN c0 c) z
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
               CAST(floor(CAST(sum(a) AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS v
        FROM (SELECT a0.cluster, unnest(q.qv) AS a,
                     generate_subscripts(q.qv, 1) AS pos
              FROM q JOIN a0 USING (vec_id)) z
        GROUP BY cluster, pos
    ), d1 AS (
        SELECT vec_id, cluster, CAST(sum((a - v) * (a - v)) AS BIGINT) AS dist
        FROM (SELECT q.vec_id, c1.cluster, c1.v, q.qv[c1.pos] AS a
              FROM q CROSS JOIN c1) z
        GROUP BY vec_id, cluster
    )
    SELECT vec_id, cluster, dist FROM (
        SELECT vec_id, cluster, dist,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cluster) AS rn
        FROM d1) zz
    WHERE rn = 1
"""


@query("l3_kmeans_assign", sql=_KMEANS_SQL)
def l3_kmeans_assign(spark, sf_dir):
    """Deterministic Lloyd's k-means (k=8, one update round) over the
    embeddings — the IVF *training* step that produces the buckets
    ``l3_knn_bucketed`` searches. Fixed-point int64 vectors make every
    distance an exact integer and every centroid update an exact
    integer-sum + portable rounding, so the full
    assign → update → re-assign cycle is bit-identical between Spark and
    the SQL oracle — an oracle-checked k-means, which float arithmetic
    cannot give you (operators/clustering.py has the full argument).
    Scale: per round ONE corpus scan + a k×dim partial aggregation;
    centroids (k×dim, constant) live on the driver and broadcast back."""
    t = Tables(spark, sf_dir)
    from mrjob_spark.operators.clustering import kmeans_assign

    return kmeans_assign(t.embeddings, k=8, iters=1)


_QUANT_SQL = f"""
    WITH s AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv,
               list_aggregate(list_transform(CAST(embedding AS DOUBLE[]),
                                             x -> abs(x)), 'max') AS maxabs
        FROM embeddings
    ), q AS (
        SELECT vec_id,
               CASE WHEN maxabs > 0 THEN maxabs / 127 ELSE 1.0 END AS scale,
               list_transform(dv,
                   x -> CAST(floor(x / (CASE WHEN maxabs > 0
                                             THEN maxabs / 127
                                             ELSE 1.0 END) + 0.5) AS BIGINT)) AS qv
        FROM s
    )
    SELECT vec_id,
           {sql_rnd('scale', 9)} AS scale_r,
           CAST(list_aggregate(qv, 'sum') AS BIGINT) AS q_sum,
           CAST(list_aggregate(list_transform(qv, x -> x * x), 'sum')
                AS BIGINT) AS q_sumsq,
           CAST(list_aggregate(qv, 'min') AS BIGINT) AS q_min,
           CAST(list_aggregate(qv, 'max') AS BIGINT) AS q_max
    FROM q
"""


@query("l3_embedding_quantize", sql=_QUANT_SQL)
def l3_embedding_quantize(spark, sf_dir):
    """Per-vector symmetric int8 quantization (scale = max|x|/127) — the
    4× memory compression step before embeddings go into an ANN index.
    Entirely JVM-side array math, one scan, zero shuffles. The audit
    columns are chosen to be *exact*: the quantized codes are integers,
    so their sum / sum-of-squares / min / max compare bit-for-bit against
    the oracle with no float-accumulation-order caveat (the scale itself
    is one rounded double). |code| ≤ 127 by construction: x/scale lands
    in [-127, 127] and floor(·+0.5) cannot leave it."""
    t = Tables(spark, sf_dir)
    from mrjob_spark.operators.partitioning import parallelize_narrow_scan

    dv = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    emb = parallelize_narrow_scan(
        t.embeddings.select("vec_id", dv.alias("dv"))
    ).withColumn("maxabs", F.array_max(F.transform(F.col("dv"), F.abs)))
    scale = F.when(F.col("maxabs") > 0, F.col("maxabs") / F.lit(127)).otherwise(
        F.lit(1.0)
    )
    q = emb.select(
        "vec_id",
        F.transform(
            F.col("dv"), lambda x: F.floor(x / scale + F.lit(0.5)).cast("long")
        ).alias("qv"),
        scale.alias("scale"),
    )
    zero = F.lit(0).cast("long")
    return q.select(
        "vec_id",
        rnd(F.col("scale"), 9).alias("scale_r"),
        F.aggregate(F.col("qv"), zero, lambda a, x: a + x).alias("q_sum"),
        F.aggregate(F.col("qv"), zero, lambda a, x: a + x * x).alias("q_sumsq"),
        F.array_min("qv").alias("q_min"),
        F.array_max("qv").alias("q_max"),
    )


_TWO_STAGE_SQL = f"""
    WITH c AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings
    ), qs AS (
        SELECT vec_id, dv FROM c WHERE vec_id < 10
    ), coarse AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               q.dv AS qdv, c.dv AS cdv,
               {sql_rnd(sql_cosine('q.dv[1:16]', 'c.dv[1:16]'), 6)}
                   AS coarse_cos
        FROM qs q JOIN c ON q.vec_id <> c.vec_id
    ), cand AS (
        SELECT query_id, neighbor_id, qdv, cdv FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY coarse_cos DESC,
                                                  neighbor_id) AS crn
            FROM coarse) z
        WHERE crn <= 20
    ), exact AS (
        SELECT query_id, neighbor_id,
               {sql_rnd(sql_cosine('qdv', 'cdv'), 6)} AS cosine
        FROM cand
    )
    SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rank
        FROM exact) z
    WHERE rank <= 5
"""


@query("l3_knn_two_stage", sql=_TWO_STAGE_SQL)
def l3_knn_two_stage(spark, sf_dir):
    """Two-stage exact-over-candidates retrieval: coarse cosine on the
    first 16 of 64 dimensions picks 20 candidates per query, the full
    64-dim cosine re-ranks only those — the matryoshka / coarse-quantizer
    refinement pattern. Single corpus scan; candidates carry their
    vectors through the coarse top-k window so the re-rank is in-row
    (operators/similarity.py two_stage_topk)."""
    t = Tables(spark, sf_dir)
    emb = t.embeddings
    res = two_stage_topk(
        emb, emb.where(F.col("vec_id") < 10), k=5, coarse_k=20, coarse_dims=16
    )
    return res.select(
        "query_id", "neighbor_id", "cosine", F.col("rank").cast("long").alias("rank")
    )


_BIGRAM_LM_SQL = f"""
    WITH tok AS (
        SELECT {sql_tokens('text')} AS toks FROM documents
    ), bg AS (
        SELECT unnest(list_transform(range(1, greatest(len(toks), 1)),
                                     i -> toks[i])) AS w1,
               unnest(list_transform(range(1, greatest(len(toks), 1)),
                                     i -> toks[i + 1])) AS w2
        FROM tok
    ), cnt AS (
        SELECT w1, w2, count(*) AS c FROM bg GROUP BY w1, w2
    )
    SELECT w1, w2, CAST(c AS BIGINT) AS c,
           {sql_rnd('CAST(c AS DOUBLE) / t', 6)} AS p,
           CAST(rn AS BIGINT) AS rank
    FROM (SELECT w1, w2, c, sum(c) OVER (PARTITION BY w1) AS t,
                 row_number() OVER (PARTITION BY w1
                                    ORDER BY c DESC, w2) AS rn
          FROM cnt) z
    WHERE rn <= 3
"""


@query("l4_bigram_lm", sql=_BIGRAM_LM_SQL)
def l4_bigram_lm(spark, sf_dir):
    """Bigram language-model table: P(w2 | w1) with the top-3 successors
    per word — the relational twin of the reference's SORT_VALUES
    showcase (``mrjob/examples/mr_next_word_stats.py:28-95``, ported as
    the dataflow query ``mr_next_word_stats``): what that job needs
    tagged values and a secondary sort for is two aggregations and a
    window here. Scale: bigram extraction is in-row (zip_with over two
    shifted slices, one explode), the count is map-side combinable, and
    the window partitions by w1 over the *counts* table — partition size
    is the successor vocabulary of one word (≤ |vocab|, corpus-
    independent), not the corpus."""
    from pyspark.sql.window import Window

    from mrjob_spark.operators.partitioning import parallelize_narrow_scan

    t = Tables(spark, sf_dir)
    pairs = bind1(tokens(F.col("text")), _token_pairs)
    docs = parallelize_narrow_scan(t.documents.select("text"))
    cnt = (
        docs.select(F.explode(pairs).alias("bg"))
        .select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wt = Window.partitionBy("w1")
    wr = Window.partitionBy("w1").orderBy(F.col("c").desc(), "w2")
    return (
        cnt.withColumn("t", F.sum("c").over(wt))
        .withColumn("rank", F.row_number().over(wr).cast("long"))
        .where(F.col("rank") <= 3)
        .select(
            "w1",
            "w2",
            "c",
            rnd(F.col("c").cast("double") / F.col("t"), 6).alias("p"),
            "rank",
        )
    )


def _token_pairs(toks):
    """(w1, w2) struct array of adjacent-token pairs — call through
    :func:`bind1` so the tokenize evaluates once per row instead of once
    per reference (4 below) under the interpreted higher-order eval."""
    n_pairs = F.greatest(F.size(toks) - 1, F.lit(0))
    return F.zip_with(
        F.slice(toks, 1, n_pairs),
        F.slice(toks, 2, n_pairs),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )


def _bigram_logp(docs):
    """(doc_id, logp): every bigram of every document, scored by the
    corpus-trained bigram LM — the shared core of ``l5_lm_perplexity``
    and the ``l10_ccnet_clean`` capstone, extracted so the capstone can
    never silently drift from the operator it claims to compose
    (round-9 verdict). Plan shape (pinned by both queries' plan tests):
    bigram extraction in-row (zip_with over shifted slices), the model a
    map-side-combinable count + a window over the vocab-bounded counts
    table (successor-set partitions, never the corpus), scoring a plain
    equi-join on (w1, w2) with a |vocab-pairs|-bounded build side.
    Log-probs land on the portable rnd6 grid (bit-stable cross-engine,
    the f2 precedent)."""
    from pyspark.sql.window import Window

    from mrjob_spark.operators.partitioning import parallelize_narrow_scan

    # tokenize+explode is the per-row cost: enter at cluster parallelism
    # (sf1 screen: the single-row-group scan ran the whole bigram stage
    # on 1-2 cores — l5 8.9 -> 4.5 s from this; no-op at real layouts)
    docs = parallelize_narrow_scan(docs.select("doc_id", "text"))
    pairs = bind1(tokens(F.col("text")), _token_pairs)
    bg = docs.select("doc_id", F.explode(pairs).alias("b")).select(
        "doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2")
    )
    cnt = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    model = cnt.select(
        "w1",
        "w2",
        (F.col("c").cast("double") / F.sum("c").over(Window.partitionBy("w1"))).alias(
            "p"
        ),
    )
    return bg.join(model, ["w1", "w2"]).select(
        "doc_id", rnd(F.log(F.col("p")), 6).alias("logp")
    )


_LM_SCORE_SQL = f"""
    WITH tok AS (
        SELECT doc_id, {sql_tokens('text')} AS toks FROM documents
    ), bg AS (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(toks), 1)),
                                     i -> toks[i])) AS w1,
               unnest(list_transform(range(1, greatest(len(toks), 1)),
                                     i -> toks[i + 1])) AS w2
        FROM tok
    ), cnt AS (
        SELECT w1, w2, count(*) AS c FROM bg GROUP BY w1, w2
    ), model AS (
        SELECT w1, w2,
               CAST(c AS DOUBLE) / sum(c) OVER (PARTITION BY w1) AS p
        FROM cnt
    ), s AS (
        SELECT doc_id, {sql_rnd('ln(p)', 6)} AS logp
        FROM bg JOIN model USING (w1, w2)
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           {sql_rnd(sql_davg('logp'), 6)} AS avg_logp,
           CASE WHEN {sql_rnd(sql_davg('logp'), 6)} < -3.5
                THEN 'surprising' ELSE 'fluent' END AS verdict
    FROM s GROUP BY doc_id
"""


@query("l5_lm_perplexity", sql=_LM_SCORE_SQL)
def l5_lm_perplexity(spark, sf_dir):
    """LM-based quality scoring (the CCNet / perplexity-filter idea in its
    self-contained form): train a bigram LM on the corpus, score every
    document by its mean log P(w2|w1) under that model, and classify the
    tails — low mean log-prob means the document's word sequences are
    atypical for the corpus (boilerplate, garbled text, wrong language).

    One plan, three shuffles, everything JVM-side: bigram extraction is
    in-row (zip_with over shifted slices), the model is a map-side-
    combinable count + a window over the vocab-bounded counts table
    (successor-set partitions, never the corpus — the l4_bigram_lm
    argument), and scoring joins the corpus bigram stream to the model on
    (w1, w2), a plain equi-join whose build side is |vocab-pairs|-bounded.
    Cross-engine determinism: log-probs are rounded to the portable grid
    (the f2 precedent: ln under rnd6 is bit-stable across engines here)
    and summed in DECIMAL(38,6) (order-independent), so the per-doc mean
    is exact."""
    t = Tables(spark, sf_dir)
    scored = _bigram_logp(t.documents)
    avg_logp = rnd(davg("logp"), 6)
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        avg_logp.alias("avg_logp"),
        F.when(avg_logp < -3.5, "surprising").otherwise("fluent").alias("verdict"),
    )


@query(
    "l10_ccnet_clean",
    sql=f"""
    WITH toks AS MATERIALIZED (
        SELECT doc_id, lang, {sql_tokens('text')} AS w FROM documents
    ),
    paras AS MATERIALIZED (
        SELECT doc_id,
               unnest(range(CAST(ceil(len(w) / {_PARA_W}.0) AS BIGINT)))
                   AS para_idx,
               unnest(list_transform(
                   range(CAST(ceil(len(w) / {_PARA_W}.0) AS BIGINT)),
                   j -> md5(array_to_string(
                       w[(j * {_PARA_W} + 1):(j * {_PARA_W} + {_PARA_W})],
                       ' '))
               )) AS para_h
        FROM toks
    ),
    firstd AS MATERIALIZED (
        SELECT para_h, min(doc_id) AS f_doc FROM paras GROUP BY para_h
    ),
    firsts AS MATERIALIZED (
        SELECT p.para_h, f.f_doc, min(p.para_idx) AS f_idx
        FROM paras p JOIN firstd f
             ON p.para_h = f.para_h AND p.doc_id = f.f_doc
        GROUP BY p.para_h, f.f_doc
    ),
    dedup AS MATERIALIZED (
        SELECT p.doc_id, count(*) AS n_paras,
               CAST(sum(CASE WHEN p.doc_id = f.f_doc
                                  AND p.para_idx = f.f_idx
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        FROM paras p JOIN firsts f USING (para_h)
        GROUP BY p.doc_id
    ),
    bg AS MATERIALIZED (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(w), 1)),
                                     i -> w[i])) AS w1,
               unnest(list_transform(range(1, greatest(len(w), 1)),
                                     i -> w[i + 1])) AS w2
        FROM toks
    ),
    cnt AS MATERIALIZED (
        SELECT w1, w2, count(*) AS c FROM bg GROUP BY w1, w2
    ),
    model AS MATERIALIZED (
        SELECT w1, w2,
               CAST(c AS DOUBLE) / sum(c) OVER (PARTITION BY w1) AS p
        FROM cnt
    ),
    ppl AS MATERIALIZED (
        SELECT doc_id, {sql_rnd(sql_davg(sql_rnd('ln(p)', 6)), 6)}
                   AS avg_logp
        FROM bg JOIN model USING (w1, w2)
        GROUP BY doc_id
    ),
    scored AS MATERIALIZED (
        SELECT t.doc_id, t.lang, d.n_paras, d.n_kept, p.avg_logp
        FROM (SELECT doc_id, lang FROM toks) t
        JOIN dedup d USING (doc_id) JOIN ppl p USING (doc_id)
    ),
    thr AS MATERIALIZED (
        SELECT lang,
               {sql_rnd('quantile_cont(avg_logp, 0.333333)', 6)} AS t33,
               {sql_rnd('quantile_cont(avg_logp, 0.666667)', 6)} AS t66
        FROM scored GROUP BY lang
    )
    SELECT s.doc_id, s.lang, s.n_paras, s.n_kept, s.avg_logp,
           CASE WHEN s.avg_logp < t.t33 THEN 'tail'
                WHEN s.avg_logp < t.t66 THEN 'middle'
                ELSE 'head' END AS ppl_bucket,
           CASE WHEN 3 * s.n_kept < s.n_paras THEN 'drop_dup'
                WHEN s.avg_logp < t.t33 THEN 'drop_tail'
                ELSE 'keep' END AS verdict
    FROM scored s JOIN thr t USING (lang)
    """,
)
def l10_ccnet_clean(spark, sf_dir):
    """The CCNet cleaning pipeline composed end-to-end (Wenzek et al.
    2020 — the shape behind most public web-scale corpora): per-language
    sharding, corpus-wide paragraph dedup with canonical survivors, LM
    perplexity scoring, and per-language perplexity TERCILE bucketing
    (head / middle / tail); the verdict drops mostly-duplicated docs
    (>2/3 of paragraphs lost to earlier copies) and the worst-perplexity
    tercile of what remains — exactly the head+middle selection CCNet
    ships as training data.

    Composition of proven parts, one new mechanism: the paragraph-dedup
    aggregate and the bigram-LM scorer are the registered operators
    (l2_paragraph_dedup / l5_lm_perplexity); the tercile thresholds are
    per-language EXACT percentiles (the a11 parity result: Spark's
    ``percentile`` ≡ ANSI ``quantile_cont`` bit-for-bit on the same
    doubles), computed in one low-cardinality group agg and BROADCAST
    back, so bucketing is map-side — no per-language global sort, which
    is how this survives 10^9 docs per language where an ntile window
    would funnel each language through one task. Scale: three corpus
    tokenization passes (paragraphs, bigram model, bigram scoring), each
    independently scale-proven; every join after the per-doc aggregates
    is on doc_id or broadcast."""
    from mrjob_spark.operators.dedup import paragraph_dedup

    t = Tables(spark, sf_dir)
    docs = t.documents

    dedup = paragraph_dedup(docs, "doc_id", "text", para_w=_PARA_W)

    ppl = (
        _bigram_logp(docs)
        .groupBy("doc_id")
        .agg(rnd(davg("logp"), 6).alias("avg_logp"))
    )

    # one row per doc after the aggregates — materialize ONCE: the tercile
    # thresholds AND the verdict join both consume `scored`, and measured
    # AQE runtime reuse recovered only 2 of the duplicated subtree's 11
    # exchanges (join-strategy replanning de-canonicalizes the rest), so
    # without this barrier the whole dedup+LM pipeline executed twice
    # (round 12; ~10.2 s -> ~6 s at sf0.1). The checkpointed frame is
    # per-doc-bounded — the same scale class as every broadcast here.
    scored = materialize(
        docs.select("doc_id", "lang")
        .join(dedup, "doc_id")
        .join(ppl, "doc_id"),
        LOCAL_CHECKPOINT,
        eager=True,
    )
    thr = scored.groupBy("lang").agg(
        rnd(F.expr("percentile(avg_logp, 0.333333)"), 6).alias("t33"),
        rnd(F.expr("percentile(avg_logp, 0.666667)"), 6).alias("t66"),
    )
    out = scored.join(F.broadcast(thr), "lang")
    bucket = (
        F.when(F.col("avg_logp") < F.col("t33"), "tail")
        .when(F.col("avg_logp") < F.col("t66"), "middle")
        .otherwise("head")
    )
    verdict = (
        F.when(3 * F.col("n_kept") < F.col("n_paras"), "drop_dup")
        .when(F.col("avg_logp") < F.col("t33"), "drop_tail")
        .otherwise("keep")
    )
    return out.select(
        "doc_id", "lang", "n_paras", "n_kept", "avg_logp",
        bucket.alias("ppl_bucket"), verdict.alias("verdict"),
    )


_EPOCH_BUDGET = 120_000  # target tokens per unit source weight

_EPOCH_SQL = f"""
    WITH tok AS (
        SELECT doc_id, source, len({sql_tokens('text')}) AS n FROM documents
    ), tot AS (
        SELECT source, CAST(sum(n) AS BIGINT) AS total FROM tok GROUP BY source
    ), plan AS (
        SELECT source,
               least(CAST(ceil((({sql_hex_hash32('source')} % 100) / 100.0 + 0.5)
                               * {_EPOCH_BUDGET}.0 / total) AS BIGINT),
                     4) AS epochs
        FROM tot
    )
    SELECT t.doc_id, t.source,
           CAST(unnest(range(1, p.epochs + 1)) AS BIGINT) AS epoch
    FROM tok t JOIN plan p USING (source)
"""


@query("l8_epoch_schedule", sql=_EPOCH_SQL)
def l8_epoch_schedule(spark, sf_dir):
    """Epoch scheduling for data mixing: given per-source sampling weights
    and a token budget, decide how many EPOCHS of each source the training
    run repeats (ceil(weight x budget / source_tokens), capped at 4 — the
    standard "don't repeat any source too often" rule) and emit the
    materialized replication plan, one row per (document, epoch). This is
    the step between mixture weights (l8_weighted_mixture decides
    per-document keeps) and packing (l8_sequence_packing) when a source is
    SMALLER than its target share — upsampling by whole epochs instead of
    dropping data. Weights are hash-derived (RNG-free, retry-stable).

    Scale: one corpus scan; the per-source token totals are a tiny
    partial-aggregated rollup whose result broadcast-joins back (sources
    are few); replication is an in-row ``sequence`` + ``explode`` — the
    output fan-out happens at read time on executors, never via a driver
    loop or a shuffle of replicated rows."""
    t = Tables(spark, sf_dir)
    docs = t.documents.select(
        "doc_id", "source", F.size(tokens(F.col("text"))).alias("n")
    )
    tot = docs.groupBy("source").agg(F.sum("n").alias("total"))
    weight = (
        F.pmod(hex_hash32(F.col("source")), F.lit(100)) / F.lit(100.0) + F.lit(0.5)
    )
    plan = tot.select(
        "source",
        F.least(
            F.ceil(weight * F.lit(float(_EPOCH_BUDGET)) / F.col("total")).cast(
                "long"
            ),
            F.lit(4).cast("long"),
        ).alias("epochs"),
    )
    return (
        docs.join(F.broadcast(plan), "source")
        .select(
            "doc_id",
            "source",
            F.explode(F.sequence(F.lit(1).cast("long"), F.col("epochs"))).alias(
                "epoch"
            ),
        )
        .select("doc_id", "source", "epoch")
    )


# ---------------------------------------------------------------------------
# Round-8 addition: DSIR-style hashed-feature importance selection
# ---------------------------------------------------------------------------

#: hashed-feature space size. DSIR uses 10k buckets over n-grams at
#: web scale; 256 keeps the model table trivially broadcastable while
#: the 31-word fixture vocab still spreads collision-free enough to
#: separate the language distributions.
_DSIR_BUCKETS = 256

_DSIR_SQL = f"""
    WITH tok AS (
        SELECT doc_id, lang,
               {sql_hex_hash32('t')} % {_DSIR_BUCKETS} AS bucket
        FROM (SELECT doc_id, lang, unnest({sql_tokens('text')}) AS t
              FROM documents)
    ), src AS (
        SELECT bucket, count(*) AS c FROM tok GROUP BY bucket
    ), tgt AS (
        SELECT bucket, count(*) AS c FROM tok WHERE lang = 'en'
        GROUP BY bucket
    ), totals AS (
        SELECT (SELECT sum(c) FROM src) AS s_tot,
               (SELECT coalesce(sum(c), 0) FROM tgt) AS t_tot
    ), model AS (
        SELECT src.bucket,
               {sql_rnd(f'''ln((coalesce(tgt.c, 0) + 1.0)
                            / (totals.t_tot + {_DSIR_BUCKETS}))
                        - ln((src.c + 1.0)
                             / (totals.s_tot + {_DSIR_BUCKETS}))''', 6)}
                   AS ratio
        FROM src LEFT JOIN tgt ON tgt.bucket = src.bucket
        CROSS JOIN totals
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           {sql_rnd(sql_davg('ratio'), 6)} AS log_importance,
           ({sql_rnd(sql_davg('ratio'), 6)} >= 0) AS selected
    FROM tok JOIN model USING (bucket)
    GROUP BY doc_id
"""


@query("l8_dsir_select", sql=_DSIR_SQL)
def l8_dsir_select(spark, sf_dir):
    """DSIR-style data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every document by
    the mean hashed-feature log importance ratio between a TARGET
    distribution (here: the ``lang = 'en'`` slice — "select me data that
    looks like this") and the raw corpus, then flag the documents whose
    ratio favors the target. Tokens hash into a fixed bucket space
    (collisions and all — the hashing IS the method), each distribution
    is a bucket histogram with add-one smoothing, and a document's
    ``log_importance`` is the mean over its tokens of
    ``ln p_target(bucket) - ln p_source(bucket)``. The paper then
    samples ∝ weight with Gumbel noise; the deterministic twin selects
    on the weight's sign (more target-like than not), keeping the
    operator RNG-free so the oracle can reproduce every verdict
    (``l8_weighted_mixture`` makes the same determinism trade).

    Scale shape: one corpus scan explodes tokens (in-row tokenization,
    JVM-side); BOTH histograms partial-aggregate map-side to ≤256 rows;
    the model join is a broadcast of a 256-row table; the per-doc mean
    is one partial-agg shuffle on doc_id. Nothing grows with the corpus
    but the two count shuffles — the model is CONSTANT-sized by
    construction, which is the reason DSIR hashes features in the first
    place. Cross-engine determinism: the f2/perplexity precedent (ln
    under rnd6 is bit-stable here), DECIMAL(38,6) mean, portable
    rounding at every emitted float."""
    from pyspark.sql.window import Window

    t = Tables(spark, sf_dir)
    tok = t.documents.select(
        "doc_id",
        "lang",
        F.explode(tokens(F.col("text"))).alias("t"),
    ).select(
        "doc_id",
        "lang",
        F.pmod(hex_hash32(F.col("t")), F.lit(_DSIR_BUCKETS)).alias("bucket"),
    )
    src = tok.groupBy("bucket").agg(F.count(F.lit(1)).alias("s_c"))
    tgt = (
        tok.where(F.col("lang") == "en")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("t_c"))
    )
    # totals via an unpartitioned window over the ≤256-row model frame —
    # bounded by construction (the vocab-bounded-window precedent)
    whole = Window.partitionBy()
    model = (
        src.join(tgt, "bucket", "left")
        .select(
            "bucket",
            F.col("s_c"),
            F.coalesce(F.col("t_c"), F.lit(0)).alias("t_c"),
        )
        .select(
            "bucket",
            rnd(
                F.log(
                    (F.col("t_c") + 1.0)
                    / (F.sum("t_c").over(whole) + F.lit(_DSIR_BUCKETS))
                )
                - F.log(
                    (F.col("s_c") + 1.0)
                    / (F.sum("s_c").over(whole) + F.lit(_DSIR_BUCKETS))
                ),
                6,
            ).alias("ratio"),
        )
    )
    log_imp = rnd(davg("ratio"), 6)
    return (
        tok.join(F.broadcast(model), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            log_imp.alias("log_importance"),
            (log_imp >= 0).alias("selected"),
        )
    )


# ---------------------------------------------------------------------------
# Round-8 addition: distributed BPE merge training (the tokenizer artifact)
# ---------------------------------------------------------------------------

_BPE_TRAIN_MERGES = 12


def _bpe_train_sql(n_merges: int) -> str:
    """DuckDB twin of the BPE trainer: the same word-count base, then one
    (pair-count → argmax → merge-apply) CTE triple per round. An empty
    best-pair CTE (pairs ran dry) empties every later round, so both
    engines emit the same short merge table."""
    parts = [f"""WITH w AS (
        SELECT w, count(*) AS cnt FROM (
            SELECT unnest({sql_tokens('text')}) AS w FROM documents)
        WHERE regexp_matches(w, '^[a-z]+$')
        GROUP BY w
    ), m0 AS (
        SELECT trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS syms, cnt
        FROM w
    )"""]
    for r in range(n_merges):
        parts.append(f""", p{r} AS (
        SELECT l, r2, sum(cnt) AS c FROM (
            SELECT cnt,
                   unnest(list_transform(range(1, greatest(len(a), 1)),
                                         i -> a[i])) AS l,
                   unnest(list_transform(range(1, greatest(len(a), 1)),
                                         i -> a[i + 1])) AS r2
            FROM (SELECT string_split(syms, ' ') AS a, cnt FROM m{r})
        ) GROUP BY l, r2
    ), b{r} AS (
        SELECT l, r2, c FROM p{r} ORDER BY c DESC, l, r2 LIMIT 1
    ), m{r + 1} AS (
        SELECT regexp_replace(syms, '\\b' || l || ' ' || r2 || '\\b',
                              l || r2, 'g') AS syms, cnt
        FROM m{r}, b{r}
    )""")
    selects = " UNION ALL ".join(
        f"""SELECT CAST({r + 1} AS BIGINT) AS rank, l AS left_sym,
                   r2 AS right_sym, l || r2 AS merged,
                   CAST(c AS BIGINT) AS pair_count FROM b{r}"""
        for r in range(n_merges)
    )
    return "".join(parts) + "\n    " + selects


@query("l4_bpe_train", sql=_bpe_train_sql(_BPE_TRAIN_MERGES))
def l4_bpe_train(spark, sf_dir):
    """BPE merge TRAINING (Sennrich et al. 2016 — the distributed
    tokenizer-construction step ``l4_bpe_token_count`` only estimates):
    learn the first N merge rules from the corpus and emit the merge
    table — rank, pair, merged symbol, weighted pair count — the
    artifact a tokenizer ships.

    The scale story is the classic one and the reason BPE is trainable
    at 100 TB at all: after ONE corpus scan collapses the text to the
    word-frequency table, every round runs on the VOCAB (bounded:
    ~millions of types against billions of tokens — cached here via
    ``persist`` exactly like the k-means centroid precedent keeps
    constant state). Per round: in-row adjacent-pair extraction
    (``zip_with`` over shifted slices, the bigram idiom), one
    vocab-sized partial-agg shuffle, a ONE-ROW argmax collect (count
    desc, pair asc — deterministic, RNG-free), and a map-side
    leftmost-greedy merge via ``\\b``-anchored ``regexp_replace``
    (symbols are ``[a-z]+`` by the word filter, so word-boundary
    anchoring is exact in BOTH regex engines — Java and RE2 share
    ``\\b`` for ASCII). Deviations from the reference formulation,
    both deliberate: no ``</w>`` end-of-word marker (its ``<``/``>``
    would break the portable boundary anchoring; merges then never
    cross word ends anyway since words are separate rows), and greedy
    left-to-right application — the semantics ``replaceAll`` and RE2's
    global replace share, making the oracle exact."""
    t = Tables(spark, sf_dir)
    merges = _train_bpe_merges(t.documents, _BPE_TRAIN_MERGES)
    return spark.createDataFrame(
        merges,
        "rank bigint, left_sym string, right_sym string,"
        " merged string, pair_count bigint",
    )


def _bpe_encode_sql(n_merges: int) -> str:
    """DuckDB twin of the encoder: train m0..m{n} exactly as
    ``_bpe_train_sql`` does, then apply the learned merges to the
    distinct-word vocabulary and roll per-doc token counts up through
    the word stream. BOTH chained-CTE families (the m-chain carrying
    the training state and the v-chain applying merges to the vocab)
    use ``LEFT JOIN b{{r}} ON TRUE`` + ``coalesce`` so a dry merge
    round — ``b{{r}}`` empty because no pair remains (e.g. all
    single-char words) — is a no-op, not a state/vocabulary wipe; a
    plain ``FROM m, b`` cross join would silently empty the chain
    while the Spark trainer just breaks early and still encodes.

    Every CTE is ``AS MATERIALIZED``: the v-chain references every
    ``b{r}``, and with inlined CTEs DuckDB re-expands each one's whole
    m-chain history — measured as a >7-minute hang at sf0.001 vs 0.4 s
    materialized (the l2_minhash staged-oracle lesson; evaluation
    order changes, semantics don't)."""
    parts = [f"""WITH w AS MATERIALIZED (
        SELECT w, count(*) AS cnt FROM (
            SELECT unnest({sql_tokens('text')}) AS w FROM documents)
        WHERE regexp_matches(w, '^[a-z]+$')
        GROUP BY w
    ), m0 AS MATERIALIZED (
        SELECT trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS syms, cnt
        FROM w
    )"""]
    for r in range(n_merges):
        parts.append(f""", p{r} AS MATERIALIZED (
        SELECT l, r2, sum(cnt) AS c FROM (
            SELECT cnt,
                   unnest(list_transform(range(1, greatest(len(a), 1)),
                                         i -> a[i])) AS l,
                   unnest(list_transform(range(1, greatest(len(a), 1)),
                                         i -> a[i + 1])) AS r2
            FROM (SELECT string_split(syms, ' ') AS a, cnt FROM m{r})
        ) GROUP BY l, r2
    ), b{r} AS MATERIALIZED (
        SELECT l, r2, c FROM p{r} ORDER BY c DESC, l, r2 LIMIT 1
    ), m{r + 1} AS MATERIALIZED (
        SELECT coalesce(regexp_replace(m.syms,
                        '\\b' || b.l || ' ' || b.r2 || '\\b',
                        b.l || b.r2, 'g'), m.syms) AS syms, m.cnt
        FROM m{r} m LEFT JOIN b{r} b ON TRUE
    )""")
    parts.append(""", v0 AS MATERIALIZED (
        SELECT w, trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS syms
        FROM w
    )""")
    for r in range(n_merges):
        parts.append(f""", v{r + 1} AS MATERIALIZED (
        SELECT v.w,
               coalesce(regexp_replace(v.syms,
                        '\\b' || b.l || ' ' || b.r2 || '\\b',
                        b.l || b.r2, 'g'), v.syms) AS syms
        FROM v{r} v LEFT JOIN b{r} b ON TRUE
    )""")
    parts.append(f""", enc AS MATERIALIZED (
        SELECT w, len(string_split(syms, ' ')) AS n_syms FROM v{n_merges}
    ), toks AS (
        SELECT doc_id, unnest({sql_tokens('text')}) AS w FROM documents
    )
    SELECT t.doc_id,
           count(*) AS n_words,
           CAST(sum(e.n_syms) AS BIGINT) AS n_bpe_tokens,
           {sql_rnd('CAST(sum(e.n_syms) AS DOUBLE) / count(*)')}
               AS tokens_per_word
    FROM toks t JOIN enc e USING (w)
    GROUP BY t.doc_id""")
    return "".join(parts)


@query("l4_bpe_encode", sql=_bpe_encode_sql(_BPE_TRAIN_MERGES))
def l4_bpe_encode(spark, sf_dir):
    """BPE ENCODING with the merges ``l4_bpe_train`` learns — the apply
    side of the tokenizer, closing the train→encode loop: per document,
    how many subword tokens its words segment into under the trained
    merge table (the number a training pipeline budgets sequences by).

    Scale shape — encode the VOCABULARY, not the corpus: the 12 merge
    rules apply as chained in-row ``\\b``-anchored ``regexp_replace``
    over the distinct-word table (vocab-bounded, the same portable
    leftmost-greedy semantics as training), and the corpus token stream
    then joins the tiny word→token-count table and partial-aggregates
    per document. Work on the data plane is ONE tokenize + one
    vocab-keyed shuffle join — the merge chain's cost never touches the
    token stream, which is what makes real 100 TB tokenization runs
    vocab-bound, not corpus-bound. Training's per-round one-row argmax
    collects are the bpe_train precedent (driver state = the merge
    table itself)."""
    t = Tables(spark, sf_dir)
    merges = _train_bpe_merges(t.documents, _BPE_TRAIN_MERGES)

    vocab = (
        t.documents.select(F.explode(tokens(F.col("text"))).alias("w"))
        .where(F.col("w").rlike("^[a-z]+$"))
        .distinct()
    )
    syms = F.trim(F.regexp_replace(F.col("w"), "(.)", "$1 "))
    for _rank, left, right, merged, _c in merges:
        syms = F.regexp_replace(
            syms, "\\b%s %s\\b" % (left, right), merged)
    enc = vocab.select("w", F.size(F.split(syms, " ")).alias("n_syms"))

    toks = t.documents.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("w")
    )
    n_bpe = F.sum("n_syms")
    return (
        toks.join(enc, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            n_bpe.cast("bigint").alias("n_bpe_tokens"),
            rnd(
                n_bpe.cast("double") / F.count(F.lit(1)), 6
            ).alias("tokens_per_word"),
        )
    )


def _train_bpe_merges(documents, n_merges: int) -> list:
    """The distributed trainer behind ``l4_bpe_train`` (and the train
    phase of ``l4_bpe_encode``): list of (rank, l, r, merged, count)."""
    words = (
        documents.select(F.explode(tokens(F.col("text"))).alias("w"))
        .where(F.col("w").rlike("^[a-z]+$"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # Cached plans are exempt from AQE coalescing by default, so `base`
    # would materialize at the static spark.sql.shuffle.partitions width
    # and every merge round would scan that many near-empty cached
    # partitions of a vocab-bounded table. The conf must be set BEFORE
    # .persist(): the InMemoryRelation's plan (adaptive or not) is fixed
    # when the cache entry is registered, not when it materializes.
    # Scoped (not session-global): the same conf measured a net loss on
    # the corpus-sized persisted frames of the minhash family, where
    # coalescing the cache trades away scan parallelism.
    spark = documents.sparkSession
    _CACHE_AQE = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    try:
        prior_cache_aqe = spark.conf.get(_CACHE_AQE)
    except Exception:
        prior_cache_aqe = "false"
    spark.conf.set(_CACHE_AQE, "true")
    base = materialize(words.select(
        F.trim(F.regexp_replace(F.col("w"), "(.)", "$1 ")).alias("syms"),
        "cnt",
    ))
    state = base
    try:
        merges = []
        for r in range(n_merges):
            arr = F.split(F.col("syms"), " ")
            n = F.greatest(F.size(arr) - 1, F.lit(0))
            prs = F.zip_with(
                F.slice(arr, 1, n),
                F.slice(arr, 2, n),
                lambda a, b: F.struct(a.alias("l"), b.alias("r")),
            )
            # Round-13 measurement note (VERDICT r12 item 7): folding
            # this argmax into a single-row min(struct(-c, l, r))
            # aggregate was A/B-measured 0.15-0.2 s/loop SLOWER at sf0.1
            # (merges identical) — orderBy+limit(1) compiles to
            # TakeOrderedAndProject, which takes the per-partition top-1
            # and merges on the driver with NO extra exchange, while the
            # fold ADDS a single-partition exchange + struct build per
            # row. Kept as-is; plans/r13/l4_bpe_train_argmax_*.txt holds
            # both plans.
            best = (
                state.select("cnt", F.explode(prs).alias("p"))
                .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
                .agg(F.sum("cnt").alias("c"))
                .orderBy(F.desc("c"), "l", "r")
                .limit(1)
                .collect()
            )
            if not best:
                break
            b = best[0]
            merges.append((r + 1, b["l"], b["r"], b["l"] + b["r"], int(b["c"])))
            state = state.select(
                F.regexp_replace(
                    F.col("syms"),
                    "\\b%s %s\\b" % (b["l"], b["r"]),
                    b["l"] + b["r"],
                ).alias("syms"),
                "cnt",
            )
    finally:
        release(base)
        spark.conf.set(_CACHE_AQE, prior_cache_aqe)
    return merges


# ---------------------------------------------------------------------------
# L1 × L9 (round 12): URL-keyed exact dedup — the first dedup stage of a
# web-corpus pipeline (RefinedWeb dedups by canonical URL before any
# content comparison). Canonicalization is pure JVM column math
# (functions/urls.py); testdata carries no URLs, so a deterministic
# messy-URL generator (the synthesize_media_payloads idiom) manufactures
# case/port/tracking-param/fragment noise AND path collisions from
# (doc_id, source) — the oracle rebuilds both sides arithmetically, so
# drift in the generator OR the canonicalizer breaks the hash.
# ---------------------------------------------------------------------------

from mrjob_spark.functions.urls import (  # noqa: E402
    canonical_url,
    sql_canonical_url,
    sql_synthesize_url,
    synthesize_url,
)


@query(
    "l1_url_dedup",
    sql=f"""
    WITH base AS (
        SELECT doc_id,
               {sql_canonical_url(sql_synthesize_url())} AS canonical_url
        FROM documents
    ),
    reps AS (
        SELECT canonical_url, MIN(doc_id) AS rep_id,
               COUNT(*) AS n_same
        FROM base GROUP BY canonical_url
    )
    SELECT b.doc_id, b.canonical_url, r.rep_id, r.n_same,
           b.doc_id <> r.rep_id AS is_dup
    FROM base b JOIN reps r USING (canonical_url)
    """,
)
def l1_url_dedup(spark, sf_dir):
    """URL-keyed exact dedup: canonicalize (lowercase scheme/host, strip
    www./default ports/fragments/tracking params, sort the survivors,
    strip trailing slash) then keep the smallest doc_id per canonical
    URL. Per-doc verdicts: (canonical_url, rep_id, n_same, is_dup).

    Scale shape: canonicalization is in-row regexp/array math inside
    whole-stage codegen — the URL stream never touches Python; the
    first-occurrence rule is the skew-proof hash aggregate (a hot URL is
    a partial-agg cell, never a window partition), and every shuffle is
    keyed on the canonical url — the paragraph-dedup plan at URL
    granularity (pinned in test_plans.py). The raw url is materialized
    behind its OWN projection alias before canonicalization: inlining
    the generator into the canonicalizer's five regexp_extract calls
    re-evaluates the construction per extraction (measured 2.4x slower
    at sf1), and the widen-before-heavy-math narrow-scan rule applies
    exactly as it does for the shingling operators."""
    from mrjob_spark.operators.partitioning import parallelize_narrow_scan

    t = Tables(spark, sf_dir)
    base = parallelize_narrow_scan(
        t.documents.select(
            "doc_id",
            synthesize_url(F.col("doc_id"), F.col("source")).alias("url"),
        )
    ).select(
        "doc_id", canonical_url(F.col("url")).alias("canonical_url")
    )
    reps = base.groupBy("canonical_url").agg(
        F.min("doc_id").alias("rep_id"),
        F.count("*").alias("n_same"),
    )
    return base.join(reps, "canonical_url").select(
        "doc_id", "canonical_url", "rep_id", "n_same",
        (F.col("doc_id") != F.col("rep_id")).alias("is_dup"),
    )


# ---------------------------------------------------------------------------
# L7 (round 12): per-source distribution divergence — corpus composition
# analytics. KL(source unigram || corpus unigram) is the standard drift /
# domain-shift meter a mixture designer reads before setting L8 weights
# (the DSIR importance ratio, l8_dsir_select, is its per-document form).
# No smoothing is needed: a source's vocabulary is a subset of the
# corpus's, so every p_sw has a positive p_w.
# ---------------------------------------------------------------------------

_L7_DIVERGENCE_SQL = f"""
    WITH tok AS (
        SELECT source, unnest({sql_tokens('text')}) AS w FROM documents
    ),
    sw AS (
        SELECT source, w, COUNT(*) AS c_sw FROM tok GROUP BY source, w
    ),
    wt AS (
        SELECT w, SUM(c_sw) AS c_w FROM sw GROUP BY w
    ),
    st AS (
        SELECT source, SUM(c_sw) AS n_tokens,
               COUNT(*) AS distinct_tokens
        FROM sw GROUP BY source
    ),
    tot AS (SELECT SUM(c_sw) AS n FROM sw),
    terms AS (
        SELECT sw.source,
               {sql_rnd(
                   "(CAST(sw.c_sw AS DOUBLE) / CAST(st.n_tokens AS DOUBLE))"
                   " * ln((CAST(sw.c_sw AS DOUBLE)"
                   "       / CAST(st.n_tokens AS DOUBLE))"
                   "      / (CAST(wt.c_w AS DOUBLE) / CAST(tot.n AS DOUBLE)))"
               )} AS term
        FROM sw
        JOIN wt ON wt.w = sw.w
        JOIN st ON st.source = sw.source
        CROSS JOIN tot
    ),
    kl AS (
        SELECT source, {sql_dsum('term')} AS kl_divergence
        FROM terms GROUP BY source
    ),
    nd AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source)
    SELECT st.source, nd.n_docs, CAST(st.n_tokens AS BIGINT) AS n_tokens,
           st.distinct_tokens,
           {sql_rnd(
               'CAST(st.distinct_tokens AS DOUBLE)'
               ' / CAST(st.n_tokens AS DOUBLE)'
           )} AS ttr,
           {sql_rnd('kl.kl_divergence')} AS kl_divergence
    FROM st JOIN kl USING (source) JOIN nd USING (source)
"""


@query("l7_source_divergence", sql=_L7_DIVERGENCE_SQL)
def l7_source_divergence(spark, sf_dir):
    """Per-source corpus-composition profile: token volume, vocabulary
    size, type-token ratio, and KL(source unigram || corpus unigram) —
    the drift meter read before setting mixture weights.

    Scale shape: ONE shuffled (source, word) partial-count intermediate
    feeds everything (the tf-idf idiom) — corpus word totals derive from
    it with a word-keyed aggregate, per-source totals with a tiny
    source-keyed one (broadcast back), and the grand total is a 1-row
    broadcast. Per-term KL contributions round to 6 decimals and sum in
    exact DECIMAL (the perplexity precedent), so no float-accumulation
    order can flip the driver hash. No window, no Python, shuffles keyed
    on (source, w) / w only."""
    from mrjob_spark.operators.partitioning import parallelize_narrow_scan

    t = Tables(spark, sf_dir)
    tok = parallelize_narrow_scan(
        t.documents.select("source", "text")
    ).select("source", F.explode(tokens(F.col("text"))).alias("w"))
    sw = tok.groupBy("source", "w").agg(F.count("*").alias("c_sw"))
    wt = sw.groupBy("w").agg(F.sum("c_sw").alias("c_w"))
    st = sw.groupBy("source").agg(
        F.sum("c_sw").alias("n_tokens"),
        F.count("*").alias("distinct_tokens"),
    )
    tot = sw.agg(F.sum("c_sw").alias("n"))
    p_sw = F.col("c_sw") / F.col("n_tokens")
    term = rnd(p_sw * F.log(p_sw / (F.col("c_w") / F.col("n"))))
    kl = (
        sw.join(wt, "w")
        .join(F.broadcast(st.select("source", "n_tokens")), "source")
        .crossJoin(F.broadcast(tot))
        .select("source", term.alias("term"))
        .groupBy("source")
        .agg(dsum("term").alias("kl_divergence"))
    )
    nd = t.documents.groupBy("source").agg(F.count("*").alias("n_docs"))
    return (
        st.join(kl, "source")
        .join(nd, "source")
        .select(
            "source", "n_docs", "n_tokens", "distinct_tokens",
            rnd(F.col("distinct_tokens") / F.col("n_tokens")).alias("ttr"),
            rnd(F.col("kl_divergence")).alias("kl_divergence"),
        )
    )
