"""Deduplication operators (SURVEY.md §2.11 L1/L2): exact, normalized,
MinHash+LSH, SimHash, exact n-gram Jaccard, embedding-cosine near-dup.

All are DataFrame compositions — MinHash's per-document math is one
numpy kernel in a ``mapInArrow`` (:func:`minhash_arrow`), hashing is
md5-based (engine-portable, see functions/hashing.py) and every shuffle
is on a key whose cardinality scales with the data (shingle hash, band
hash, label bucket), never an all-pairs cross join. The LSH path is the 100 TB design: candidate
generation cost is O(docs x bands), verification touches only colliding
pairs. A corpus small enough for one process (:data:`_DRIVER_DOCS`)
takes the same steps on the driver instead, in one Spark job.
"""

from __future__ import annotations

import functools
import itertools
import re

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from mrjob_spark.functions.rounding import rnd
from mrjob_spark.materialize import materialize, release

from mrjob_spark.functions.hashing import (
    MERSENNE_61,
    MINHASH_A,
    MINHASH_B,
    NUM_MINHASHES,
    hex_hash32,
    sql_hex_hash32,
    sql_minhash_exprs,
)
from mrjob_spark.functions.text import (
    distinct_tokens,
    normalize_text,
    sql_normalize_text,
    sql_tokens,
)
# ---------------------------------------------------------------------------
# L1: exact + normalized dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Hash-groupBy exact dedup: one representative (min id) per distinct
    text hash, plus the duplicate count. Partial aggregation makes this a
    single well-combined shuffle at any scale."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def normalized_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup after canonicalization (lowercase, collapse punctuation/
    whitespace) — catches trivially-reformatted duplicates."""
    return (
        df.groupBy(F.md5(normalize_text(F.col(text_col))).alias("norm_hash"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def incremental_exact_dedup(
    history: DataFrame,
    new_batch: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Dedup an incoming batch against an already-ingested corpus — the
    daily-ingest shape at 100 TB, where re-running whole-corpus dedup per
    batch is a non-starter.

    The join direction is the whole design: the NEW side is small (one
    ingest's worth) and the HISTORY side is the corpus, so the new batch's
    distinct hashes broadcast and history is probed with a map-side
    broadcast semi join — **history never shuffles**; the only exchange in
    the plan carries the colliding history rows (bounded by the batch's
    distinct-hash count) and the batch itself.  In production the history
    side is a persisted hash index (hash, min_id) so the probe is a
    narrow two-column scan; here it is derived in-query from the documents
    table so the oracle can state the whole computation.

    Per new document: ``verdict`` ∈ {'dup_of_history', 'dup_in_batch',
    'new'} and ``keep_id`` — the surviving representative (the history
    min-id, the batch's first occurrence, or itself).
    """
    h = F.md5(normalize_text(F.col(text_col)))
    new_h = new_batch.select(
        F.col(id_col).alias("doc_id"), h.alias("content_hash")
    )
    new_hashes = new_h.select("content_hash").distinct()
    hist_match = (
        history.select(F.col(id_col).alias("_hid"), h.alias("content_hash"))
        .join(F.broadcast(new_hashes), "content_hash", "leftsemi")
        .groupBy("content_hash")
        .agg(F.min("_hid").alias("hist_keep"))
    )
    batch_first = new_h.groupBy("content_hash").agg(
        F.min("doc_id").alias("batch_keep")
    )
    return (
        new_h.join(F.broadcast(batch_first), "content_hash")
        .join(F.broadcast(hist_match), "content_hash", "left")
        .select(
            "doc_id",
            "content_hash",
            F.when(F.col("hist_keep").isNotNull(), "dup_of_history")
            .when(F.col("doc_id") > F.col("batch_keep"), "dup_in_batch")
            .otherwise("new")
            .alias("verdict"),
            F.coalesce(F.col("hist_keep"), F.col("batch_keep")).alias(
                "keep_id"
            ),
        )
    )


# ---------------------------------------------------------------------------
# L2: MinHash + LSH
# ---------------------------------------------------------------------------

SHINGLE_N = 8
NUM_BANDS = 16
ROWS_PER_BAND = 4  # NUM_BANDS * ROWS_PER_BAND == NUM_MINHASHES


#: shingles hashed and folded per numpy step: bounds the kernel's working
#: set (a NUM_MINHASHES x _CHUNK uint64 matrix, 8 MiB) even inside one huge
#: document
_CHUNK = 1 << 14

#: SQL ``lower`` is the simple one-to-one case mapping; Python's
#: ``str.lower`` is the full one, which differs on exactly two code points:
#: U+0130 lowers to two code points, and a word-final capital sigma to ς
_SIMPLE_LOWER = str.maketrans({"\u0130": "i", "\u03a3": "\u03c3"})

#: runs of text that SQL ``lower`` lowers: all but the 43 capitals that
#: Unicode 14 added, which the SQL engine's Unicode 13 case tables leave
#: as they are and Python's lower
_LOWERED_RUN = re.compile(
    "[^\u2c2f\ua7c0\ua7c7\ua7c9\ua7d0\ua7d6\ua7d8\ua7f5"
    "\U00010570-\U0001057a\U0001057c-\U0001058a\U0001058c-\U00010592"
    "\U00010594\U00010595]+")


@functools.cache
def _md5():
    """CPython's own md5 where it is built in: the same digests as
    ``hashlib.md5``, about twice as fast on an 8-byte shingle."""
    try:
        from _md5 import md5
    except ImportError:
        from hashlib import md5
    return md5


def _shingle_hashes(text: str):
    """``hex_hash32`` of every SHINGLE_N-char shingle of ``lower(text)``,
    in shingle order, as uint64 arrays of at most :data:`_CHUNK`. A text
    shorter than SHINGLE_N is its one truncated shingle (``''`` too),
    as SQL's ``substr`` gives. ASCII text is sliced as bytes; any other
    text by code point, each shingle then encoded as UTF-8."""
    import numpy as np

    md5 = _md5()
    if text.isascii():
        t = text.lower().encode()
    else:
        t = _LOWERED_RUN.sub(lambda m: m.group().lower(),
                             text.translate(_SIMPLE_LOWER))
    n = max(len(t) - SHINGLE_N + 1, 1)
    for lo in range(0, n, _CHUNK):
        span = range(lo, min(lo + _CHUNK, n))
        if isinstance(t, bytes):
            digests = [md5(t[i:i + SHINGLE_N]).digest() for i in span]
        else:
            digests = [md5(t[i:i + SHINGLE_N].encode()).digest() for i in span]
        # the first 4 of each digest's 16 bytes, big-endian: hex_hash32
        yield np.frombuffer(b"".join(digests), ">u4")[::4].astype(np.uint64)


@functools.cache
def _affine_maps():
    """MINHASH_A and MINHASH_B as ``NUM_MINHASHES x 1`` uint64 columns."""
    import numpy as np

    a = np.array(MINHASH_A, np.uint64)[:, None]
    b = np.array(MINHASH_B, np.uint64)[:, None]
    a.flags.writeable = b.flags.writeable = False
    return a, b


def _fold_signature(h, sig) -> None:
    """``sig[i] = min(sig[i], min over h of (a_i·h + b_i) mod P)`` in
    place, P = 2⁶¹−1, all uint64. With h < 2³², a_i < 2³⁰ and b_i < 2²⁸,
    x = a_i·h + b_i < 2P, so x mod P is x or x − P, whichever is smaller
    in wrapping arithmetic (x − P wraps above x when x < P). A minimum
    over both choices is the minimum of two row minima."""
    import numpy as np

    a, b = _affine_maps()
    x = a * h
    x += b
    np.minimum(sig, x.min(axis=1), out=sig)
    x -= np.uint64(MERSENNE_61)
    np.minimum(sig, x.min(axis=1), out=sig)


def minhash_arrow(batch, out: str):
    """The one MinHash kernel, per document over Arrow: ``batch`` is a
    record batch or table whose first column is the document id and
    whose second is its text. ``out`` picks what it returns, as the
    same kind of Arrow object:

    - ``"bands"``: ``doc_id, band_idx, band_hash``, NUM_BANDS rows per
      document; a band hash is the md5 of its ROWS_PER_BAND minhashes
      joined with '-' in decimal;
    - ``"signatures"``: ``doc_id, m0..m63``;
    - ``"sets"``: ``doc_id, hs``, the sorted distinct shingle hashes.

    A null text still gets its row(s): all-null minhashes, NUM_BANDS
    bands of ``md5('')`` and an empty set, as in the SQL twin
    (:func:`sql_band_rows_cte`). The streaming admission relies on it:
    every arrival needs a verdict. Bit for bit the SQL twin's shingles,
    affine maps and band md5s. Each row is one document, so a repeated
    id gets one signature per row, not one over the union."""
    import numpy as np
    import pyarrow as pa

    ids, texts = batch.column(0), batch.column(1).to_pylist()
    n = len(texts)
    if out == "sets":
        sets = [_hash_set(() if t is None else _shingle_hashes(t))
                for t in texts]
        offsets = np.cumsum([0] + [len(s) for s in sets], dtype=np.int32)
        hs = pa.ListArray.from_arrays(
            offsets, np.concatenate(sets) if sets else np.empty(0, np.int64))
        return type(batch).from_arrays([ids, hs], names=["doc_id", "hs"])
    sig = _signatures(texts)
    if out == "signatures":
        null = np.array([t is None for t in texts], bool)
        cols = [pa.array(m, pa.int64(), mask=null)
                for m in np.ascontiguousarray(sig.T, np.int64)]
        return type(batch).from_arrays(
            [ids, *cols],
            names=["doc_id", *[f"m{i}" for i in range(NUM_MINHASHES)]])
    return type(batch).from_arrays([
        ids.take(np.repeat(np.arange(n), NUM_BANDS)),
        pa.array(np.tile(np.arange(NUM_BANDS, dtype=np.int32), n)),
        pa.array(_band_hashes(sig, texts), pa.string()),
    ], names=["doc_id", "band_idx", "band_hash"])


def _signatures(texts, chunks=None):
    """The ``n x NUM_MINHASHES`` uint64 signatures of ``texts``; a null
    text keeps its all-P row. ``chunks``, if given, is a list that gets
    each document's shingle-hash chunks (an empty list for a null
    text), so that a caller can build shingle sets without hashing
    again."""
    import numpy as np

    sig = np.full((len(texts), NUM_MINHASHES), MERSENNE_61, np.uint64)
    for d, t in enumerate(texts):
        hs = [] if t is None else _shingle_hashes(t)
        if chunks is not None:
            hs = list(hs)
            chunks.append(hs)
        for h in hs:
            _fold_signature(h, sig[d])
    return sig


def _band_hashes(sig, texts) -> list:
    """NUM_BANDS band hashes per document, flat in document order: the
    md5 of ROWS_PER_BAND minhashes joined with '-' in decimal, and
    ``md5('')`` for every band of a null text."""
    md5 = _md5()
    no_text = [md5(b"").hexdigest()] * NUM_BANDS
    out = []
    for t, s in zip(texts, sig.tolist()):
        out += no_text if t is None else [
            md5("-".join(map(str, s[k:k + ROWS_PER_BAND])).encode()).hexdigest()
            for k in range(0, NUM_MINHASHES, ROWS_PER_BAND)
        ]
    return out


def _hash_set(chunks):
    """The sorted distinct shingle hashes of one document's chunks, as
    int64; empty for a null text (no chunks)."""
    import numpy as np

    chunks = list(chunks)
    if not chunks:
        return np.empty(0, np.int64)
    return np.unique(np.concatenate(chunks)).astype(np.int64)


def _minhash_frame(df: DataFrame, id_col: str, text_col: str, out: str):
    """:func:`minhash_arrow` over ``df``'s ``id_col, text_col`` in one
    ``mapInArrow``: each document's signature is computed in its own
    task, so no shuffle."""
    id_type = df.schema[id_col].dataType.simpleString()
    schema = {
        "bands": "band_idx int, band_hash string",
        "signatures": ", ".join(f"m{i} bigint" for i in range(NUM_MINHASHES)),
        "sets": "hs array<bigint>",
    }[out]

    def kernel(batches):
        for b in batches:
            yield minhash_arrow(b, out)

    return df.select(id_col, text_col).mapInArrow(
        kernel, f"doc_id {id_type}, {schema}")


def minhash_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """doc_id + m0..m63 minhash columns over 8-char shingles."""
    from mrjob_spark.operators.partitioning import parallelize_narrow_scan

    return _minhash_frame(
        parallelize_narrow_scan(df.select(id_col, text_col)),
        id_col, text_col, "signatures")


def minhash_band_rows(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """``(doc_id, band_idx, band_hash)`` — the LSH band index rows, NUM_BANDS
    per document. This is the unit the incremental near-dup ingest path
    maintains as its corpus index: two documents are LSH candidates iff
    they share a (band_idx, band_hash) key, so admission checks are key
    lookups, never pair joins.

    ``parallelize_narrow_scan`` first (a single-file corpus otherwise
    hashes on ONE core — 11.2 s → 1.6 s at sf0.1), then
    :func:`minhash_arrow` per document in one ``mapInArrow``: no
    shuffle, and the same kernel as :func:`minhash_lsh_pairs` and the
    streaming admission's driver path, so none of them can disagree on
    bucketing."""
    from mrjob_spark.operators.partitioning import parallelize_narrow_scan

    return _minhash_frame(
        parallelize_narrow_scan(df.select(id_col, text_col)),
        id_col, text_col, "bands")


def lsh_band_admission(
    batch_docs: DataFrame,
    history_bands: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Admission verdicts for an arriving batch against a corpus LSH band
    index (ST × L2 — the near-dup twin of
    ``incremental_exact_dedup``): per batch document,

    * ``dup_of_history`` — some band bucket already exists in
      ``history_bands`` (the document is an LSH candidate against the
      ingested corpus);
    * ``dup_in_batch`` — no history hit, but an EARLIER batch document
      (smaller ``doc_id``, the arrival-order stand-in) occupies one of its
      buckets. First arrival wins, and a rejected arrival still occupies
      its buckets for later docs — exactly how a streamed band-state dedup
      behaves, which is what makes ordered micro-batch replay converge to
      this batch form (tests/test_streaming.py proves the equivalence);
    * ``new`` — admitted.

    Scale shape (the st11 probe pattern, one level down at band
    granularity): the corpus-sized history index is scanned ONCE and never
    shuffled — it is probed with a broadcast LeftSemi of the batch's
    band keys, and the matched keys (bounded by batch size × NUM_BANDS)
    broadcast back onto the batch. The batch's own band rows hang off ONE
    explicit repartition on the bucket key, so the distinct-keys probe,
    the first-arrival aggregate, and the flag join all reuse a single
    batch-sized exchange; the only other shuffle is the final per-doc
    aggregate. An ingest micro-batch is small relative to the corpus by
    definition — that asymmetry is the whole design."""
    bands = minhash_band_rows(
        batch_docs.select(id_col, text_col), id_col, text_col
    )
    return lsh_admission_from_bands(bands, history_bands)


def lsh_admission_from_bands(
    bands: DataFrame, history_bands: DataFrame
) -> DataFrame:
    """:func:`lsh_band_admission`'s verdict math over PRE-COMPUTED batch
    band rows — the streaming ingest driver
    (``streaming/ops.py:neardup_ingest_foreach_batch``) shingles each
    micro-batch once and feeds the same band rows to admission AND the
    index append through this entry point."""
    bands = bands.repartition("band_idx", "band_hash")

    # PERSISTED, deliberately: the first-arrival aggregate serves two
    # consumers — the history probe's key set and the per-row flag join.
    # Without the barrier, column pruning rewrites the probe branch's
    # copy (drops min(doc_id), then prunes doc_id below the repartition),
    # which defeats exchange reuse and silently forks a SECOND scan +
    # shingle pass of the batch (measured: 3 parquet scans instead of 2).
    # The footprint is bounded by the batch's distinct band keys — the
    # exact relation we broadcast to the history probe anyway, so this
    # caches nothing bigger than the driver already ships. (The no-cache
    # rule in minhash_lsh_pairs is about CORPUS-sized state; this is the
    # `cand`-style bounded-intermediate precedent.)
    firsts = materialize(
        bands.groupBy("band_idx", "band_hash").agg(
            F.min("doc_id").alias("first_id")
        )
    )
    batch_keys = firsts.select("band_idx", "band_hash")
    hist_hits = (
        history_bands.select("band_idx", "band_hash")
        .join(F.broadcast(batch_keys), ["band_idx", "band_hash"], "leftsemi")
        .distinct()
        .withColumn("hist_hit", F.lit(1))
    )
    result = (
        bands.join(firsts, ["band_idx", "band_hash"])
        .join(F.broadcast(hist_hits), ["band_idx", "band_hash"], "left")
        .groupBy("doc_id")
        .agg(
            F.max(F.coalesce("hist_hit", F.lit(0))).alias("hh"),
            F.min("first_id").alias("min_first"),
        )
        .select(
            "doc_id",
            F.when(F.col("hh") == 1, "dup_of_history")
            .when(F.col("min_first") < F.col("doc_id"), "dup_in_batch")
            .otherwise("new")
            .alias("verdict"),
        )
    )
    return result


def lsh_admission_local(bands, history):
    """:func:`lsh_admission_from_bands`'s verdicts computed on the
    driver, for the streaming ingest's small micro-batches
    (``streaming/ops.py:neardup_ingest_foreach_batch``). ``bands`` is
    the batch's collected ``doc_id, band_idx, band_hash`` table and
    ``history`` the index rows holding any of its band hashes (a
    ``band_idx, band_hash`` table). Returns the same ``doc_id,
    verdict`` rows as a ``pyarrow.Table``, under the same rule: a
    history key makes ``dup_of_history``, else an earlier (smaller)
    ``doc_id`` sharing a key makes ``dup_in_batch``, else ``new``."""
    import pyarrow as pa

    def band_keys(t):
        return list(zip(t.column("band_idx").to_pylist(),
                        t.column("band_hash").to_pylist()))

    ids = bands.column("doc_id").to_pylist()
    keys, history_keys = band_keys(bands), set(band_keys(history))
    first: dict = {}
    for d, k in zip(ids, keys):
        if d is not None and not (k in first and first[k] <= d):
            first[k] = d
    docs: dict = {}  # doc_id -> verdict, in first-seen order
    for d, k in zip(ids, keys):
        v = docs.setdefault(d, "new")
        if k in history_keys:
            docs[d] = "dup_of_history"
        elif v == "new" and d is not None and first.get(k, d) < d:
            docs[d] = "dup_in_batch"
    return pa.table({
        "doc_id": pa.array(list(docs), bands.schema.field("doc_id").type),
        "verdict": pa.array(list(docs.values()), pa.string()),
    })


def sql_band_rows_cte(source: str = "documents") -> str:
    """DuckDB CTE text computing ``sh(doc_id, h)``, ``sig`` and
    ``bands(doc_id, band_idx, band_hash)`` over ``source`` — mirrors
    :func:`minhash_band_rows` exactly (same shingles, same affine maps,
    same band md5s); :func:`sql_minhash_lsh_pairs` builds on it."""
    h32 = sql_hex_hash32("substr(t, i, %d)" % SHINGLE_N)
    mins = ", ".join(
        f"min({e}) AS m{i}" for i, e in enumerate(sql_minhash_exprs("h"))
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band_idx, md5(concat_ws('-', {cols}))"
        " AS band_hash FROM sig".format(
            b=b,
            cols=", ".join(
                f"CAST(m{b * ROWS_PER_BAND + r} AS VARCHAR)"
                for r in range(ROWS_PER_BAND)
            ),
        )
        for b in range(NUM_BANDS)
    )
    return f"""
    sh AS (
        SELECT DISTINCT doc_id, {h32} AS h FROM (
            SELECT doc_id, lower(text) AS t,
                   unnest(generate_series(1, greatest(length(text) - {SHINGLE_N - 1}, 1))) AS i
            FROM {source}
        )
    ), sig AS (
        SELECT doc_id, {mins} FROM sh GROUP BY doc_id
    ), bands AS (
        {band_selects}
    )"""


#: documents up to which :func:`minhash_lsh_pairs` finds its pairs on
#: the driver, sized from a measured crossover (SCALE.md §4 has the table)
_DRIVER_DOCS = 5_000


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.6,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs: LSH banding for candidates, exact shingle
    Jaccard for verification. Returns (doc_a, doc_b, jaccard >= threshold).

    ``max_bucket_size`` drops LSH buckets holding more than that many
    documents from candidate generation. A bucket of B docs emits B²/2
    candidate pairs, so one boilerplate/template family can dominate the
    whole operator's cost: measured on the sf1 fixture family (50k docs,
    hot buckets up to 3,363 docs), uncapped candidates grew 113× for 10×
    docs — the pair OUTPUT is inherently quadratic in true-duplicate
    cluster sizes, which no candidate scheme can emit in linear time.
    Mega-buckets are exactly the populations exact/normalized dedup and
    duplicate clustering (operators/graph.py) already handle at linear
    cost, so the scale contract is: run exact dedup first, cap LSH buckets,
    and let the cap bound per-bucket work. Docs in a dropped bucket can
    still pair through any of their other ``NUM_BANDS - 1`` bands, so only
    pairs whose EVERY colliding band is hot are lost.

    Two regimes, picked by one bounded collect of the source rows
    (``sources.collect_bounded``, :data:`_DRIVER_DOCS`), as connected
    components picks its own (operators/graph.py):

    - **Driver path** (at most :data:`_DRIVER_DOCS` documents and
      ``graph._DRIVER_EDGES`` distinct candidate pairs). :func:`lsh_pairs_local` hashes the collected documents,
      buckets and verifies them in Python, and the pairs come back as a
      ``sources.local_frame``: one Spark job in all, the probe.
    - **Distributed path** (otherwise). Its shuffles are the band
      bucket grouping and the candidate verification join, all on
      scalable keys; no cross join anywhere. Plan shape:

      * band rows per document from :func:`minhash_arrow` in one
        ``mapInArrow``: no shuffle and no generated JVM code to warm up;
      * candidate generation via one band-bucket grouping;
      * verification via ``array_intersect`` over per-doc shingle-hash
        sets from the same kernel, computed ONLY for documents that
        appear in some candidate pair (a semi-join prunes the corpus
        first — at scale candidates are a tiny fraction, so this avoids
        re-shingling 100 TB to verify a few GB).

    Both paths return the same rows under the same schema. A pair of
    null-text documents shares all its ``md5('')`` bands but has empty
    sets: its Jaccard is undefined and the pair is dropped, as in the
    SQL twin. A document with a null id pairs with nothing.

    No corpus-sized cache anywhere (VERDICT r1 flagged the round-1 cache
    as a 100 TB OOM driver); only the distributed path's pair-bounded
    candidate set and the candidate docs' shingle sets are materialized,
    in the caller's :func:`~mrjob_spark.materialize.scope`.
    """
    from mrjob_spark.operators.partitioning import parallelize_narrow_scan
    from mrjob_spark.sources import collect_bounded, local_frame

    df = df.select(id_col, text_col)
    # bound the source rows, before the scan is spread out
    # (collect_bounded's first hazard)
    table = collect_bounded(df, _DRIVER_DOCS)
    found = None if table is None else lsh_pairs_local(
        table, threshold, max_bucket_size)
    if found is not None:
        spark = df.sparkSession
        pairs, cand = found
        result = local_frame(spark, pairs)
        # shim for perfbench/workloads.py, removed together with its readers
        result._mrjob_spark_persisted = [local_frame(spark, cand)]
        return result

    # Hashing dominates this operator (shingles x 64 affine maps), so the
    # input must enter at cluster parallelism: a single-row-group parquet
    # file or gzip text gives the scan ONE task and the whole signature
    # stage runs on one core (measured 3.1 s -> ~1 s at sf0.1 on 32 cores).
    # No-op whenever the scan already has enough partitions.
    df = parallelize_narrow_scan(df)
    bands = _minhash_frame(df, id_col, text_col, "bands")

    # Candidate pairs per LSH bucket WITHOUT a self-join: a band self-join
    # re-executes the whole shingle->signature pipeline for each side
    # (measured ~3x total cost at sf0.1; persisting the signatures benched
    # even slower — cache materialization beat exchange reuse). Grouping by
    # bucket instead runs the pipeline once, and pair generation is in-row
    # array math over each bucket's doc list. PAIR volume is quadratic in
    # bucket size under either plan shape — max_bucket_size is the guard
    # (see docstring); uncapped, a hot template family owns the runtime.
    ids = F.array_sort(F.collect_list("doc_id"))
    pair_structs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    buckets = (
        bands.groupBy("band_idx", "band_hash")
        .agg(ids.alias("ids"))
        .where(F.size("ids") > 1)
    )
    if max_bucket_size is not None:
        buckets = buckets.where(F.size("ids") <= max_bucket_size)
    cand = (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )

    # The candidate set feeds both the verification join and the corpus
    # prune below; materializing it stops Spark re-executing the whole
    # hashing pipeline for each consumer. Unlike the full shingle
    # set (round 1's cache, flagged in VERDICT), candidates are bounded by
    # the number of colliding PAIRS — a tiny spill-safe footprint at any
    # corpus size.
    # Materialize NOW: the three downstream consumers (two sides of
    # cand_ids' union + the pair join) are scheduled as independent stages
    # within one action, and a lazily-persisted plan gets recomputed by
    # whichever stages race ahead of the cache fill (measured ~3x at
    # sf0.1). One eager job populates the cache; everything after reads it.
    #
    # ``persist`` specifically, NOT ``localCheckpoint``: an InMemoryRelation
    # carries accurate size stats, so Catalyst broadcasts the (small)
    # candidate prune into the corpus semi-join; a localCheckpoint becomes
    # a LogicalRDD with UNKNOWN stats, the semi-join degrades to a
    # sort-merge join that shuffles the whole corpus, and the operator
    # benched 3.3x slower at sf0.1 (17.0 s vs 5.2 s). Storage is flat
    # across repeated invocations — the CacheManager dedups identical
    # plans — and the caller's scope releases the two entries
    # deterministically (VERDICT r2 "what's wrong" #3; asserted in
    # tests/test_operators.py).
    cand = materialize(cand, StorageLevel.MEMORY_AND_DISK, eager=True)

    cand_ids = (
        cand.select(F.col("doc_a").alias("cid"))
        .unionByName(cand.select(F.col("doc_b").alias("cid")))
        .distinct()
    )
    cand_docs = df.join(
        cand_ids, F.col(id_col) == F.col("cid"), "left_semi"
    )
    # Shingle-hash sets for verification, per document from the kernel.
    # Persisted (accurate stats → broadcastable, see ``cand`` above) and
    # eager because both sides of the pair join consume it; bounded by
    # the candidate-doc set, not the corpus.
    base = materialize(
        _minhash_frame(cand_docs, id_col, text_col, "sets"),
        StorageLevel.MEMORY_AND_DISK,
        eager=True,
    )

    n_inter = F.size(F.array_intersect(F.col("sa.hs"), F.col("sb.hs")))
    union = F.size(F.col("sa.hs")) + F.size(F.col("sb.hs")) - n_inter
    # two null-text documents share their md5('') bands with empty sets:
    # 0/0, which ANSI mode raises on, so such a pair gets no Jaccard
    jac = F.when(union > 0, rnd(n_inter.cast("double") / union, 6))
    result = (
        cand.join(base.alias("sa"), F.col("sa.doc_id") == F.col("doc_a"))
        .join(base.alias("sb"), F.col("sb.doc_id") == F.col("doc_b"))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )
    # shim for perfbench/workloads.py, removed together with its readers
    result._mrjob_spark_persisted = [cand, base]
    return result


def lsh_pairs_local(table, threshold: float, max_bucket_size=None):
    """:func:`minhash_lsh_pairs`' rows computed on the driver from the
    collected ``id, text`` table (its first two columns). Returns the
    pairs and the candidate pairs as ``pyarrow.Table``s, or ``None``
    when the candidates would exceed ``graph._DRIVER_EDGES`` pairs, the
    driver budget connected components keeps too.

    Same rule as the distributed path, row for row: each row is one
    document, hashed once by the :func:`minhash_arrow` kernel's code
    (band rows for every row, shingle sets for candidate rows only); a
    bucket collects the non-null ids of its band rows and is live with
    at least two and at most ``max_bucket_size`` of them; its sorted ids
    pair up, and each candidate pair is verified over every row of
    either id. Verification is vectorized per left row: its partners'
    shingle sets are concatenated, membership in its own set is one
    gather from a bitmap over densely renumbered hashes, and the
    intersection sizes come from one ``np.add.reduceat``."""
    import numpy as np
    import pyarrow as pa

    from mrjob_spark.operators import graph

    ids, texts = table.column(0).to_pylist(), table.column(1).to_pylist()
    chunks: list = []
    bands = _band_hashes(_signatures(texts, chunks), texts)
    buckets: dict = {}
    for d, i in enumerate(ids):
        if i is not None:  # as collect_list, a bucket drops a null id
            for key in enumerate(bands[d * NUM_BANDS:(d + 1) * NUM_BANDS]):
                buckets.setdefault(key, []).append(i)
    cand: set = set()
    for m in buckets.values():
        if len(m) < 2 or max_bucket_size is not None and len(m) > max_bucket_size:
            continue
        # the budget bounds the pairs held here: checked on each bucket's
        # C(b, 2) before its pairs are built, and on the distinct pairs
        # after, since one pair collides in up to NUM_BANDS buckets
        if len(m) * (len(m) - 1) // 2 > graph._DRIVER_EDGES:
            return None
        cand.update(itertools.combinations(sorted(m), 2))
        if len(cand) > graph._DRIVER_EDGES:
            return None

    partners: dict = {}
    for a, b in cand:
        partners.setdefault(a, []).append(b)
    need = set(partners).union(*partners.values())
    rows: dict = {}  # candidate id -> its row numbers
    for d, i in enumerate(ids):
        if i in need:
            rows.setdefault(i, []).append(d)
    sets = {d: _hash_set(chunks[d]) for r in rows.values() for d in r}
    # shingle hashes renumbered densely over the candidate rows, so that
    # membership in one row's set is a gather from a bitmap
    if sets:
        sizes = [len(h) for h in sets.values()]
        distinct, dense = np.unique(np.concatenate(list(sets.values())),
                                    return_inverse=True)
        sets = dict(zip(sets, np.split(dense.reshape(-1),
                                       np.cumsum(sizes)[:-1])))
        member = np.zeros(len(distinct), bool)
    left, right, inter = [], [], []
    for a, bs in partners.items():
        rs = [d for b in bs for d in rows[b]]
        sizes = np.array([len(sets[d]) for d in rs])
        # reduceat needs strictly increasing in-range starts: an empty
        # set (a null text) has no hashes and intersects nothing
        full = sizes > 0
        starts = (np.cumsum(sizes) - sizes)[full]
        cat = np.concatenate([sets[d] for d in rs])
        for d in rows[a]:
            n = np.zeros(len(rs), np.int64)
            if len(starts):
                member[sets[d]] = True
                n[full] = np.add.reduceat(member[cat], starts, dtype=np.int64)
                member[sets[d]] = False
            left += [d] * len(rs)
            right += rs
            inter.append(n)

    n = np.concatenate(inter) if inter else np.empty(0, np.int64)
    left, right = np.array(left, np.int64), np.array(right, np.int64)
    size = np.zeros(len(ids), np.int64)
    for d, h in sets.items():
        size[d] = len(h)
    union = size[left] + size[right] - n
    # Spark's arithmetic: a double division, then rnd(·, 6); no Jaccard
    # for an empty union (two null texts)
    ok = union > 0
    jac = np.zeros(len(n))
    jac[ok] = np.floor(n[ok] / union[ok] * 1e6 + 0.5) / 1e6
    keep = np.flatnonzero(ok & (jac >= threshold))
    id_col, id_type = table.column(0), table.schema.field(0).type
    ident = [pa.field("doc_a", id_type, False), pa.field("doc_b", id_type, False)]
    pairs = pa.table(
        [id_col.take(left[keep]), id_col.take(right[keep]), jac[keep]],
        schema=pa.schema(ident + [pa.field("jaccard", pa.float64())]))
    cand = pa.table([pa.array([p[k] for p in cand], id_type) for k in (0, 1)],
                    schema=pa.schema(ident))
    return pairs, cand


def unpersist_intermediates(df: DataFrame) -> None:
    # shim for perfbench/workloads.py, removed together with its readers
    for x in getattr(df, "_mrjob_spark_persisted", ()):
        release(x)


def sql_minhash_lsh_pairs(
    threshold: float = 0.6, max_bucket_size: int | None = None
) -> str:
    """DuckDB oracle mirroring :func:`minhash_lsh_pairs` exactly
    (including its ``max_bucket_size`` hot-bucket cutoff when set)."""
    cap_clause = (
        f" AND count(*) <= {max_bucket_size}" if max_bucket_size is not None else ""
    )
    return "WITH " + sql_band_rows_cte("documents") + f""", live_buckets AS (
        SELECT band_idx, band_hash FROM bands
        GROUP BY band_idx, band_hash
        HAVING count(*) > 1{cap_clause}
    ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id
        JOIN live_buckets lb
          ON lb.band_idx = a.band_idx AND lb.band_hash = a.band_hash
    ), sizes AS (
        SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
        SELECT c.doc_a, c.doc_b, count(*) AS n_inter
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.doc_a
        JOIN sh sb ON sb.doc_id = c.doc_b AND sb.h = sa.h
        GROUP BY c.doc_a, c.doc_b
    )
    SELECT i.doc_a, i.doc_b,
           (floor((CAST(n_inter AS DOUBLE) / (za.n + zb.n - n_inter)) * 1000000 + 0.5) / 1000000) AS jaccard
    FROM inter i
    JOIN sizes za ON za.doc_id = i.doc_a
    JOIN sizes zb ON zb.doc_id = i.doc_b
    WHERE (floor((CAST(n_inter AS DOUBLE) / (za.n + zb.n - n_inter)) * 1000000 + 0.5) / 1000000) >= {threshold}
    """


# ---------------------------------------------------------------------------
# L2b: SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 16


def simhash_fingerprints(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """16-bit SimHash over word tokens: bit j is the sign of the sum of
    (+1/-1) votes from each token's hash bit j. Whole computation is
    explode + groupBy — two shuffle-free projections and one aggregation."""
    tok = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(distinct_tokens(F.col(text_col))).alias("token"),
    ).select("doc_id", hex_hash32(F.col("token")).alias("h"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(
                -1
            )
        ).alias(f"v{j}")
        for j in range(SIMHASH_BITS)
    ]
    agg = tok.groupBy("doc_id").agg(*votes)
    fp = None
    for j in range(SIMHASH_BITS):
        bit = F.when(F.col(f"v{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        fp = bit if fp is None else fp + bit
    return agg.select("doc_id", fp.cast("bigint").alias("simhash"))


def sql_simhash_fingerprints() -> str:
    votes = ", ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v{j}"
        for j in range(SIMHASH_BITS)
    )
    fp = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(SIMHASH_BITS)
    )
    return f"""
    WITH tok AS (
        SELECT doc_id, {sql_hex_hash32('token')} AS h FROM (
            SELECT doc_id, unnest(list_distinct({sql_tokens('text')})) AS token
            FROM documents
        )
    ), agg AS (
        SELECT doc_id, {votes} FROM tok GROUP BY doc_id
    )
    SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM agg
    """


# ---------------------------------------------------------------------------
# L2c: exact n-gram (token) Jaccard pairs — the brute-force baseline the LSH
# path approximates; usable directly at moderate scale.
# ---------------------------------------------------------------------------


#: Tokens appearing in more than this many documents are excluded from the
#: inverted-index join AND from the per-document set sizes (both engines
#: agree, so the oracle still matches). Without the cap one frequent token
#: ("the") makes candidate volume quadratic in corpus size — VERDICT r1
#: measured 99.5 s at sf0.1; rare-token Jaccard is the standard fix
#: (document-frequency filtering, as in prefix-filter similarity joins).
JACCARD_DF_CUTOFF = 64


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    df_cutoff: int = JACCARD_DF_CUTOFF,
) -> DataFrame:
    """All pairs with rare-token-set Jaccard >= threshold via an
    inverted-index join on tokens with document frequency <= ``df_cutoff``.

    The DF cap bounds candidate volume at sum over rare tokens of df^2 <=
    cutoff * total_postings — linear in corpus size for fixed cutoff, so the
    plan survives scale-up; the uncapped variant is quadratic in the worst
    token. Near-duplicate pairs share rare tokens overwhelmingly, so the
    capped score is the same signal (and the LSH path is the detector of
    record at 100 TB anyway)."""
    # NOTE: no parallelize_narrow_scan here — tokenization is light and the
    # inverted-index self-join below shuffles anyway (its exchange supplies
    # the parallelism); an input repartition benched as pure overhead.
    all_tok = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(distinct_tokens(F.col(text_col))).alias("token"),
    ).distinct()
    rare = (
        all_tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= df_cutoff)
        .select("token")
    )
    tok = all_tok.join(rare, "token")
    sizes = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = tok.alias("a"), tok.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(sizes.alias("za"), F.col("za.doc_id") == F.col("doc_a"))
        .join(sizes.alias("zb"), F.col("zb.doc_id") == F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            rnd(
                F.col("n_inter").cast("double")
                / (F.col("za.n") + F.col("zb.n") - F.col("n_inter")),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def sql_jaccard_pairs(
    threshold: float = 0.5, df_cutoff: int = JACCARD_DF_CUTOFF
) -> str:
    return f"""
    WITH all_tok AS (
        SELECT DISTINCT doc_id, token FROM (
            SELECT doc_id, unnest(list_distinct({sql_tokens('text')})) AS token
            FROM documents
        )
    ), tok AS (
        SELECT doc_id, token FROM all_tok
        WHERE token IN (
            SELECT token FROM all_tok GROUP BY token
            HAVING count(*) <= {df_cutoff}
        )
    ), sizes AS (
        SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT i.doc_a, i.doc_b,
           (floor((CAST(n_inter AS DOUBLE) / (za.n + zb.n - n_inter)) * 1000000 + 0.5) / 1000000) AS jaccard
    FROM inter i
    JOIN sizes za ON za.doc_id = i.doc_a
    JOIN sizes zb ON zb.doc_id = i.doc_b
    WHERE (floor((CAST(n_inter AS DOUBLE) / (za.n + zb.n - n_inter)) * 1000000 + 0.5) / 1000000) >= {threshold}
    """


# ---------------------------------------------------------------------------
# L2e: span-level (sub-document) dedup — the paragraph-dedup shape.
# ---------------------------------------------------------------------------


def span_hashes(
    df: DataFrame, id_col: str, text_col: str, span_w: int = 10
) -> DataFrame:
    """(doc_id, span_h) pairs, unique per document: each document is cut
    into disjoint ``span_w``-token spans in-row (zero shuffle to build
    spans), hashed to 16-byte md5 keys, and deduped in-row
    (``array_distinct`` before the explode), so the exploded stream is
    already unique on (doc_id, span_h) and never carries raw text."""
    from mrjob_spark.functions.text import bind1, tokens
    from mrjob_spark.operators.partitioning import parallelize_narrow_scan

    # per-row tokenize+md5 runs at scan parallelism: fan a degenerate
    # single-row-group layout out to the cores first (no-op otherwise)
    df = parallelize_narrow_scan(df.select(id_col, text_col))

    def _spans(toks):
        # tokens bound once per row (bind1): captured in the per-span
        # lambda the whole tokenize would re-run once per span
        n_spans = F.ceil(F.size(toks) / F.lit(float(span_w))).cast("int")
        return F.when(
            F.size(toks) == 0, F.array().cast("array<string>")
        ).otherwise(
            F.transform(
                F.sequence(F.lit(0), n_spans - 1),
                lambda j: F.array_join(
                    F.slice(toks, j * span_w + 1, span_w), " "
                ),
            )
        )

    spans = bind1(tokens(F.col(text_col)), _spans)
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(F.transform(spans, F.md5))).alias("span_h"),
    )


def span_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    span_w: int = 10,
    max_span_df: int | None = None,
) -> DataFrame:
    """Per-document span-duplication audit: (doc_id, n_spans, n_dup_spans)
    where a span is "duplicated" when it appears in more than one document
    — the signal used to strip boilerplate or drop mostly-copied documents.

    Two plan shapes behind one semantics switch:

    * ``max_span_df=None`` — single scan, two shuffles: a count window
      over span_h, then the per-doc aggregate. Fastest below the hot-span
      regime, but an ultra-hot boilerplate span (10^8 docs) funnels its
      rows through ONE window task (narrow-row, spill-bounded, still a
      straggler).
    * ``max_span_df=k`` — the Jaccard DF-cutoff pattern
      (:data:`JACCARD_DF_CUTOFF`): spans with document frequency above
      ``k`` are declared boilerplate and EXCLUDED from the dup signal
      (2 <= df <= k counts as duplicated). The plan replaces the window
      with a hash-aggregated span-frequency table joined back: the count
      is partial-agg skew-proof (a hot span is one counter cell, never a
      sorted partition), and both the count and the join probe hang off
      the SAME explicit repartition so the corpus is scanned and
      tokenized ONCE (AQE exchange reuse, pinned in test_plans.py). This
      is the 10^8-doc-boilerplate switch the r3 span-dedup docstring
      promised (VERDICT r3 #7).

    Property-tested against each other (tests/test_operators.py): with
    ``max_span_df`` at or above the corpus's max span frequency the two
    forms are value-identical."""
    from pyspark.sql.window import Window

    per_doc = span_hashes(df, id_col, text_col, span_w)
    if max_span_df is None:
        # per_doc is unique on (doc_id, span_h) by construction, so the
        # plain count over the span_h window IS the distinct-doc count
        return (
            per_doc.withColumn(
                "ndocs", F.count("*").over(Window.partitionBy("span_h"))
            )
            .groupBy("doc_id")
            .agg(
                F.count("*").alias("n_spans"),
                F.sum(F.when(F.col("ndocs") > 1, 1).otherwise(0)).alias(
                    "n_dup_spans"
                ),
            )
        )
    # the isnotnull filter is vacuous (md5 of a non-null string) and
    # count(doc_id) == count(1) here, but both are load-bearing for the
    # plan: the join would otherwise infer isnotnull + prune doc_id on the
    # aggregate branch ONLY, breaking the canonical subtree equality that
    # AQE exchange reuse keys on (→ the corpus would tokenize twice)
    shuffled = per_doc.where(F.col("span_h").isNotNull()).repartition(
        F.col("span_h")
    )
    dup = (
        shuffled.groupBy("span_h")
        .agg(F.count("doc_id").alias("c"))
        .where((F.col("c") >= 2) & (F.col("c") <= max_span_df))
        .select("span_h", F.lit(1).alias("_dup"))
    )
    return (
        shuffled.join(dup, "span_h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.when(F.col("_dup").isNotNull(), 1).otherwise(0)).alias(
                "n_dup_spans"
            ),
        )
    )


def paragraph_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    para_w: int = 12,
) -> DataFrame:
    """Corpus-wide paragraph-level dedup, CCNet-style (Wenzek et al.
    2020): cut every document into disjoint ``para_w``-token paragraphs,
    hash each, and keep only the FIRST occurrence of every distinct
    paragraph — first meaning the smallest ``(doc_id, para_idx)`` — so
    shared boilerplate survives exactly once in the whole corpus.
    Returns ``(doc_id, n_paras, n_kept)``; a mostly-boilerplate document
    shows ``n_kept << n_paras``.

    Differs from :func:`span_dedup` (an audit: which docs carry
    duplicated spans) in that this picks a canonical surviving copy, the
    removal decision a cleaning pipeline applies.

    Scale shape (100 TB): paragraphs build in-row (zero shuffle), the
    global first-occurrence is a ``min(struct(doc_id, para_idx))``
    hash aggregate — partial-agg combines map-side, so a boilerplate
    paragraph appearing in 10^8 documents is one accumulator cell per
    partition, never a sorted window partition — and both the aggregate
    and the verdict probe hang off the SAME explicit repartition, so the
    corpus is scanned and tokenized once (AQE exchange reuse, the
    span_dedup pattern). The join back on ``para_h`` is skew-split by
    AQE where a hash is hot."""
    from mrjob_spark.functions.text import bind1, tokens
    from mrjob_spark.operators.partitioning import parallelize_narrow_scan

    # same parallelism-recovery as span_hashes: the paragraph build is
    # the per-row cost and must not run at single-file scan width
    df = parallelize_narrow_scan(df.select(id_col, text_col))

    def _paras(toks):
        # tokens bound once per row (bind1, see span_hashes)
        n_paras = F.ceil(F.size(toks) / F.lit(float(para_w))).cast("int")
        return F.when(
            F.size(toks) == 0, F.array().cast("array<string>")
        ).otherwise(
            F.transform(
                F.sequence(F.lit(0), n_paras - 1),
                lambda j: F.array_join(
                    F.slice(toks, j * para_w + 1, para_w), " "),
            )
        )

    paras = bind1(tokens(F.col(text_col)), _paras)
    per_para = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.transform(paras, F.md5)).alias("para_idx", "para_h"),
    )
    # same load-bearing shape as span_dedup's cutoff path: one explicit
    # repartition feeds both the aggregate and the probe
    shuffled = per_para.where(F.col("para_h").isNotNull()).repartition(
        F.col("para_h")
    )
    firsts = shuffled.groupBy("para_h").agg(
        F.min(F.struct("doc_id", "para_idx")).alias("first")
    )
    return (
        shuffled.join(firsts, "para_h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_paras"),
            F.sum(
                F.when(
                    (F.col("first.doc_id") == F.col("doc_id"))
                    & (F.col("first.para_idx") == F.col("para_idx")),
                    1,
                ).otherwise(0)
            ).alias("n_kept"),
        )
    )


def substring_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Maximal duplicated-SUBSTRING detection, the suffix-array dedup of
    Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    Better") re-expressed in the shingle-anchor form that distributes:
    every SLIDING ``k``-token window ("anchor") is hashed, anchors whose
    shingle occurs more than once corpus-wide are "duplicated", and runs
    of ADJACENT duplicated anchors inside a document chain back into
    maximal duplicated runs — a run of anchors ``p..q`` recovers the
    ``q - p + k``-token duplicated substring the suffix array would
    report (anchoring is the standard distributed approximation: each
    individual window is certainly duplicated somewhere; the chained run
    is the maximal region built from them).

    Returns one row per document that carries at least one duplicated
    anchor: ``(doc_id, n_dup_anchors, n_dup_runs, max_run_tokens,
    n_dup_tokens)`` where ``max_run_tokens`` is the longest single
    duplicated run (the Lee et al. removal unit) and ``n_dup_tokens`` is
    the exact UNION of token positions covered by any duplicated anchor
    (runs closer than ``k`` overlap in token coverage, so interval-merge
    with gap threshold ``k`` — summing run lengths would double-count).

    ``max_shingle_df``: the span-dedup DF-cutoff switch — shingles
    occurring more than this many times corpus-wide are declared
    boilerplate and EXCLUDED from the dup signal (2 <= occ <= cap
    counts), keeping a 10^8-copy boilerplate sentence from flagging the
    whole corpus while the probe join's hot key is AQE-skew-split.

    Scale shape (100 TB): sliding shingles build in-row (zero shuffle);
    the occurrence count is a partial-agg hash aggregate (a hot shingle
    is one counter cell per partition); count and probe hang off ONE
    explicit repartition of the anchor stream so the corpus is scanned
    and tokenized once (AQE exchange reuse — the span_dedup_capped
    pattern, plan-pinned); only DUPLICATED anchors — a tiny fraction of
    the corpus — shuffle to their documents, where run-chaining is pure
    in-row array math on the sorted anchor positions (no per-doc window
    machinery, no corpus-wide sort; the collect_list is bounded by the
    document's own length)."""
    shuffled = _sliding_anchors(df, id_col, text_col, k)
    occ = shuffled.groupBy("sh").agg(
        F.count(F.when(F.col("p") >= 0, F.col("doc_id"))).alias("c")
    )
    dup_shingles = occ.where(
        (F.col("c") >= 2)
        & ((F.col("c") <= max_shingle_df) if max_shingle_df is not None
           else F.lit(True))
    ).select("sh")
    dup_anchors = shuffled.join(dup_shingles, "sh").select("doc_id", "p")
    return _anchor_runs(dup_anchors, k, (
        "n_dup_anchors", "n_dup_runs", "max_run_tokens", "n_dup_tokens",
    ))


def _sliding_anchors(df: DataFrame, id_col: str, text_col: str,
                     k: int) -> DataFrame:
    """(doc_id, p, sh): every sliding ``k``-token window of every
    document, hashed — already repartitioned on ``sh`` so that a
    downstream aggregate AND probe share one exchange (the span_dedup
    load-bearing isnotnull shape). NOTE for aggregates over this frame:
    reference ``p`` through a non-foldable expression (posexplode
    positions are always >= 0, so ``count(when(p >= 0, doc_id))`` is
    ``count(doc_id)``) or Catalyst prunes ``p`` from the aggregate
    branch only — ``count(struct(doc_id, p))`` gets rewritten to
    ``count(1)`` and pruned too — breaking the canonical subtree
    equality AQE exchange reuse keys on: the corpus would tokenize
    twice. Aggregating ``min(struct(doc_id, p))`` references p
    intrinsically and needs no such trick."""
    from mrjob_spark.functions.text import tokens
    from mrjob_spark.operators.partitioning import parallelize_narrow_scan

    toks = tokens(F.col(text_col))
    # sliding tokenize+md5 is the per-row cost: enter at cluster
    # parallelism (no-op once the file layout fills the machine)
    docs = parallelize_narrow_scan(df.select(id_col, text_col)).select(
        F.col(id_col).alias("doc_id"), toks.alias("__w")
    ).where(F.size("__w") >= k)
    anchors = docs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("__w") - k),
                lambda j: F.md5(F.array_join(F.slice("__w", j + 1, k), " ")),
            )
        ).alias("p", "sh"),
    )
    return anchors.where(F.col("sh").isNotNull()).repartition(F.col("sh"))


def _anchor_runs(anchors: DataFrame, k: int, names: tuple) -> DataFrame:
    """Per-doc gaps-and-islands over a (doc_id, p) anchor subset,
    entirely in-row: collect the doc's sorted positions (bounded by its
    own length), chain adjacent anchors into maximal runs, and
    interval-merge coverage at gap ``k`` (anchors closer than ``k``
    overlap in token coverage — summing run lengths would double-count).
    Output columns per ``names``: anchor count, run count, longest run
    in tokens, exact union token coverage. element_at is 1-based: inside
    a lambda over index i (0-based), element_at(ps, i) is the PREVIOUS
    element and element_at(ps, i + 2) the NEXT; the F.when guards keep
    both lazily unevaluated at the array ends (ANSI mode raises on
    out-of-range element_at)."""
    per_doc = anchors.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("p")).alias("ps")
    )
    p = F.col("ps")

    def _starts(gap):
        return F.filter(
            p, lambda x, i: F.when(i == 0, F.lit(True)).otherwise(
                x > F.element_at(p, i) + gap
            )
        )

    def _ends(gap):
        return F.filter(
            p, lambda x, i: F.when(i == F.size(p) - 1, F.lit(True)).otherwise(
                F.element_at(p, i + 2) > x + gap
            )
        )

    run_lens = F.zip_with(_ends(1), _starts(1), lambda e, s: e - s + k)
    cov_lens = F.zip_with(_ends(k), _starts(k), lambda e, s: e - s + k)
    n_anchors, n_runs, max_run, n_tokens = names
    return per_doc.select(
        "doc_id",
        F.size("ps").cast("long").alias(n_anchors),
        F.size(_starts(1)).cast("long").alias(n_runs),
        F.array_max(run_lens).cast("long").alias(max_run),
        F.aggregate(
            cov_lens, F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias(n_tokens),
    )


def substring_dedup_clean(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """The REMOVAL half of Lee et al. 2022's substring dedup — where
    :func:`substring_dedup` audits (which docs carry duplicated runs),
    this picks the CANONICAL SURVIVOR: for every duplicated shingle the
    corpus-wide first occurrence (smallest ``(doc_id, p)``, the
    paragraph_dedup rule at substring granularity) keeps its text, and
    every LATER occurrence marks its covered tokens for removal.
    Returns one row per document carrying at least one removable
    anchor: ``(doc_id, n_rm_anchors, n_rm_runs, max_rm_run_tokens,
    n_rm_tokens)`` — ``n_rm_tokens`` is the exact union of token
    positions a cleaning pass strips from that document (first
    occurrences are never counted, so the duplicated text survives
    exactly once corpus-wide).

    Scale shape: identical to the audit — ONE anchor exchange feeds an
    aggregate now computing occurrence count AND ``min(struct(doc_id,
    p))`` in the same partial-agg pass (a 10^8-copy shingle is still
    one accumulator cell), the probe filters to non-first duplicated
    anchors (2 <= occ <= ``max_shingle_df`` under the same DF-cutoff
    boilerplate rule), and only those shuffle to their documents for
    the shared in-row run/coverage chaining."""
    shuffled = _sliding_anchors(df, id_col, text_col, k)
    occ = shuffled.groupBy("sh").agg(
        F.count(F.when(F.col("p") >= 0, F.col("doc_id"))).alias("c"),
        F.min(F.struct("doc_id", "p")).alias("first"),
    )
    dup = occ.where(
        (F.col("c") >= 2)
        & ((F.col("c") <= max_shingle_df) if max_shingle_df is not None
           else F.lit(True))
    ).select("sh", "first")
    rm_anchors = (
        shuffled.join(dup, "sh")
        .where(
            ~((F.col("first.doc_id") == F.col("doc_id"))
              & (F.col("first.p") == F.col("p")))
        )
        .select("doc_id", "p")
    )
    return _anchor_runs(rm_anchors, k, (
        "n_rm_anchors", "n_rm_runs", "max_rm_run_tokens", "n_rm_tokens",
    ))


# ---------------------------------------------------------------------------
# L2d: embedding-cosine near-dup
# ---------------------------------------------------------------------------


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_col: str = "label",
    threshold: float = 0.4,
    sub_split_dims: tuple[int, ...] = (),
) -> DataFrame:
    """Near-duplicate embedding pairs within a blocking bucket (here the
    precomputed cluster/label — the IVF pattern: compare only within the
    same coarse cell, which turns an O(n^2) cross join into a per-bucket
    join that parallelizes by bucket).

    ``sub_split_dims`` (1-based vector indices) further splits every cell
    by the sign pattern of those dimensions — deterministic axis-aligned
    hyperplane LSH, multiplying cell count by up to 2^len(dims). USE ONLY
    AT HIGH SIMILARITY THRESHOLDS: a hyperplane separates a true pair
    with p = angle/pi per bit, so at cosine 0.4 (~66 deg) four bits keep
    only (1 - 0.37)^4 ~ 0.16 of true pairs — measured 0.166 at sf1 on
    the fixture, which is why the registered scale path is the k-means
    re-cluster + multi-probe query (``l2_embedding_neardup_ivf``)
    instead. At cosine >= 0.95 the same four bits keep >= 0.8 and the
    split is a sound cell-count knob (SCALE.md §4).

    Norms are computed once per ROW before the join (n x d work) instead of
    once per PAIR inside it (pairs x 2d) — at b rows per bucket that saves
    ~2/3 of the per-pair arithmetic, which dominates this operator."""
    from mrjob_spark.functions.vectors import dot, l2_norm
    from mrjob_spark.operators.partitioning import parallelize_narrow_scan

    df = parallelize_narrow_scan(df.select(id_col, bucket_col, vec_col))
    cols = [
        F.col(id_col).alias("_id"),
        F.col(bucket_col).alias("_bucket"),
        F.col(vec_col).alias("_vec"),
        l2_norm(F.col(vec_col)).alias("_norm"),
    ]
    if sub_split_dims:
        sub = F.lit(0)
        for j, d in enumerate(sub_split_dims):
            sub = sub + (
                (F.element_at(F.col(vec_col), d) >= 0).cast("int") * (1 << j)
            )
        cols.insert(2, sub.alias("_subcell"))
    normed = df.select(*cols)
    a = normed.alias("a")
    b = normed.alias("b")
    sim = dot(F.col("a._vec"), F.col("b._vec")) / (
        F.col("a._norm") * F.col("b._norm")
    )
    cond = (F.col("a._bucket") == F.col("b._bucket")) & (
        F.col("a._id") < F.col("b._id")
    )
    if sub_split_dims:
        cond = cond & (F.col("a._subcell") == F.col("b._subcell"))
    return (
        a.join(b, cond)
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            rnd(sim, 6).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def ivf_embedding_admission(
    arrivals: DataFrame,
    index: DataFrame,
    centroids: DataFrame,
    *,
    probe: int = 2,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Admission verdicts for arriving EMBEDDINGS against an IVF cell
    index (ST × L2 × L3 — the embedding twin of
    :func:`lsh_band_admission`, round 12): per arrival,

    * ``dup_of_history`` — some indexed corpus vector in one of the
      arrival's top-``probe`` cells has cosine >= ``threshold``;
    * ``dup_in_batch`` — no history hit, but an EARLIER batch arrival
      (smaller id — the arrival-order stand-in) whose RANK-1 cell the
      later arrival probes is cosine-close. First arrival wins, and a
      rejected arrival still occupies its rank-1 cell for later docs —
      the exact cell a streamed ingest would have appended it to, which
      is what makes ordered micro-batch replay converge to this batch
      form;
    * ``new`` — admitted. ``hist_top_cosine`` reports the best history
      match (rounded, null when no history candidate shared a cell).

    Scale shape (the IVF deployment asymmetry): ``centroids`` are
    FITTED ONCE on the seed corpus (:func:`clustering.kmeans_fit`) —
    the coarse quantizer never retrains per batch; the corpus-sized
    ``index`` (``cluster, vec_id, embedding``, rank-1 rows, at scale a
    parquet table partitioned by cluster) is scanned ONCE and NEVER
    shuffled — the batch's probed cells broadcast onto it, cosines
    compute in-row, and only the matched candidates (bounded by the
    batch's probed-cell membership) shuffle for the per-arrival max.
    Arrival-side cell assignment scores against the k-row centroid
    table in-row (:func:`clustering.assign_cells`), ONE Arrow pass
    emitting each arrival's top-``probe`` cells with their rank and
    vector; :func:`ivf_admission_from_cells` computes the verdicts from
    that pass. An ingest micro-batch is small relative to the corpus by
    definition — the whole design leans on that asymmetry."""
    from mrjob_spark.operators.clustering import assign_cells

    cells = materialize(assign_cells(
        arrivals, centroids, probe=probe, id_col=id_col, vec_col=vec_col,
        passthrough=(vec_col,), with_rank=True,
    ), StorageLevel.MEMORY_AND_DISK)
    return ivf_admission_from_cells(
        arrivals, cells, index, threshold=threshold, id_col=id_col,
        vec_col=vec_col,
    )


def ivf_admission_from_cells(
    arrivals: DataFrame,
    cells: DataFrame,
    index: DataFrame,
    *,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """:func:`ivf_embedding_admission`'s verdict math over the arrivals'
    PRE-COMPUTED cell assignment — the embedding twin of
    :func:`lsh_admission_from_bands`. ``cells`` is
    ``assign_cells(arrivals, centroids, probe=..., with_rank=True,
    passthrough=(vec_col,))``; its ``rn == 1`` rows are the cells a
    streamed ingest appends the arrivals to, so the streaming body
    (``streaming/ops.py:embedding_ingest_foreach_batch``) assigns each
    micro-batch once and feeds the same rows to admission AND the
    index append.

    ``cells`` feeds three consumers here — the rank-1 occupancy filter,
    the history probe's broadcast side and the in-batch join's probed
    side — so the caller materializes it (the `cand` precedent in
    minhash_lsh_pairs): unmaterialized, each branch re-runs the Arrow
    assignment and its upstream scan (measured 3 Python worker passes
    instead of 1 at sf0.1). No eager fill is needed: the probed-cell
    ``collect()`` below is the first action on it, and it fills the
    cache before the verdict plan runs. The footprint is batch-bounded
    (arrivals × probe rows), and the caller's scope releases it."""
    from mrjob_spark.functions.vectors import l2_norm

    arr = arrivals.select(F.col(id_col).cast("long").alias("vec_id"))
    ab = cells.select(
        "vec_id", "cluster", "rn", F.col(vec_col).alias("_vec")
    ).withColumn("_norm", l2_norm(F.col("_vec")))
    # rank-1 occupancy is the rn=1 row of the SAME scored pass (stable
    # argsort = the old min(struct(dist, cluster)) winner, no re-score
    # and no exchange): the cell a streamed ingest appends to
    ab1 = ab.where(F.col("rn") == 1)

    probed = ab.select("vec_id", "cluster", "_vec", "_norm")

    # the probed-cell id set is bounded by the centroid count — collect
    # it (driver state no bigger than the centroid table the caller
    # already holds) and pre-filter the corpus index: the equi-join on
    # `cluster` discards every other cell anyway, and on the cluster-
    # partitioned parquet index the streaming twin maintains this is
    # what turns the probe into a partition-pruned read instead of a
    # full index scan (VERDICT r12 item 5).
    probed_cells = [
        r["cluster"] for r in probed.select("cluster").distinct().collect()
    ]
    pruned = (
        index.where(F.col("cluster").isin(probed_cells))
        if probed_cells
        else index.where(F.lit(False))
    )

    # history probe: batch side broadcasts, the corpus index streams
    idx = pruned.select(
        F.col("cluster").cast("long").alias("cluster"),
        F.col(id_col).cast("long").alias("_hid"),
        F.col(vec_col).alias("_hvec"),
    ).withColumn("_hnorm", l2_norm(F.col("_hvec")))
    hcos = _guarded_cosine("_vec", "_norm", "_hvec", "_hnorm")
    hist_top = (
        idx.join(F.broadcast(probed), "cluster")
        .select("vec_id", hcos.alias("c"))
        .groupBy("vec_id")
        .agg(F.max("c").alias("hist_top_cosine"))
    )

    # in-batch: later arrivals' probed cells vs earlier arrivals'
    # rank-1 occupancy (both batch-sized; the vector already rides ab1)
    occ = ab1.select(
        F.col("vec_id").alias("_eid"),
        # renamed: ``probed`` and ``occ`` both derive from ``ab``, so an
        # unaliased ``cluster == cluster`` is trivially true and only
        # Spark's self-join auto-resolution made it compare two sides
        F.col("cluster").alias("_ecluster"),
        F.col("_vec").alias("_evec"),
        F.col("_norm").alias("_enorm"),
    )
    bcos = _guarded_cosine("_vec", "_norm", "_evec", "_enorm")
    batch_hits = (
        probed.join(
            occ,
            (F.col("cluster") == F.col("_ecluster"))
            & (F.col("_eid") < F.col("vec_id")),
        )
        .where(bcos >= threshold)
        .select("vec_id")
        .distinct()
        .withColumn("batch_hit", F.lit(1))
    )

    result = (
        arr.select("vec_id")
        .join(hist_top, "vec_id", "left")
        .join(F.broadcast(batch_hits), "vec_id", "left")
        .select(
            "vec_id",
            F.when(
                F.col("hist_top_cosine") >= threshold, "dup_of_history"
            )
            .when(F.col("batch_hit") == 1, "dup_in_batch")
            .otherwise("new")
            .alias("verdict"),
            "hist_top_cosine",
        )
    )
    return result


def _guarded_cosine(a: str, a_norm: str, b: str, b_norm: str):
    """``rnd(dot(a, b) / (a_norm * b_norm), 6)``, null when either norm
    is 0: a zero vector has no direction, and under Spark 4's ANSI
    default the bare division raises ``DIVIDE_BY_ZERO`` and fails the
    whole micro-batch (the guard of ``functions/vectors.
    cosine_similarity``)."""
    from mrjob_spark.functions.vectors import dot

    den = F.col(a_norm) * F.col(b_norm)
    return F.when(den > 0, rnd(dot(F.col(a), F.col(b)) / den, 6))


def ivf_admission_local(
    ids: list,
    cells,
    index,
    *,
    threshold: float = 0.4,
    vec_col: str = "embedding",
):
    """:func:`ivf_admission_from_cells`'s verdicts computed on the
    driver, for the streaming ingest's small micro-batches
    (``streaming/ops.py:embedding_ingest_foreach_batch``).

    ``ids`` are every arrival's ``vec_id`` in batch order; ``cells`` is
    the collected assignment (``vec_id, cluster, dist, rn, <vec_col>``,
    :func:`clustering._score_cells`); ``index`` holds the index rows of
    the probed cells (``cluster, <vec_col>``). Returns the same
    ``vec_id, verdict, hist_top_cosine`` rows as a ``pyarrow.Table``.

    The cosines repeat Spark's arithmetic operation for operation, so
    ``hist_top_cosine`` and every threshold test agree bit for bit:
    float products in double, summed left to right from 0.0 as
    ``aggregate()`` folds them (``np.dot`` and ``np.sum`` reorder the
    additions), one division by the product of the two norms, then
    ``floor(x·10⁶ + 0.5)/10⁶``; null where a norm is 0. Index rows of
    another dimension or with a null vector drop out, as their null
    Spark cosine does."""
    import numpy as np
    import pyarrow as pa

    from mrjob_spark.operators.similarity import _drop_malformed_vec_rows

    cid = cells.column("vec_id").to_pylist()
    # ids as int64 plus a validity mask: a null id matches nothing
    cval = np.array([v is not None for v in cid], dtype=bool)
    cint = np.array([v or 0 for v in cid], dtype=np.int64)
    ccl = cells.column("cluster").to_numpy()
    crn = cells.column("rn").to_numpy()
    cvec = _float_rows(cells, vec_col)
    cnorm = np.sqrt(_fold(cvec * cvec))
    index = _drop_malformed_vec_rows(index, vec_col, cvec.shape[1])
    icl = index.column("cluster").to_numpy()
    ivec = _float_rows(index, vec_col)
    inorm = np.sqrt(_fold(ivec * ivec))

    hist: dict = {}
    batch_hit: set = set()
    for c in np.unique(ccl):
        p = np.flatnonzero((ccl == c) & cval)
        h = np.flatnonzero(icl == c)
        if h.size:
            # fmax skips nulls; a row of nulls stays null
            best = np.fmax.reduce(
                _cosines(cvec[p], cnorm[p], ivec[h], inorm[h]), axis=1)
            for i, b in zip(p, best):
                if b > hist.get(cid[i], -np.inf):  # False for NaN
                    hist[cid[i]] = float(b)
        # in-batch: this cell's probes vs its earlier rank-1 occupants
        o = p[crn[p] == 1]
        cos = _cosines(cvec[p], cnorm[p], cvec[o], cnorm[o])
        hit = (cos >= threshold) & (cint[o][None, :] < cint[p][:, None])
        batch_hit.update(cid[i] for i in p[hit.any(axis=1)])

    tops = [hist.get(v) for v in ids]
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "verdict": pa.array([
            "dup_of_history" if t is not None and t >= threshold
            else "dup_in_batch" if v in batch_hit
            else "new"
            for v, t in zip(ids, tops)
        ], pa.string()),
        "hist_top_cosine": pa.array(tops, pa.float64()),
    })


def _float_rows(t, vec_col: str):
    """The equal-length vector column ``vec_col`` of ``t`` as an
    ``n × dim`` float64 matrix (float32 widens exactly, like Spark's
    ``cast("double")``)."""
    import numpy as np
    import pyarrow.compute as pc

    if t.num_rows == 0:
        return np.zeros((0, 0))
    flat = pc.list_flatten(t.column(vec_col)).to_numpy(zero_copy_only=False)
    return np.asarray(flat, dtype=np.float64).reshape(t.num_rows, -1)


def _fold(x):
    """Sums over the last axis, added left to right from 0.0 the way
    Spark's ``aggregate()`` folds an array."""
    import numpy as np

    if x.shape[-1] == 0:
        return np.zeros(x.shape[:-1])
    return np.cumsum(x, axis=-1)[..., -1]


def _cosines(a, a_norm, b, b_norm):
    """:func:`_guarded_cosine` for every row pair of ``a`` (m × dim) and
    ``b`` (n × dim), NaN for null; blocked over ``a`` so the m × n × dim
    products stay a few million doubles."""
    import numpy as np

    out = np.full((len(a), len(b)), np.nan)
    step = max(1, (1 << 22) // max(1, b.size))
    for s in range(0, len(a), step):
        dots = _fold(a[s:s + step, None, :] * b[None, :, :])
        den = a_norm[s:s + step, None] * b_norm[None, :]
        ok = den > 0
        blk = out[s:s + step]
        blk[ok] = np.floor(dots[ok] / den[ok] * 1e6 + 0.5) / 1e6
    return out
