"""Unit tests of the LLM-pipeline operators (SURVEY.md §2.11) beyond the
oracle-differential suite: LSH recall vs the exact baseline, dedup
mechanics on controlled corpora, and the as-of/top-k primitives.
"""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from mrjob_spark.operators import dedup
from mrjob_spark.operators.asof import asof_join
from mrjob_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_pairs,
    normalized_dedup,
    simhash_fingerprints,
)
from mrjob_spark.operators.similarity import (
    add_lsh_bucket,
    brute_force_topk,
    bucketed_topk,
    hyperplane_lsh_topk,
)
from mrjob_spark.operators.topk import top_k_per_group

DIM = 16


def _unit_vec(rng):
    v = [rng.gauss(0, 1) for _ in range(DIM)]
    n = math.sqrt(sum(x * x for x in v))
    return [x / n for x in v]


@pytest.fixture(scope="module")
def vec_corpus(spark):
    """64 vectors in 4 well-separated clusters + per-vector jitter, so true
    nearest neighbors are overwhelmingly intra-cluster."""
    rng = random.Random(7)
    centers = [_unit_vec(rng) for _ in range(4)]
    rows = []
    for i in range(64):
        c = centers[i % 4]
        v = [x + rng.gauss(0, 0.05) for x in c]
        rows.append(Row(vec_id=i, embedding=[float(x) for x in v]))
    return spark.createDataFrame(rows).cache()


def test_lsh_recall_vs_bruteforce(spark, vec_corpus):
    """The docstring-promised recall check: hyperplane-LSH top-k must
    recover a large fraction of the exact top-k on clustered data. With
    4 planes (16 buckets) on 4 tight clusters, same-cluster vectors nearly
    always share a bucket."""
    k = 5
    exact = brute_force_topk(vec_corpus, vec_corpus, k)
    approx = hyperplane_lsh_topk(vec_corpus, vec_corpus, k, dim=DIM, n_planes=4)

    exact_pairs = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    approx_pairs = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    assert recall >= 0.6, f"LSH recall {recall:.2f} below floor"
    # and LSH must never invent a neighbor the exact search ranks outside
    # its bucket-restricted candidate set — sanity: all sims computable
    assert approx.where(F.col("cosine") > 1.000001).count() == 0


def test_lsh_bucket_determinism(spark, vec_corpus):
    a = add_lsh_bucket(vec_corpus, DIM, 6).select("vec_id", "lsh_bucket")
    b = add_lsh_bucket(vec_corpus, DIM, 6).select("vec_id", "lsh_bucket")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_bucketed_topk_restricts_to_bucket(spark):
    rows = [
        Row(vec_id=0, label="a", embedding=[1.0, 0.0]),
        Row(vec_id=1, label="a", embedding=[0.9, 0.1]),
        Row(vec_id=2, label="b", embedding=[1.0, 0.0]),  # other bucket
    ]
    df = spark.createDataFrame(rows)
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in bucketed_topk(df, df, k=3, bucket_col="label").collect()
    }
    assert got == {(0, 1), (1, 0)}  # cross-bucket pair (0,2) excluded


def test_exact_and_normalized_dedup(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="Hello  World"),
            Row(doc_id=2, text="hello world"),   # same after normalization
            Row(doc_id=3, text="Hello  World"),  # exact dup of 1
            Row(doc_id=4, text="something else"),
        ]
    )
    exact = exact_dedup(docs, "text", "doc_id")
    assert {r["keep_id"] for r in exact.collect()} == {1, 2, 4}
    assert {(r["keep_id"], r["n_copies"]) for r in exact.collect()} == {
        (1, 2), (2, 1), (4, 1)
    }
    norm = normalized_dedup(docs, "text", "doc_id")
    assert {(r["keep_id"], r["n_copies"]) for r in norm.collect()} == {(1, 3), (4, 1)}


#: ``_DRIVER_DOCS`` per path: the default bound keeps these small corpora
#: on the driver, a bound of 0 forces the distributed plan
LSH_PATHS = {"driver": dedup._DRIVER_DOCS, "distributed": 0}


def _lsh_pairs_on_both_paths(monkeypatch, docs, **kw):
    """``{path: {(doc_a, doc_b)}}`` of ``minhash_lsh_pairs`` from each
    regime."""
    out = {}
    for path, bound in LSH_PATHS.items():
        monkeypatch.setattr(dedup, "_DRIVER_DOCS", bound)
        out[path] = {
            (r["doc_a"], r["doc_b"])
            for r in minhash_lsh_pairs(docs, "doc_id", "text", **kw).collect()
        }
    return out


def test_minhash_lsh_finds_near_dupes(spark, monkeypatch):
    base = "the quick brown fox jumps over the lazy dog " * 6
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=base),
            Row(doc_id=2, text=base + "with a tiny suffix"),
            Row(doc_id=3, text="an entirely different document about spark "
                               "query engines and shuffle planning " * 5),
        ]
    )
    for path, pairs in _lsh_pairs_on_both_paths(
            monkeypatch, docs, threshold=0.5).items():
        assert (1, 2) in pairs, path
        assert all(3 not in p for p in pairs), path


def test_minhash_bucket_cap_drops_hot_family_keeps_rest(spark, monkeypatch):
    # 40 exact copies of one template flood every band bucket they touch
    # (each bucket holds all 40); an unrelated near-dup pair lives in its
    # own small buckets. Cap=8 must kill the template family's 780 pairs
    # while leaving the small-bucket pair untouched. Both regimes.
    template = "standard legal boilerplate disclaimer text " * 8
    base = "the quick brown fox jumps over the lazy dog " * 6
    rows = [Row(doc_id=i, text=template) for i in range(100, 140)]
    rows += [Row(doc_id=1, text=base), Row(doc_id=2, text=base + "suffix!")]
    docs = spark.createDataFrame(rows)

    capped = _lsh_pairs_on_both_paths(
        monkeypatch, docs, threshold=0.5, max_bucket_size=8)
    uncapped = _lsh_pairs_on_both_paths(monkeypatch, docs, threshold=0.5)
    huge_cap = _lsh_pairs_on_both_paths(
        monkeypatch, docs, threshold=0.5, max_bucket_size=10_000)
    for path in LSH_PATHS:
        assert (1, 2) in capped[path], path
        assert all(a < 100 and b < 100 for a, b in capped[path]), path
        # a cap at least as large as every bucket is a no-op vs uncapped
        assert huge_cap[path] == uncapped[path], path
        # the family the cap removed is real
        assert (100, 101) in uncapped[path], path


def test_minhash_band_rows_rebuilds_no_constant_expressions(spark):
    """A ``minhash_band_rows`` call (one per admission micro-batch on
    the distributed path) builds only its own small plan: the hashing
    is one Python kernel, not ~7,000 py4j round trips of constant
    expression trees."""
    from mrjob_spark.operators.dedup import minhash_band_rows

    docs = spark.createDataFrame(
        [Row(doc_id=1, text="the quick brown fox jumps over the dog")]
    )
    minhash_band_rows(docs, "doc_id", "text")
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    n = [0]

    def counting(*a, **k):
        n[0] += 1
        return send(*a, **k)

    client.send_command = counting
    try:
        minhash_band_rows(docs, "doc_id", "text")
    finally:
        client.send_command = send
    assert n[0] < 2000, n[0]


def test_independent_band_row_frames_join_like_the_oracle(spark, duck, sf_dir):
    """Two ``minhash_band_rows`` frames share the cached expression
    trees; built over different inputs and joined on the band key, they
    must pair exactly the documents DuckDB's band CTE pairs (a shared
    Alias / ExprId would break the join's attribute resolution)."""
    from mrjob_spark.operators.dedup import (
        minhash_band_rows,
        sql_band_rows_cte,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    even = minhash_band_rows(docs.where("doc_id % 2 = 0"), "doc_id", "text")
    odd = minhash_band_rows(docs.where("doc_id % 2 = 1"), "doc_id", "text")
    got = {
        (r[0], r[1])
        for r in even.alias("a")
        .join(odd.alias("b"), ["band_idx", "band_hash"])
        .select("a.doc_id", "b.doc_id")
        .distinct()
        .collect()
    }
    want = set(duck.execute(
        "WITH " + sql_band_rows_cte("documents") + """
        SELECT DISTINCT a.doc_id, b.doc_id
        FROM bands a JOIN bands b USING (band_idx, band_hash)
        WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1"""
    ).fetchall())
    assert want and got == want


#: texts whose lowering, slicing or encoding differs from plain ASCII
EDGE_TEXTS = [
    None, "", "short", "x" * 8, "İstanbul", "ΟΔΟΣ", "ΟΔΟΣ ΣΑΣ οδός",
    "👩\u200d👩\u200d👧\u200d👦 family 👨\u200d👩\u200d👧 zwj emoji",
    "日本語のテキスト、中文文本", "ＦＵＬＬ ｗｉｄｔｈ ＡＢＣ",
    "Unicode 14 capitals: \u2c2f \ua7c0 \U00010570 stay upper in SQL",
]


def _docs_with_edge_texts(sf_dir):
    """The sf0.001 documents plus :data:`EDGE_TEXTS` as an Arrow table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = pq.read_table(f"{sf_dir}/documents.parquet",
                         columns=["doc_id", "text"])
    first = max(docs.column("doc_id").to_pylist()) + 1
    edge = pa.table({
        "doc_id": pa.array(range(first, first + len(EDGE_TEXTS)),
                           docs.schema.field("doc_id").type),
        "text": pa.array(EDGE_TEXTS, pa.string()),
    })
    return pa.concat_tables([docs, edge])


def _sql_twin(table, select):
    """``select`` over ``sql_band_rows_cte`` on ``table`` in DuckDB."""
    import duckdb

    from mrjob_spark.operators.dedup import sql_band_rows_cte

    con = duckdb.connect()
    con.register("documents", table)
    try:
        return con.execute(
            "WITH " + sql_band_rows_cte("documents") + " " + select
        ).fetchall()
    finally:
        con.close()


def test_minhash_band_rows_match_the_sql_twin_row_for_row(spark, sf_dir):
    """The kernel's band rows equal DuckDB's band CTE's, row for row, on
    the fixture documents and on null, empty, short and non-ASCII texts
    (a lowering that changes length, a final sigma, astral ZWJ
    sequences, CJK and full-width letters, capitals newer than the SQL
    engine's case tables)."""
    from mrjob_spark.operators.dedup import minhash_band_rows

    table = _docs_with_edge_texts(sf_dir)
    got = sorted(
        tuple(r) for r in minhash_band_rows(
            spark.createDataFrame(table), "doc_id", "text").collect())
    want = sorted(_sql_twin(
        table, "SELECT doc_id, band_idx, band_hash FROM bands"))
    assert len(got) == 16 * table.num_rows
    assert got == want


def test_minhash_signatures_match_the_sql_twin(spark, sf_dir):
    """``m0..m63`` equal the CTE's ``sig``; a null text's are all null."""
    from mrjob_spark.operators.dedup import minhash_signatures

    table = _docs_with_edge_texts(sf_dir)
    got = sorted(
        tuple(r) for r in minhash_signatures(
            spark.createDataFrame(table), "doc_id", "text").collect())
    want = sorted(_sql_twin(table, "SELECT * FROM sig"))
    assert got == want
    assert any(r[1:] == (None,) * 64 for r in got)


def test_minhash_kernel_chunks_are_invisible(monkeypatch):
    """One long document folded in chunks of a few shingles gives the
    same signature, bands and shingle set as the default chunk."""
    import pyarrow as pa

    from mrjob_spark.operators import dedup

    text = "the quick brown fox jumps over a lazy dog near ΟΔΟΣ İ " * 40
    ascii_text = text.encode("ascii", "ignore").decode()
    table = pa.table({"doc_id": [1, 2], "text": [text, ascii_text]})

    def run():
        return [dedup.minhash_arrow(table, out).to_pylist()
                for out in ("signatures", "bands", "sets")]

    default = run()
    monkeypatch.setattr(dedup, "_CHUNK", 7)
    assert run() == default


def _sql_lsh_pairs(table, **kw):
    """``sql_minhash_lsh_pairs(**kw)`` over ``table`` in DuckDB."""
    import duckdb

    from mrjob_spark.operators.dedup import sql_minhash_lsh_pairs

    con = duckdb.connect()
    con.register("documents", table)
    try:
        return sorted(con.execute(sql_minhash_lsh_pairs(**kw)).fetchall())
    finally:
        con.close()


def test_minhash_lsh_pairs_drops_null_text_pairs(spark, monkeypatch):
    """Two null texts share all their md5('') bands but have no
    shingles: the pair's Jaccard is 0/0, which ANSI mode raised as
    DIVIDE_BY_ZERO for the whole job. The pair is dropped, as the SQL
    twin drops it. Both regimes."""
    rows = [(1, None), (2, None),
            (3, "the quick brown fox jumps over the lazy dog"), (4, "")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    want = _sql_lsh_pairs(docs.toArrow())
    for path, bound in LSH_PATHS.items():
        monkeypatch.setattr(dedup, "_DRIVER_DOCS", bound)
        got = minhash_lsh_pairs(docs, "doc_id", "text").collect()
        assert sorted(tuple(r) for r in got) == want, path
        assert all({1, 2} != {r[0], r[1]} for r in got), path


def _lsh_rows_and_schema(spark, table, **kw):
    """``(sorted rows, schema)`` of ``minhash_lsh_pairs`` over ``table``."""
    df = minhash_lsh_pairs(
        spark.createDataFrame(table), "doc_id", "text", **kw)
    return sorted(tuple(r) for r in df.collect()), df.schema


def test_lsh_pair_paths_agree_row_for_row(spark, sf_dir, monkeypatch):
    """The driver path, the distributed path and the SQL twin return the
    same pairs, and both paths the same schema, on the fixture documents
    plus null texts, an empty and a short text, a repeated id with two
    different texts and a null id whose text is a near-dup of another
    document; uncapped and capped."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = pq.read_table(f"{sf_dir}/documents.parquet",
                         columns=["doc_id", "text"])
    first = max(docs.column("doc_id").to_pylist()) + 1
    base = "the quick brown fox jumps over the lazy dog " * 6
    extra = pa.table({
        "doc_id": pa.array(
            [first, first + 1, first + 2, first + 3, first + 4, first + 4,
             None, first + 5, first + 6], docs.schema.field("doc_id").type),
        "text": [None, None, "", "short", "one text of a repeated id",
                 "another text of the repeated id", base + "!", base,
                 base + "?"],
    })
    table = pa.concat_tables([docs, extra])
    for kw in ({}, {"max_bucket_size": 8}):
        got = {}
        for path, bound in LSH_PATHS.items():
            monkeypatch.setattr(dedup, "_DRIVER_DOCS", bound)
            got[path] = _lsh_rows_and_schema(spark, table, **kw)
        want = _sql_lsh_pairs(table, **kw)
        assert (first + 5, first + 6) in {r[:2] for r in want}
        assert got["driver"] == got["distributed"], kw
        assert got["driver"][0] == want, kw


def test_lsh_pair_paths_agree_on_a_repeated_id(spark, monkeypatch):
    """Each row is one document on both paths: a repeated id whose two
    texts are near-dups of each other and of a third document pairs row
    by row, a self-pair included. (The SQL twin groups the rows of an id
    into one document instead, so it is not the reference here.)"""
    import pyarrow as pa

    base = "the quick brown fox jumps over the lazy dog " * 6
    table = pa.table({
        "doc_id": pa.array([1, 1, 2, 3], pa.int64()),
        "text": [base, base + "!", base + "?", "an unrelated document"],
    })
    got = {}
    for path, bound in LSH_PATHS.items():
        monkeypatch.setattr(dedup, "_DRIVER_DOCS", bound)
        got[path] = _lsh_rows_and_schema(spark, table)
    assert {r[:2] for r in got["driver"][0]} == {(1, 1), (1, 2)}
    assert got["driver"] == got["distributed"]


def test_lsh_pairs_over_the_pair_budget_take_the_distributed_path(
        spark, sf_dir, monkeypatch):
    """Candidates beyond the driver's pair budget (``graph._DRIVER_EDGES``,
    made small here) send the operator to its distributed plan, which
    returns the same pairs."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    want = sorted(tuple(r) for r in minhash_lsh_pairs(
        docs, "doc_id", "text").collect())
    assert len(want) > 3
    seen = []
    local = dedup.lsh_pairs_local

    def spy(*a, **k):
        seen.append(local(*a, **k))
        return seen[-1]

    monkeypatch.setattr(dedup, "lsh_pairs_local", spy)
    monkeypatch.setattr(graph, "_DRIVER_EDGES", 3)
    got = minhash_lsh_pairs(docs, "doc_id", "text")
    assert seen == [None]
    assert sorted(tuple(r) for r in got.collect()) == want
    # the distributed plan's persisted candidate set, not a local frame
    assert got._mrjob_spark_persisted[0].is_cached
    dedup.unpersist_intermediates(got)


def test_minhash_lsh_pairs_runs_one_job_below_the_bound(spark, sf_dir):
    """Below ``_DRIVER_DOCS`` the operator and a collect of its pairs run
    one Spark job, the bounded collect of the source rows. The
    distributed plan ran 12."""
    name = "lsh_pairs_jobs"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        rows = minhash_lsh_pairs(docs, "doc_id", "text").collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert rows
    jobs = sc.statusTracker().getJobIdsForGroup(name)
    assert 0 < len(jobs) <= 1, len(jobs)


def test_text_functions_lower_like_the_sql_twins(spark):
    """``char_shingles``, ``tokens`` and ``normalize_text`` lower as
    DuckDB's ``lower`` does: U+0130 and a word-final capital sigma, where
    Java's full case mapping differs from SQL's simple one, included."""
    import duckdb

    from mrjob_spark.functions.text import (
        char_shingles,
        normalize_text,
        sql_normalize_text,
        sql_tokens,
        tokens,
    )

    texts = ["İstanbul", "İİ", "ΟΔΟΣ ΣΑΣ οδός", "Plain ASCII Text, 42"]
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    got = [tuple(r) for r in df.select(
        "t", char_shingles(F.col("t")), tokens(F.col("t")),
        normalize_text(F.col("t"))).collect()]
    con = duckdb.connect()
    con.register("texts", df.toArrow())
    want = con.execute(f"""
        SELECT t,
               list_transform(
                   generate_series(1, greatest(length(t) - 7, 1)),
                   i -> substr(lower(t), i, 8)),
               {sql_tokens('t')}, {sql_normalize_text('t')}
        FROM texts""").fetchall()
    con.close()
    assert sorted(got) == sorted(want)


def test_simhash_near_dupes_share_fingerprint_bits(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="alpha beta gamma delta epsilon zeta eta theta"),
            Row(doc_id=2, text="alpha beta gamma delta epsilon zeta eta iota"),
            Row(doc_id=3, text="completely unrelated words here nothing shared"),
        ]
    )
    fps = {r["doc_id"]: r["simhash"] for r in
           simhash_fingerprints(docs, "doc_id", "text").collect()}
    ham12 = bin(fps[1] ^ fps[2]).count("1")
    ham13 = bin(fps[1] ^ fps[3]).count("1")
    assert ham12 < ham13


def test_jaccard_pairs_df_cap_bounds_candidates(spark):
    """A token present in every document must not explode the candidate
    set: with max_df below the corpus size, the ubiquitous token is dropped
    and only genuinely-overlapping docs pair up."""
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"common shared{i % 2} unique{i}") for i in range(10)]
    )
    pairs = jaccard_pairs(docs, "doc_id", "text", threshold=0.1, df_cutoff=5)
    got = pairs.collect()
    # 'common' (df=10 > 5) is excluded; 'shared0'/'shared1' (df=5) survive
    assert all(
        (r["doc_a"] % 2) == (r["doc_b"] % 2) for r in got
    ), "pairing must come from sharedN tokens only"
    assert len(got) > 0


def test_span_dedup_capped_matches_window_form_when_cap_high(spark):
    """Property (r3 verdict #7): with max_span_df at or above the corpus's
    max span frequency, the skew-proof capped plan is value-identical to
    the single-scan window plan."""
    from mrjob_spark.operators.dedup import span_dedup

    boiler = " ".join(f"w{i}" for i in range(10))  # one full 10-token span
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"{boiler} unique{i} tail{i} end{i}") for i in range(7)]
        + [Row(doc_id=100 + i, text=f"alone{i} solo{i}") for i in range(3)]
    )
    naive = {
        r["doc_id"]: (r["n_spans"], r["n_dup_spans"])
        for r in span_dedup(docs, "doc_id", "text").collect()
    }
    capped = {
        r["doc_id"]: (r["n_spans"], r["n_dup_spans"])
        for r in span_dedup(docs, "doc_id", "text", max_span_df=1000).collect()
    }
    assert naive == capped
    assert any(v[1] > 0 for v in naive.values())  # the boiler span IS shared


def test_span_dedup_cap_excludes_boilerplate_spans(spark):
    """With the cap below a hot span's document frequency, that span is
    boilerplate by definition and drops out of the dup signal, while
    ordinary duplicated spans still count."""
    from mrjob_spark.operators.dedup import span_dedup

    hot = " ".join(f"h{i}" for i in range(10))  # df=6 span
    warm = " ".join(f"p{i}" for i in range(10))  # df=2 span
    rows = [Row(doc_id=i, text=f"{hot} only{i}") for i in range(6)]
    rows += [Row(doc_id=10 + i, text=f"{warm} mid{i}") for i in range(2)]
    docs = spark.createDataFrame(rows)
    got = {
        r["doc_id"]: r["n_dup_spans"]
        for r in span_dedup(docs, "doc_id", "text", max_span_df=3).collect()
    }
    for i in range(6):
        assert got[i] == 0, "hot span (df=6 > cap) must not count as dup"
    for i in range(2):
        assert got[10 + i] == 1, "warm span (df=2 <= cap) must still count"


def test_asof_join_picks_latest_at_or_before(spark):
    left = spark.createDataFrame(
        [Row(ev=1, key=1, t=10), Row(ev=2, key=1, t=25), Row(ev=3, key=2, t=5)]
    )
    right = spark.createDataFrame(
        [
            Row(key=1, rt=5, val="a"),
            Row(key=1, rt=20, val="b"),
            Row(key=2, rt=50, val="c"),  # after the event → no match
        ]
    )
    out = asof_join(
        left, right,
        left_on="key", right_on="key", left_time="t", right_time="rt",
        right_value_cols=["val"], tie_break="val", how="inner",
    )
    got = {(r["ev"], r["val"]) for r in out.collect()}
    assert got == {(1, "a"), (2, "b")}


def test_top_k_per_group_ties_break_deterministically(spark):
    df = spark.createDataFrame(
        [Row(g="x", v=5, id=1), Row(g="x", v=5, id=2), Row(g="x", v=3, id=3),
         Row(g="y", v=9, id=4)]
    )
    out = top_k_per_group(df, ["g"], [F.col("v").desc(), F.col("id")], k=2)
    got = sorted((r["g"], r["id"]) for r in out.collect())
    assert got == [("x", 1), ("x", 2), ("y", 4)]


# ---------------------------------------------------------------------------
# scalable_windows: two-phase bucketed ranking / range frames must agree
# bit-for-bit with the naive single-partition window.
# ---------------------------------------------------------------------------

from pyspark.sql.window import Window

from mrjob_spark.operators.scalable_windows import (
    bucketed_range_frame,
    bucketed_ranking,
)


def _naive_ranking(df, part, val, tie, n=4):
    w = Window.partitionBy(part).orderBy(F.col(val).desc(), F.col(tie))
    return df.select(
        part, tie,
        F.row_number().over(w).cast("long").alias("rn"),
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.ntile(n).over(w).cast("long").alias("quartile"),
    )


def test_bucketed_ranking_matches_naive_with_cross_bucket_ties(spark):
    # values straddle bucket boundaries (width=10) and include ties,
    # negatives, and a group whose size is not divisible by the ntile n
    rows = [
        Row(g="a", id=i, v=float(v))
        for i, v in enumerate([3, 3, 9, 10, 10, 11, 25, -7, -7, 0, 42])
    ] + [Row(g="b", id=100 + i, v=float(v)) for i, v in enumerate([5, 5, 5])]
    df = spark.createDataFrame(rows)
    got = (
        bucketed_ranking(df, "g", "v", "id", bucket_width=10.0)
        .select("g", "id", "rn", "rnk", "drnk", "quartile")
        .collect()
    )
    want = _naive_ranking(df, "g", "v", "id").collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_bucketed_ranking_parallelizes_the_sort(spark):
    # the heavy window must partition on (key, bucket), never on key alone
    df = spark.createDataFrame(
        [Row(g="only", id=i, v=float(i)) for i in range(100)]
    )
    plan = bucketed_ranking(df, "g", "v", "id", bucket_width=10.0)._jdf.queryExecution().executedPlan().toString()
    assert "__bucket" in plan.split("Window")[-1] or "__bucket" in plan


def test_bucketed_range_frame_matches_naive_across_buckets(spark):
    rows = [
        Row(g="a", id=i, v=float(v))
        for i, v in enumerate([0, 50, 99, 100, 101, 150, 199, 200, 300, -20])
    ] + [Row(g="b", id=100, v=100.0)]
    df = spark.createDataFrame(rows)
    aggs = [
        lambda w: F.count(F.lit(1)).over(w).cast("long").alias("n_in_band"),
        lambda w: F.sum("v").over(w).alias("sum_in_band"),
    ]
    got = bucketed_range_frame(
        df, "g", "v", range_width=100.0, agg_exprs=aggs
    ).collect()
    w = (
        Window.partitionBy("g").orderBy("v").rangeBetween(-100, Window.currentRow)
    )
    want = df.select(
        "g", "id", "v",
        F.count(F.lit(1)).over(w).cast("long").alias("n_in_band"),
        F.sum("v").over(w).alias("sum_in_band"),
    ).drop("v").collect()
    got_cmp = sorted((r["g"], r["id"], r["n_in_band"], r["sum_in_band"]) for r in got)
    want_cmp = sorted((r["g"], r["id"], r["n_in_band"], r["sum_in_band"]) for r in want)
    assert got_cmp == want_cmp


def test_bucketed_range_frame_rejects_narrow_buckets(spark):
    df = spark.createDataFrame([Row(g="a", id=1, v=1.0)])
    import pytest as _pytest

    with _pytest.raises(ValueError):
        bucketed_range_frame(df, "g", "v", 100.0, [], bucket_width=50.0)


# ---------------------------------------------------------------------------
# graph: connected components — driver union-find below the edge bound,
# large-star/small-star rounds above it
# ---------------------------------------------------------------------------

from mrjob_spark.operators import graph
from mrjob_spark.operators.graph import connected_components

#: ``_DRIVER_EDGES`` per path: the default bound keeps these small graphs
#: on the driver, a bound of 0 forces the distributed rounds
CC_PATHS = {"driver": graph._DRIVER_EDGES, "distributed": 0}


def _cc_on_both_paths(monkeypatch, edges, **kw):
    """``{path: {(node, component)}}`` from each regime."""
    out = {}
    for path, bound in CC_PATHS.items():
        monkeypatch.setattr(graph, "_DRIVER_EDGES", bound)
        out[path] = {
            (r["node"], r["component"])
            for r in connected_components(edges, **kw).collect()
        }
    return out


def test_connected_components_chain_needs_multiple_rounds(spark, monkeypatch):
    # path graph 9-8-7-...-1: min label must travel the full diameter
    edges = spark.createDataFrame(
        [Row(src=i, dst=i + 1) for i in range(1, 9)]
    )
    want = {(i, 1) for i in range(1, 10)}
    assert _cc_on_both_paths(monkeypatch, edges) == {
        p: want for p in CC_PATHS}


def test_connected_components_multiple_components(spark, monkeypatch):
    edges = spark.createDataFrame(
        [Row(src=10, dst=20), Row(src=20, dst=30), Row(src=99, dst=98),
         Row(src=5, dst=5)]
    )
    want = {(10, 10), (20, 10), (30, 10), (98, 98), (99, 98), (5, 5)}
    assert _cc_on_both_paths(monkeypatch, edges) == {
        p: want for p in CC_PATHS}


def test_connected_components_long_path_converges(spark, monkeypatch):
    # a 200-node path with shuffled ids, diameter 199: neither regime's
    # round count may grow with the diameter
    import random as _random

    ids = list(range(1000, 1200))
    _random.Random(7).shuffle(ids)
    edges = spark.createDataFrame(
        [Row(src=a, dst=b) for a, b in zip(ids, ids[1:])]
    )
    want = {(i, 1000) for i in ids}
    assert _cc_on_both_paths(monkeypatch, edges) == {
        p: want for p in CC_PATHS}


def test_connected_components_round_cap_is_reported(spark, monkeypatch):
    # the distributed path's safety cap fails loudly, naming the rounds
    monkeypatch.setattr(graph, "_DRIVER_EDGES", 0)
    edges = spark.createDataFrame(
        [Row(src=i, dst=i + 1) for i in range(200)]
    )
    with pytest.raises(RuntimeError, match="after 1 large-star/small-star"):
        connected_components(edges, max_iter=1)


def test_connected_components_drop_only_malformed_edges(spark, monkeypatch):
    # a null endpoint names no node: that edge alone is dropped (5 and 6
    # appear nowhere else); a self-loop is a one-node component
    edges = spark.createDataFrame(
        [(1, 2), (None, 5), (6, None), (None, None), (7, 7), (2, 3)],
        "src long, dst long",
    )
    want = {(1, 1), (2, 1), (3, 1), (7, 7)}
    assert _cc_on_both_paths(monkeypatch, edges) == {
        p: want for p in CC_PATHS}


@pytest.mark.parametrize("path", CC_PATHS)
def test_connected_components_runs_its_upstream_once(spark, monkeypatch, path):
    # the bound probe and the distributed rounds share one execution of
    # the edge plan: an expensive upstream (the LSH pipeline) must not
    # run once to be measured and again to be contracted
    from pyspark.sql import functions as F

    monkeypatch.setattr(graph, "_DRIVER_EDGES", CC_PATHS[path])
    runs = spark.sparkContext.accumulator(0)

    def counted(x):
        runs.add(1)
        return x

    # nondeterministic: Catalyst must not copy the call into a pushed-down
    # null filter, which would count one row twice. The exchange after it
    # makes the counting stage run to completion (a worker cut short by a
    # limit never reports its accumulator), like the LSH pipeline's
    # shuffles; separate actions do not share it.
    udf = F.udf(counted, "long").asNondeterministic()
    edges = spark.range(0, 40, numPartitions=4).select(
        udf("id").alias("src"), ((F.col("id") + 1) % 40).alias("dst")
    ).repartition(3)
    got = {(r["node"], r["component"])
           for r in connected_components(edges).collect()}
    assert got == {(i, 0) for i in range(40)}
    assert runs.value == 40


def test_connected_components_block_storage_is_one_generation(spark, monkeypatch):
    # VERDICT r10 task 1: each round's localCheckpoint must UNPERSIST the
    # superseded generation instead of stranding it for the async
    # ContextCleaner — in the driver's long 7000-stage session the lag
    # produced a 17.8× bench reading on l1_dedup_clusters_capped, and at
    # 100 TB a many-round run would strand O(rounds) generations of
    # executor block storage. The distributed path (forced: this graph
    # is far under the driver bound) needs several rounds on a 12-node
    # path graph; block storage during/after the run must stay O(1)
    # generations, not O(rounds).
    monkeypatch.setattr(graph, "_DRIVER_EDGES", 0)
    edges = spark.createDataFrame(
        [Row(src=i, dst=i + 1) for i in range(1, 12)]
    )

    def persisted_ids():
        info = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return {i.id() for i in info}

    before = persisted_ids()
    labels = connected_components(edges)
    # leaked generations are visible IMMEDIATELY after the call (before
    # any GC/ContextCleaner pass could excuse them)
    leaked = persisted_ids() - before
    # allowed survivors: the final edge generation (the returned plan
    # reads it) — everything else (the persisted edge plan, the
    # neighbourhood caches, superseded generations) must already be gone
    assert len(leaked) <= 1, (
        f"connected_components stranded {len(leaked)} persisted RDDs "
        f"(ids {sorted(leaked)}); block storage must be bounded by one "
        "checkpoint generation"
    )
    got = {(r["node"], r["component"]) for r in labels.collect()}
    assert got == {(i, 1) for i in range(1, 13)}


def test_connected_components_reliable_checkpoint(spark, tmp_path, monkeypatch):
    # durable-iteration path: reliable checkpoint() into a fault-tolerant
    # dir (VERDICT r2 #3) must produce identical labels to localCheckpoint
    # on the distributed path; the driver path checkpoints nothing
    import os

    edges = spark.createDataFrame(
        [Row(src=1, dst=2), Row(src=2, dst=3), Row(src=7, dst=8)]
    )
    ckpt_dir = str(tmp_path / "cc_ckpt")
    want = {(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)}
    assert _cc_on_both_paths(
        monkeypatch, edges, checkpoint_dir=ckpt_dir) == {
        p: want for p in CC_PATHS}
    # the distributed run actually wrote checkpointed state to the dir
    written = [
        d for run in os.scandir(ckpt_dir) for d in os.scandir(run.path)
        if d.name.startswith("rdd-")
    ]
    assert written


def test_minhash_lsh_pairs_storage_flat_and_releasable(spark, monkeypatch):
    # VERDICT r2 #4: repeated invocations in a long-lived session must not
    # accrete storage. The CacheManager dedups identical plans (invocation 2
    # reuses invocation 1's entries), and the enclosing scope releases
    # them deterministically. Forced onto the distributed plan, the one
    # that persists (this corpus sits far under the driver bound).
    from mrjob_spark.materialize import scope
    from mrjob_spark.operators.dedup import minhash_lsh_pairs

    monkeypatch.setattr(dedup, "_DRIVER_DOCS", 0)

    def cached_ids():
        info = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return {i.id() for i in info}

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"the quick brown fox {i} jumps over the dog " * 4)
         for i in range(30)]
    )
    # start from a clean slate (other fixtures' caches merely recompute).
    # Stale blocks from earlier tests (e.g. localCheckpoint RDDs awaiting
    # the async ContextCleaner) may still appear in storage info and can
    # vanish mid-test, so flatness is asserted on the ids NEW to this
    # test's invocations, not on the global entry count.
    spark.catalog.clearCache()
    baseline = cached_ids()
    with scope():
        r1 = minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.6)
        r1.count()
        new_after_first = cached_ids() - baseline
        r2 = minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.6)
        r2.count()
        new_after_second = cached_ids() - baseline
        # flat: the identical plan hits the same cache entries, adding none
        assert new_after_second == new_after_first
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


# ---------------------------------------------------------------------------
# skew mitigation: deterministic salting
# ---------------------------------------------------------------------------


def test_salted_equi_join_matches_plain_join(spark):
    from mrjob_spark.operators.skew import salted_equi_join

    # hot key: 5000 of 5005 left rows share key "hot"
    left = spark.createDataFrame(
        [(i, "hot" if i < 5000 else f"k{i}") for i in range(5005)],
        ["row_id", "k"],
    )
    right = spark.createDataFrame(
        [("hot", 1), ("k5001", 2), ("k5002", 3), ("absent", 9)], ["k", "v"]
    )
    got = salted_equi_join(left, right, on="k", left_unique_col="row_id",
                           n_salts=8)
    expected = left.join(right, "k")
    assert got.count() == expected.count() == 5002
    assert sorted(got.columns) == sorted(expected.columns)
    # spot-check content equality
    g = {(r.row_id, r.k, r.v) for r in got.collect()}
    e = {(r.row_id, r.k, r.v) for r in expected.collect()}
    assert g == e


def test_salted_equi_join_spreads_hot_key(spark):
    from mrjob_spark.operators.skew import with_salt

    left = spark.createDataFrame(
        [(i, "hot") for i in range(1000)], ["row_id", "k"]
    )
    n_salts = with_salt(left, "row_id", 8).select("__salt").distinct().count()
    assert n_salts == 8  # the hot key really fans out across salts


def test_salted_collect_set_matches_naive(spark):
    from mrjob_spark.operators.skew import salted_collect_set
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("hot", f"v{i % 50}") for i in range(2000)]
        + [("cold", "x"), ("cold", "y")],
        ["k", "v"],
    )
    got = {
        r.k: list(r.v_set)
        for r in salted_collect_set(df, "k", "v", n_salts=8).collect()
    }
    naive = {
        r.k: sorted(r.s)
        for r in df.groupBy("k").agg(F.collect_set("v").alias("s")).collect()
    }
    assert got == naive


# ---------------------------------------------------------------------------
# parallelize_narrow_scan: unsplittable-input parallelism recovery
# ---------------------------------------------------------------------------


def test_parallelize_narrow_scan_widens_single_partition_input(spark, tmp_path):
    from mrjob_spark.operators.partitioning import parallelize_narrow_scan

    # one-row-group parquet file → scan yields a single partition
    path = str(tmp_path / "one_group.parquet")
    spark.range(1000).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    assert df.rdd.getNumPartitions() == 1
    widened = parallelize_narrow_scan(df)
    assert (
        widened.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )
    # values survive the round-robin shuffle
    assert widened.count() == 1000


def test_parallelize_narrow_scan_noop_when_already_parallel(spark):
    from mrjob_spark.operators.partitioning import parallelize_narrow_scan

    df = spark.range(1000).repartition(64)
    # already >= defaultParallelism → returned untouched, no extra exchange
    widened = parallelize_narrow_scan(df)
    assert widened is df


def test_embedding_neardup_sub_split_drops_only_sign_disagreeing_pairs(spark):
    # sub_split_dims partitions each bucket by the sign pattern of the
    # chosen dims: pairs agreeing on every chosen sign survive with
    # identical cosines; pairs split by a chosen hyperplane disappear;
    # nothing else changes
    from pyspark.sql import Row

    from mrjob_spark.operators.dedup import embedding_neardup_pairs

    rows = [
        # same bucket, same sign on dim 1 -> kept under the split
        Row(vec_id=1, label=0, embedding=[1.0, 0.5, 0.5, 0.5]),
        Row(vec_id=2, label=0, embedding=[0.9, 0.5, 0.5, 0.5]),
        # same bucket, high cosine, but OPPOSITE sign on dim 1 -> dropped
        Row(vec_id=3, label=0, embedding=[-0.01, 1.0, 1.0, 1.0]),
        Row(vec_id=4, label=0, embedding=[0.01, 1.0, 1.0, 1.0]),
    ]
    df = spark.createDataFrame(rows)
    base = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_neardup_pairs(df, threshold=0.4).collect()
    }
    split = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_neardup_pairs(
            df, threshold=0.4, sub_split_dims=(1,)
        ).collect()
    }
    assert (1, 2) in base and (3, 4) in base
    assert (1, 2) in split and (3, 4) not in split
    assert split[(1, 2)] == base[(1, 2)]
    # every surviving pair is a base pair whose dim-1 signs agree
    assert set(split) == {
        (a, b) for (a, b) in base
        if (rows[a - 1]["embedding"][0] >= 0) == (rows[b - 1]["embedding"][0] >= 0)
    }


def test_incremental_dedup_all_three_verdicts(spark):
    # synthetic split where every branch fires: d1 duplicates history,
    # d2/d3 duplicate each other inside the batch, d4 is novel
    from mrjob_spark.operators.dedup import incremental_exact_dedup

    history = spark.createDataFrame(
        [(100, "alpha beta"), (101, "alpha beta"), (102, "gamma")],
        "doc_id bigint, text string",
    )
    batch = spark.createDataFrame(
        [(1, "Alpha  Beta"), (2, "delta"), (3, "DELTA!"), (4, "epsilon")],
        "doc_id bigint, text string",
    )
    out = {
        r["doc_id"]: (r["verdict"], r["keep_id"])
        for r in incremental_exact_dedup(
            history, batch, "text", "doc_id"
        ).collect()
    }
    # normalization folds case/punctuation/whitespace before hashing
    assert out[1] == ("dup_of_history", 100)
    assert out[2] == ("new", 2)
    assert out[3] == ("dup_in_batch", 2)
    assert out[4] == ("new", 4)


def test_signbit_band_pairs_planted_neardups(spark):
    """The high-threshold near-dup regime the parquet fixtures lack (their
    max pair cosine is 0.68): plant real near-duplicates at cosine ≥ 0.9
    in a near-orthogonal corpus and require the banded sign-bit generator
    to (a) recover ≥ 0.9 of the true ≥ 0.9 pairs, exactly scored, and
    (b) probe well under half the pair space — the sub-linear candidate
    regime ``l2_embedding_neardup_tight``'s docstring points here for."""
    import math as m
    import random as rnd_mod

    from mrjob_spark.operators.similarity import (
        add_lsh_buckets,
        signbit_band_pairs,
    )

    dim = 32
    rng = rnd_mod.Random(11)

    def unit():
        v = [rng.gauss(0, 1) for _ in range(dim)]
        n = m.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    rows = []
    for i in range(80):  # near-orthogonal base corpus
        rows.append(Row(vec_id=i, embedding=[float(x) for x in unit()]))
    for j in range(40):  # planted near-dups of the first 40 bases
        base = rows[j]["embedding"]
        v = [x + rng.gauss(0, 0.07) for x in base]
        n = m.sqrt(sum(x * x for x in v))
        rows.append(
            Row(vec_id=100 + j, embedding=[float(x / n) for x in v])
        )
    df = spark.createDataFrame(rows).cache()

    # exact truth
    import itertools

    def cos(a, b):
        return sum(x * y for x, y in zip(a, b))

    by_id = {r["vec_id"]: r["embedding"] for r in rows}
    true = {
        (a, b)
        for a, b in itertools.combinations(sorted(by_id), 2)
        if cos(by_id[a], by_id[b]) >= 0.9
    }
    assert len(true) >= 30  # the plant took

    found = {
        (r["id_a"], r["id_b"])
        for r in signbit_band_pairs(df, threshold=0.9, dim=dim).collect()
    }
    recall = len(true & found) / len(true)
    assert recall >= 0.9, f"banded sign-bit recall {recall:.2f} below floor"
    # precision is exact by construction (verify join) — found ⊆ scored ≥ 0.9
    assert all(
        cos(by_id[a], by_id[b]) >= 0.9 - 1e-6 for a, b in found
    ), "verify join leaked a below-threshold pair"

    # candidate volume: same bucketing, count distinct co-band pairs
    b = add_lsh_buckets(df, dim=dim).select(
        "vec_id", F.explode("lsh_buckets").alias("bk")
    )
    cand = (
        b.alias("x")
        .join(
            b.alias("y"),
            (F.col("x.bk") == F.col("y.bk"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .select("x.vec_id", "y.vec_id")
        .distinct()
        .count()
    )
    n = len(rows)
    all_pairs = n * (n - 1) // 2
    assert cand < 0.5 * all_pairs, (
        f"candidate volume {cand}/{all_pairs} not sub-half — banding broken"
    )


# ---------------------------------------------------------------------
# BPE merge training: third-implementation differential. The DuckDB
# oracle re-derives the merge table declaratively; this pins the
# SEMANTICS against the classic imperative algorithm (Sennrich et al.
# 2016: argmax pair by weighted count, leftmost-greedy non-overlapping
# application) written independently in plain Python.
# ---------------------------------------------------------------------


def _python_bpe(word_counts: dict, n_merges: int) -> list:
    import re

    state = {tuple(w): c for w, c in word_counts.items()}
    out = []
    for rank in range(1, n_merges + 1):
        pairs: dict = {}
        for syms, c in state.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] = (
                    pairs.get((syms[i], syms[i + 1]), 0) + c
                )
        if not pairs:
            break
        (l, r), c = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        out.append((rank, l, r, l + r, c))
        new_state: dict = {}
        for syms, cnt in state.items():
            merged, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    merged.append(l + r)
                    i += 2
                else:
                    merged.append(syms[i])
                    i += 1
            key = tuple(merged)
            new_state[key] = new_state.get(key, 0) + cnt
        state = new_state
    return out


def test_bpe_train_matches_imperative_reference(spark):
    import re

    import pyarrow.parquet as pq

    from mrjob_spark.queries import REGISTRY
    from mrjob_spark.queries.llm import _BPE_TRAIN_MERGES

    sf = "/root/testdata/sf0.001"
    texts = pq.read_table(sf + "/documents.parquet", columns=["text"])
    counts: dict = {}
    for text in texts.column("text").to_pylist():
        for w in re.split(r"[^a-z0-9']+", text.lower()):
            if w and re.fullmatch(r"[a-z]+", w):
                counts[w] = counts.get(w, 0) + 1
    expected = _python_bpe(counts, _BPE_TRAIN_MERGES)

    got = [
        (r.rank, r.left_sym, r.right_sym, r.merged, r.pair_count)
        for r in REGISTRY["l4_bpe_train"].fn(spark, sf).collect()
    ]
    assert got == expected


def test_bpe_train_scopes_cached_plan_aqe_conf(spark):
    """_train_bpe_merges enables canChangeCachedPlanOutputPartitioning
    only for its own vocab-bounded cache: the session value is restored
    on exit whatever it was before, and the merges are identical under
    either prior setting (the conf may never change results)."""
    from mrjob_spark.queries import Tables
    from mrjob_spark.queries.llm import _train_bpe_merges

    docs = Tables(spark, "/root/testdata/sf0.001").documents
    key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    by_prior = {}
    for prior in ("false", "true"):
        spark.conf.set(key, prior)
        by_prior[prior] = _train_bpe_merges(docs, 4)
        assert spark.conf.get(key) == prior
    spark.conf.unset(key)
    assert by_prior["false"] == by_prior["true"] and len(by_prior["false"]) == 4


def test_paragraph_dedup_keeps_first_occurrence_only(spark):
    """Corpus-wide CCNet rule: a paragraph shared by many docs survives
    exactly once, at the smallest (doc_id, para_idx); documents made
    entirely of seen paragraphs keep nothing."""
    from mrjob_spark.operators.dedup import paragraph_dedup

    boiler = " ".join(f"b{i}" for i in range(12))  # one full paragraph
    docs = spark.createDataFrame(
        [
            # doc 0 introduces the boilerplate (para 0) + own tail
            Row(doc_id=0, text=f"{boiler} own0a own0b own0c"),
            # doc 1 is boilerplate-only: everything already seen
            Row(doc_id=1, text=boiler),
            # doc 2 repeats the boilerplate INSIDE itself twice
            Row(doc_id=2, text=f"{boiler} {boiler}"),
            # doc 3 is all fresh
            Row(doc_id=3, text="fresh3a fresh3b fresh3c"),
        ]
    )
    got = {
        r["doc_id"]: (r["n_paras"], r["n_kept"])
        for r in paragraph_dedup(docs, "doc_id", "text", para_w=12).collect()
    }
    assert got[0] == (2, 2)   # first occurrence of boiler + own tail
    assert got[1] == (1, 0)   # pure duplicate: drops entirely
    assert got[2] == (2, 0)   # both copies lose to doc 0's
    assert got[3] == (1, 1)


def test_paragraph_dedup_position_breaks_ties_within_doc(spark):
    """When the SAME doc introduces a paragraph twice, the earlier
    position is the survivor — position, not just doc id, is part of
    the first-occurrence key."""
    from mrjob_spark.operators.dedup import paragraph_dedup

    p = " ".join(f"x{i}" for i in range(12))
    docs = spark.createDataFrame([Row(doc_id=5, text=f"{p} {p} {p}")])
    got = paragraph_dedup(docs, "doc_id", "text", para_w=12).collect()
    assert (got[0]["n_paras"], got[0]["n_kept"]) == (3, 1)


def test_product_quantized_topk_finds_planted_twin(spark, vec_corpus):
    """A vector's near-identical twin must come back as its top-1 with
    cosine ~1.0 — the ADC coarse stage cannot lose an exact duplicate
    (its codes are identical, so its approximate distance is 0)."""
    from mrjob_spark.operators.similarity import product_quantized_topk

    twin = vec_corpus.where(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding"
    )
    corpus = vec_corpus.unionByName(twin)
    res = product_quantized_topk(
        corpus, corpus.where(F.col("vec_id") == 0), k=3, dim=DIM,
        m=4, codebook_k=8, candidates=16,
    ).collect()
    top = sorted(res, key=lambda r: r["rank"])[0]
    assert top["neighbor_id"] == 1000
    assert top["cosine"] >= 0.999999


def test_product_quantized_topk_recall_on_clusters(spark, vec_corpus):
    """On well-separated clusters PQ with generous candidates recovers
    most of the exact top-k (the recall the registry query audits)."""
    from mrjob_spark.operators.similarity import (
        brute_force_topk,
        product_quantized_topk,
    )

    k = 5
    exact = brute_force_topk(vec_corpus, vec_corpus, k)
    approx = product_quantized_topk(
        vec_corpus, vec_corpus, k=k, dim=DIM, m=4, codebook_k=8,
        candidates=24,
    )
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    assert len(e & a) / len(e) >= 0.7


def test_pq_zero_norm_vector_drops_explicitly(spark, vec_corpus):
    """A zero embedding has no direction: ``cosine_similarity`` is null
    for it, so PQ must likewise never return it as a neighbor — and must
    not crash or poison other vectors' codes (round-9 ADVICE: the
    normalize divide used to null silently; now the guard is explicit)."""
    from mrjob_spark.operators.similarity import product_quantized_topk

    zero = spark.createDataFrame(
        [Row(vec_id=9999, embedding=[0.0] * DIM)]
    )
    corpus = vec_corpus.unionByName(zero)
    res = product_quantized_topk(
        corpus, vec_corpus.where(F.col("vec_id") == 0), k=5, dim=DIM,
        m=4, codebook_k=8, candidates=24,
    ).collect()
    assert len(res) == 5
    assert all(r["neighbor_id"] != 9999 for r in res)


def test_zero_vector_cosine_is_null_in_spark_and_its_sql_twin(spark):
    """A zero vector's cosine is null on both engines: Spark's guarded
    ``cosine_similarity`` and the twins' ``sql_cosine`` (DuckDB's bare
    ``list_cosine_similarity`` gives −1.0). Checked through the exact
    top-k query, whose twin ranks every neighbor's cosine."""
    import duckdb

    from mrjob_spark.queries import REGISTRY

    emb = spark.createDataFrame(
        [(1, [1.0, 2.0, 2.0], 0), (2, [0.0, 0.0, 0.0], 0),
         (3, [2.0, 1.0, 2.0], 0), (4, [-1.0, 0.5, 0.0], 0)],
        "vec_id long, embedding array<float>, label int",
    )
    got = brute_force_topk(emb, emb, k=5).select(
        "query_id", "neighbor_id", "cosine",
        F.col("rank").cast("long")).collect()
    con = duckdb.connect()
    con.register("embeddings", emb.toArrow())
    want = con.execute(REGISTRY["l3_knn_bruteforce"].sql).fetchall()
    con.close()
    assert sorted(tuple(r) for r in got) == sorted(want)
    assert sum(r[2] is None for r in want) == 6


def test_paragraph_dedup_oracle_survives_huge_and_negative_doc_ids():
    """Round-9 ADVICE: the oracle's old ``doc_id * 2^32 + para_idx``
    packed key overflowed BIGINT for doc_id >= 2^31 and misordered
    negatives. The struct-ordering oracle must attribute the canonical
    survivor exactly like Spark's ``min(struct(doc_id, para_idx))`` —
    smallest doc_id wins, even when ids are negative or beyond 2^31."""
    import duckdb

    from mrjob_spark.queries import REGISTRY

    boiler = " ".join(f"b{i}" for i in range(12))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        f"(CAST({2**31 + 7} AS BIGINT), '{boiler}'), "
        f"(CAST(-3 AS BIGINT), '{boiler}'), "
        f"(CAST(1 AS BIGINT), '{boiler}')"
        ") AS t(doc_id, text)"
    )
    got = {
        r[0]: (r[1], r[2])
        for r in con.execute(REGISTRY["l2_paragraph_dedup"].sql).fetchall()
    }
    con.close()
    # first occurrence = lexicographically smallest (doc_id, para_idx)
    assert got[-3] == (1, 1)
    assert got[1] == (1, 0)
    assert got[2**31 + 7] == (1, 0)


def test_bpe_encode_oracle_dry_merge_round_is_noop():
    """Round-9 ADVICE: with all single-char words no pair ever exists, so
    every training round is dry (``b{r}`` empty). The m-chain must carry
    the state through unchanged (LEFT JOIN + coalesce, like the v-chain)
    instead of cross-joining to empty — the Spark trainer breaks early
    and still encodes, so the oracle must too."""
    import duckdb

    from mrjob_spark.queries.llm import _bpe_encode_sql

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        "(CAST(1 AS BIGINT), 'a b c'), (CAST(2 AS BIGINT), 'a a')"
        ") AS t(doc_id, text)"
    )
    got = {r[0]: (r[1], r[2]) for r in con.execute(_bpe_encode_sql(3)).fetchall()}
    con.close()
    # no merges learnable -> every 1-char word encodes to exactly 1 token
    assert got[1] == (3, 3)
    assert got[2] == (2, 2)


def test_substring_dedup_recovers_maximal_run(spark):
    """Two docs sharing a 12-token passage, k=8: anchors at passage
    positions 0..4 chain into ONE maximal run of exactly 12 tokens in
    each doc; unique tails contribute nothing."""
    from mrjob_spark.operators.dedup import substring_dedup

    shared = " ".join(f"s{i}" for i in range(12))
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=f"{shared} u1a u1b u1c u1d u1e u1f u1g u1h"),
            Row(doc_id=2, text=f"v2a v2b v2c v2d v2e v2f v2g v2h {shared}"),
            Row(doc_id=3, text="w3a w3b w3c w3d w3e w3f w3g w3h w3i"),
        ]
    )
    got = {
        r["doc_id"]: r.asDict()
        for r in substring_dedup(docs, "doc_id", "text", k=8).collect()
    }
    assert set(got) == {1, 2}  # doc 3 has no duplicated anchor
    for d in (1, 2):
        assert got[d]["n_dup_anchors"] == 5  # positions 0..4 of the passage
        assert got[d]["n_dup_runs"] == 1
        assert got[d]["max_run_tokens"] == 12
        assert got[d]["n_dup_tokens"] == 12


def test_substring_dedup_coverage_is_union_not_sum(spark):
    """Two duplicated anchors whose k-token windows OVERLAP (5 apart,
    k=8): distinct runs, but n_dup_tokens must be the interval union —
    13 tokens — not the double-counting sum of run lengths (16)."""
    from mrjob_spark.operators.dedup import substring_dedup

    t = [f"t{i}" for i in range(13)]
    a_gram = " ".join(t[0:8])    # tokens 0..7
    b_gram = " ".join(t[5:13])   # tokens 5..12 (overlaps a_gram by 3)
    docs = spark.createDataFrame(
        [
            # doc 1: the two grams overlap in-place: dup anchors p=0, p=5
            Row(doc_id=1, text=" ".join(t)),
            # doc 2 carries both grams far apart (making each duplicated):
            # its own dup anchors p=0 and p=12 -> separate coverage
            Row(doc_id=2, text=f"{a_gram} z1 z2 z3 z4 {b_gram}"),
        ]
    )
    got = {
        r["doc_id"]: r.asDict()
        for r in substring_dedup(docs, "doc_id", "text", k=8).collect()
    }
    # doc 1: anchors {0, 5}: 5 > 0+1 -> two runs; 5 <= 0+8 -> coverage
    # merges into [0, 12]
    assert got[1]["n_dup_runs"] == 2
    assert got[1]["max_run_tokens"] == 8
    assert got[1]["n_dup_tokens"] == 13
    # doc 2: anchors {0, 12}: 12 > 0+8 -> [0,7] and [12,19] stay separate
    assert got[2]["n_dup_runs"] == 2
    assert got[2]["n_dup_tokens"] == 16


def test_substring_dedup_df_cap_excludes_boilerplate(spark):
    """With max_shingle_df=2, a shingle occurring 3 times corpus-wide is
    boilerplate: excluded from the dup signal entirely."""
    from mrjob_spark.operators.dedup import substring_dedup

    boiler = " ".join(f"c{i}" for i in range(8))
    pairish = " ".join(f"d{i}" for i in range(8))
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=f"{boiler} x1 {pairish}"),
            Row(doc_id=2, text=f"{boiler} x2 {pairish}"),
            Row(doc_id=3, text=boiler),
        ]
    )
    got = {
        r["doc_id"]: r.asDict()
        for r in substring_dedup(
            docs, "doc_id", "text", k=8, max_shingle_df=2
        ).collect()
    }
    # boiler occurs 3x -> capped out; pairish occurs 2x -> counts
    assert set(got) == {1, 2}
    for d in (1, 2):
        assert got[d]["n_dup_anchors"] == 1
        assert got[d]["max_run_tokens"] == 8


def test_ivf_pq_finds_planted_twin(spark, vec_corpus):
    """IVFADC cannot lose an exact duplicate: identical vectors share a
    cell (same distances to every centroid, (dist, cluster) tie-break)
    and identical codes, so the twin must come back as top-1."""
    from mrjob_spark.operators.similarity import ivf_product_quantized_topk

    twin = vec_corpus.where(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding"
    )
    corpus = vec_corpus.unionByName(twin)
    res = ivf_product_quantized_topk(
        corpus, corpus.where(F.col("vec_id") == 0), k=3, dim=DIM,
        n_cells=4, probe=2, m=4, codebook_k=8, candidates=16,
    ).collect()
    top = sorted(res, key=lambda r: r["rank"])[0]
    assert top["neighbor_id"] == 1000
    assert top["cosine"] >= 0.999999


def test_ivf_pq_recall_on_clusters(spark, vec_corpus):
    """On well-separated clusters the composed index with generous
    probe/candidates recovers most of the exact top-k — the floor the
    registry query audits, here at operator level."""
    from mrjob_spark.operators.similarity import (
        brute_force_topk,
        ivf_product_quantized_topk,
    )

    k = 5
    exact = brute_force_topk(vec_corpus, vec_corpus, k)
    approx = ivf_product_quantized_topk(
        vec_corpus, vec_corpus, k=k, dim=DIM, n_cells=4, probe=2, m=4,
        codebook_k=8, candidates=24,
    )
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    assert len(e & a) / len(e) >= 0.6


def test_substring_dedup_clean_keeps_first_occurrence(spark):
    """Removal form: the corpus-wide first occurrence of a duplicated
    run keeps its text (no removal row / no counted anchors); every
    later copy is marked with the exact token span to strip."""
    from mrjob_spark.operators.dedup import substring_dedup_clean

    shared = " ".join(f"s{i}" for i in range(12))
    docs = spark.createDataFrame(
        [
            # doc 1 owns the first occurrence at p=0
            Row(doc_id=1, text=f"{shared} u1a u1b u1c u1d u1e u1f u1g u1h"),
            # doc 2 repeats it (removal: 5 anchors chain to a 12-token run)
            Row(doc_id=2, text=f"v2a v2b v2c v2d v2e v2f v2g v2h {shared}"),
            # doc 3 is all fresh
            Row(doc_id=3, text="w3a w3b w3c w3d w3e w3f w3g w3h w3i"),
        ]
    )
    got = {
        r["doc_id"]: r.asDict()
        for r in substring_dedup_clean(docs, "doc_id", "text", k=8).collect()
    }
    assert set(got) == {2}  # doc 1 keeps everything; doc 3 has no dups
    assert got[2]["n_rm_anchors"] == 5
    assert got[2]["n_rm_runs"] == 1
    assert got[2]["max_rm_run_tokens"] == 12
    assert got[2]["n_rm_tokens"] == 12


def test_substring_dedup_clean_within_doc_repeat_keeps_earliest(spark):
    """A doc repeating a passage internally keeps the EARLIEST copy —
    position is part of the first-occurrence key, like paragraph
    dedup's tie-break."""
    from mrjob_spark.operators.dedup import substring_dedup_clean

    blk = " ".join(f"x{i}" for i in range(8))
    filler = " ".join(f"f{i}" for i in range(8))
    docs = spark.createDataFrame(
        [Row(doc_id=7, text=f"{blk} {filler} {blk}")]
    )
    got = substring_dedup_clean(docs, "doc_id", "text", k=8).collect()
    assert len(got) == 1
    r = got[0].asDict()
    # only the SECOND copy (anchor p=16) is removable: 1 anchor, 8 tokens
    assert (r["n_rm_anchors"], r["n_rm_runs"],
            r["max_rm_run_tokens"], r["n_rm_tokens"]) == (1, 1, 8, 8)


# ---------------------------------------------------------------------------
# arrow_cosine_verify: the round-12 Arrow-vectorized verify tail must be
# BIT-IDENTICAL to the zip_with/aggregate fold it replaced (same IEEE-754
# operation sequence), with the inner-join drop semantics of the old shape.
# ---------------------------------------------------------------------------


def _fold_cosine_reference(cand, emb, threshold):
    """The pre-round-12 verify shape: join both vectors to every pair and
    score with the sequential zip_with/aggregate fold."""
    from mrjob_spark.functions.rounding import rnd
    from mrjob_spark.functions.vectors import dot, l2_norm

    ea = emb.select(
        F.col("vec_id").alias("_ia"),
        F.col("embedding").alias("_va"),
        l2_norm(F.col("embedding")).alias("_na"),
    )
    eb = emb.select(
        F.col("vec_id").alias("_ib"),
        F.col("embedding").alias("_vb"),
        l2_norm(F.col("embedding")).alias("_nb"),
    )
    cosine = dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb"))
    return (
        cand.join(ea, F.col("id_a") == F.col("_ia"))
        .join(eb, F.col("id_b") == F.col("_ib"))
        .select("id_a", "id_b", rnd(cosine, 6).alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def test_arrow_cosine_verify_bit_identical_to_fold(spark, vec_corpus):
    from mrjob_spark.operators.similarity import arrow_cosine_verify

    # all pairs of the 64-vector corpus, plus pairs naming a missing id
    # (must drop, like the inner join) — threshold -2 keeps every real
    # pair so every cosine value is compared bit-for-bit
    ids = [r.vec_id for r in vec_corpus.select("vec_id").collect()]
    pairs = [(a, b) for a in ids for b in ids if a < b]
    pairs += [(0, 10_000), (10_000, 1)]  # ids absent from the corpus
    cand = spark.createDataFrame(pairs, "id_a long, id_b long")

    got = arrow_cosine_verify(cand, vec_corpus, threshold=-2.0, dim=DIM)
    want = _fold_cosine_reference(cand, vec_corpus, threshold=-2.0)
    g = sorted(map(tuple, got.collect()))
    w = sorted(map(tuple, want.collect()))
    assert len(g) == len(pairs) - 2
    assert g == w  # bit-identical cosines, same surviving pairs

    # thresholded form agrees too (the production call shape)
    g5 = sorted(map(tuple, arrow_cosine_verify(
        cand, vec_corpus, 0.5, dim=DIM).collect()))
    w5 = sorted(map(tuple, _fold_cosine_reference(cand, vec_corpus, 0.5).collect()))
    assert g5 == w5 and g5  # non-degenerate: clustered fixture has >=0.5 pairs


def test_lsh_bucket_rows_bit_identical_to_expression_form(spark, vec_corpus):
    """The Arrow bucketing pass must produce exactly the bucket ids of the
    add_lsh_buckets column-math form — same md5 planes, same sequential
    dot order, same sign/bit packing."""
    from mrjob_spark.operators.similarity import (
        _lsh_bucket_rows,
        add_lsh_buckets,
    )

    old = (
        add_lsh_buckets(vec_corpus, DIM, n_planes=4, n_tables=8,
                        vec_col="embedding")
        .select("vec_id", F.explode("lsh_buckets").alias("b"))
    )
    new = _lsh_bucket_rows(
        vec_corpus, DIM, 4, 8, "vec_id", "embedding", "vec_id", "b"
    )
    assert sorted(map(tuple, old.collect())) == \
        sorted(map(tuple, new.collect()))


def test_arrow_cosine_verify_keeps_well_formed_pairs_in_ragged_group(spark):
    """Malformed-row guard (round 13): one deviant-length vector must
    drop ONLY its own pairs — the old guard returned an empty table for
    the whole cogroup, silently discarding every well-formed pair that
    shared a group with one bad row."""
    from pyspark.sql import Row

    from mrjob_spark.operators.similarity import arrow_cosine_verify

    emb = spark.createDataFrame([
        Row(vec_id=1, embedding=[1.0, 0.0, 0.0]),
        Row(vec_id=2, embedding=[1.0, 0.0, 0.0]),
        Row(vec_id=3, embedding=[0.5, 0.5]),  # deviant dimension
    ])
    cand = spark.createDataFrame(
        [Row(id_a=1, id_b=2), Row(id_a=1, id_b=3)]
    )
    # force everything into ONE group so the bad row shares the cogroup
    got = arrow_cosine_verify(
        cand, emb, threshold=-2.0, dim=3, groups=1
    ).collect()
    pairs = {(r["id_a"], r["id_b"]): r["cosine"] for r in got}
    assert pairs == {(1, 2): 1.0}  # (1,3) dropped, (1,2) survives


def test_arrow_cosine_verify_dimension_is_the_callers_not_the_majority(
        spark):
    """The caller's ``dim`` is authoritative: when wrong-dimension rows
    outnumber the well-formed ones in a cogroup, a majority vote would
    score the bad rows and drop the good pair."""
    from pyspark.sql import Row

    from mrjob_spark.operators.similarity import arrow_cosine_verify

    emb = spark.createDataFrame([
        Row(vec_id=1, embedding=[1.0, 0.0, 0.0]),
        Row(vec_id=2, embedding=[1.0, 0.0, 0.0]),
        Row(vec_id=3, embedding=[0.5, 0.5]),  # three wrong-dimension rows
        Row(vec_id=4, embedding=[0.5, 0.5]),
        Row(vec_id=5, embedding=[0.6, 0.4]),
    ])
    cand = spark.createDataFrame(
        [Row(id_a=a, id_b=b)
         for a, b in [(1, 2), (1, 3), (3, 4), (3, 5), (4, 5)]]
    )
    got = arrow_cosine_verify(
        cand, emb, threshold=-2.0, dim=3, groups=1
    ).collect()
    assert {(r["id_a"], r["id_b"]): r["cosine"] for r in got} == {(1, 2): 1.0}


def test_assign_cells_drops_null_and_ragged_vectors(spark):
    """Malformed-row guard (round 13): null / wrong-dimension embeddings
    are excluded from assignment instead of failing the whole job at the
    Arrow reshape."""
    from pyspark.sql import Row

    from mrjob_spark.operators.clustering import (
        _centroids_df,
        assign_cells,
    )

    emb = spark.createDataFrame(
        [
            Row(vec_id=1, embedding=[1.0, 0.0]),
            Row(vec_id=2, embedding=None),
            Row(vec_id=3, embedding=[1.0, 0.0, 0.0]),  # wrong dim
            Row(vec_id=4, embedding=[0.0, 1.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    cents = _centroids_df(spark, [(0, [1000, 0]), (1, [0, 1000])])
    got = {r["vec_id"]: r["cluster"]
           for r in assign_cells(emb, cents, probe=1).collect()}
    assert got == {1: 0, 4: 1}


def test_assign_cells_reads_its_centroid_table_without_a_job(spark):
    """The centroid table is a driver-local frame: ``assign_cells``
    collects it back on every call (twice per admission micro-batch),
    and that read must start no Spark job."""
    from mrjob_spark.operators.clustering import _centroids_df, assign_cells

    emb = spark.createDataFrame(
        [Row(vec_id=1, embedding=[1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    cents = _centroids_df(
        spark, [(c, [c * 10, 1000 - c]) for c in range(16)]
    )
    sc = spark.sparkContext
    sc.setJobGroup("assign_cells_centroid_read", "centroid read")
    try:
        assign_cells(emb, cents, probe=2)  # lazy apart from the read
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup("assign_cells_centroid_read")
    assert list(jobs) == []


@pytest.mark.parametrize("auto_resolve", ["true", "false"])
def test_ivf_admission_in_batch_join_matches_cells_not_names(
        spark, auto_resolve):
    """Two cosine-close arrivals whose rank-1 cells differ are both
    ``new`` at probe=1: the in-batch join matches a later arrival's
    probed cell against an earlier arrival's OCCUPIED cell. Both sides
    derive from one frame, so a ``cluster == cluster`` condition is
    trivially true and only Spark's self-join auto-resolution by name
    made it right; with that resolution off, it matched across cells."""
    from mrjob_spark.operators.clustering import _centroids_df
    from mrjob_spark.operators.dedup import ivf_embedding_admission

    cents = _centroids_df(spark, [(0, [1000, 0]), (1, [0, 1000])])
    arrivals = spark.createDataFrame(
        [(1, [1.0, 0.8]), (2, [0.8, 1.0])],  # cosine 0.98, cells 0 and 1
        "vec_id long, embedding array<float>",
    )
    index = spark.createDataFrame(
        [], "cluster long, vec_id long, embedding array<float>")
    key = "spark.sql.selfJoinAutoResolveAmbiguity"
    old = spark.conf.get(key)
    spark.conf.set(key, auto_resolve)
    try:
        got = {
            r["vec_id"]: r["verdict"]
            for r in ivf_embedding_admission(
                arrivals, index, cents, probe=1, threshold=0.4).collect()
        }
    finally:
        spark.conf.set(key, old)
    assert got == {1: "new", 2: "new"}


def test_only_local_frame_builds_driver_tables():
    """One mechanism for driver-built tables: operators and streaming
    bodies build them through ``sources.local_frame`` (a LocalRelation:
    no job to read or broadcast), never ``createDataFrame`` over Python
    rows (a Python-RDD scan whose every read is a job)."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "mrjob_spark"
    offenders = []
    for sub in ("operators", "streaming"):
        for path in sorted((pkg / sub).rglob("*.py")):
            for node in ast.walk(ast.parse(path.read_text())):
                if (isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr == "createDataFrame"):
                    rel = path.relative_to(pkg).as_posix()
                    offenders.append(f"{rel}:{node.lineno}")
    assert offenders == []


# ---------------------------------------------------------------------------
# materialization lifecycle: every persist/checkpoint goes through
# mrjob_spark.materialize, and a scope frees all of it
# ---------------------------------------------------------------------------


def _persistent_rdd_ids(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _cache_manager_empty(spark):
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize("name", [
    "l1_dedup_clusters",
    "l1_dedup_clusters_capped",
    "l10_ccnet_clean",
    "l4_bpe_train",
    "st12_incremental_neardup",
    "st13_incremental_embedding_neardup",
    "l2_minhash_lsh_pairs",
])
def test_scope_frees_every_intermediate_of_a_query(
        spark, sf_dir, name, monkeypatch):
    """Build and noop-write a registry query inside one scope: on exit no
    persisted RDD or CacheManager entry of its own is left behind,
    checkpoint generations included. The pair and clustering queries are
    forced onto the distributed paths of the pair operator and of
    connected components, the ones that persist and checkpoint (their
    fixtures sit far under both driver bounds)."""
    from mrjob_spark import queries
    from mrjob_spark.materialize import scope

    if name.startswith(("l1_dedup_clusters", "l2_minhash_lsh")):
        monkeypatch.setattr(dedup, "_DRIVER_DOCS", 0)
    if name.startswith("l1_dedup_clusters"):
        monkeypatch.setattr(graph, "_DRIVER_EDGES", 0)

    spark.catalog.clearCache()
    before = _persistent_rdd_ids(spark)
    with scope():
        queries.queries()[name](spark, sf_dir).write.format(
            "noop").mode("overwrite").save()
    assert _persistent_rdd_ids(spark) - before == set()
    assert _cache_manager_empty(spark)


def test_nested_scopes_free_inner_frames_at_inner_exit(spark):
    from mrjob_spark.materialize import (
        LOCAL_CHECKPOINT,
        materialize,
        scope,
    )

    df = spark.range(20)
    spark.catalog.clearCache()
    before = _persistent_rdd_ids(spark)
    with scope():
        outer = materialize(df.where("id % 2 = 0"), eager=True)
        outer_ck = materialize(df.where("id > 3"), LOCAL_CHECKPOINT, eager=True)
        live = _persistent_rdd_ids(spark) - before
        with scope():
            inner = materialize(df.where("id % 3 = 0"), eager=True)
            materialize(df.where("id > 5"), LOCAL_CHECKPOINT, eager=True)
            assert inner.is_cached
        # the inner frames are gone, the outer ones are untouched
        assert not inner.is_cached
        assert outer.is_cached
        assert _persistent_rdd_ids(spark) - before == live
        assert outer.count() == 10 and outer_ck.count() == 16
    assert not outer.is_cached
    assert _persistent_rdd_ids(spark) - before == set()
    assert _cache_manager_empty(spark)


def test_materialize_without_scope_leaves_the_caller_owning_the_frame(spark):
    from mrjob_spark.materialize import materialize, release

    df = materialize(spark.range(7).where("id > 1"))
    assert df.is_cached
    release(df)
    release(df)  # a second release is a no-op
    assert not df.is_cached


def test_only_materialize_persists_or_checkpoints():
    """One mechanism per concern: outside mrjob_spark/materialize.py the
    package calls no persist / checkpoint / unpersist of its own. The
    one exception is the job runner's result, which lives as long as
    the runner (released by its ``__exit__``)."""
    import ast
    import pathlib

    banned = {"persist", "localCheckpoint", "checkpoint", "unpersist"}
    pkg = pathlib.Path(__file__).resolve().parent.parent / "mrjob_spark"
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        if rel == "materialize.py":
            continue
        src = path.read_text()
        lines = src.splitlines()
        for node in ast.walk(ast.parse(src)):
            if not (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in banned):
                continue
            if (rel == "dataflow/runner.py"
                    and "self._cached" in lines[node.lineno - 1]):
                continue
            offenders.append(f"{rel}:{node.lineno} .{node.func.attr}(")
    assert offenders == []
