"""Composite TPC-H-shape workloads, part 2 (rounds up the q-series).

The fixture schema lacks ``partsupp`` and the commit/receipt-date and
shipmode/container columns, so each query here is the *shape* of its TPC-H
namesake adapted to the columns that exist — the planner pattern each one
exercises (noted per query) is the point, not benchmark-kit fidelity.

Like the q3/q5/q7/q10/q14/q18 composites in ``relational.py``: every filter
is written pre-join so it reaches the parquet scan, fixed-cardinality dims
carry explicit ``broadcast()`` hints, float aggregates accumulate in
DECIMAL(38,6) (order-independent, engine-identical) via ``dsum``/``davg``,
and outputs round through the portable ``rnd`` helper.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mrjob_spark.functions.rounding import davg, dsum, rnd
from mrjob_spark.queries import Tables, query


@query(
    "q4_order_priority",
    sql="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-04-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark, sf_dir):
    """TPC-H Q4 shape — priority-bucket counts of one quarter's orders that
    have at least one matching lineitem (returnflag stands in for the
    missing commit/receipt dates). The planner pattern: EXISTS compiles to
    a LEFT SEMI join, so each order is emitted at most once with no
    post-join dedup, and both the date window and the flag filter sit
    below the join where the scans prune them. At 100 TB the semi-join's
    build side is lineitem *after* its filter — never the raw fact."""
    t = Tables(spark, sf_dir)
    orders = t.orders.where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    returned = t.lineitem.where(F.col("l_returnflag") == "R").select("l_orderkey")
    return (
        orders.join(returned, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "q6_forecast_revenue",
    sql="""
    SELECT (floor((CAST(sum(CAST((l_extendedprice * l_discount) AS DECIMAL(38,6))) AS DOUBLE)) * 100 + 0.5) / 100) AS revenue
    FROM lineitem
    WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 shape — the pure-scan revenue forecast: three conjunctive
    predicates, no join, one output row. The whole query must collapse to
    a single pass over pruned row groups: every predicate reaches
    PushedFilters, only four columns are read, and the aggregate is
    partial+final with a one-row shuffle. This is the query where scan
    efficiency IS the query — at 100 TB anything short of full pushdown
    multiplies bytes read."""
    t = Tables(spark, sf_dir)
    return (
        t.lineitem.where(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            rnd(dsum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            )
        )
    )


@query(
    "q8_market_share",
    sql="""
    SELECT o_year,
           (floor((CAST(sum(CAST(CASE WHEN nation = 'NATION_1' THEN volume ELSE 0 END AS DECIMAL(38,6))) AS DOUBLE)
                   / CAST(sum(CAST(volume AS DECIMAL(38,6))) AS DOUBLE)) * 1000000 + 0.5) / 1000000) AS mkt_share
    FROM (
        SELECT year(o_orderdate) AS o_year,
               l_extendedprice * (1 - l_discount) AS volume,
               n2.n_name AS nation
        FROM part
        JOIN lineitem ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region   ON n1.n_regionkey = r_regionkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        WHERE r_name = 'ASIA'
          AND o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'
          AND p_type = 'PROMO'
    ) all_nations
    GROUP BY o_year
    """,
)
def q8_market_share(spark, sf_dir):
    """TPC-H Q8 shape — one supplier nation's share of a region's promo
    market by year: an eight-table join (nation twice) reduced to a ratio
    of two conditional sums. The planner pattern: the region filter prunes
    customers through two broadcast dims BEFORE the fact joins, the
    p_type filter shrinks part before it touches lineitem, and the
    supplier-nation name arrives via a second broadcast of nation under a
    different key — no post-join disjunction, no re-aggregation. Both
    sums accumulate in DECIMAL(38,6) so the share is bit-identical.

    Scale policy (VERDICT r6 task 2 — the q9/q12 rule): only the BOUNDED
    dims carry explicit broadcast hints (nation⨝region, nation, filtered
    part — fixed-cardinality at any corpus size, so the hints are
    scale-true and estimator drift can't flip them). The fact-sized sides
    (orders, customer, supplier) are deliberately HINT-FREE: AQE picks
    their join strategy from runtime sizes, so the same query text runs
    the fixtures (where it may well broadcast) and a 100 TB deployment
    (where forcing a fact broadcast would OOM every executor) unchanged.
    What the plan test pins instead is the part that survives scale-up:
    filters reach the scans below every join, and no cartesian appears."""
    t = Tables(spark, sf_dir)
    asia_cust_nations = F.broadcast(
        t.nation.join(
            F.broadcast(t.region), F.col("n_regionkey") == F.col("r_regionkey")
        )
        .where(F.col("r_name") == "ASIA")
        .select(F.col("n_nationkey").alias("cn_key"))
    )
    supp_nation = F.broadcast(
        t.nation.select(
            F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("nation")
        )
    )
    promo_parts = F.broadcast(
        t.part.where(F.col("p_type") == "PROMO").select("p_partkey")
    )
    orders = t.orders.where(
        F.col("o_orderdate").between("1995-01-01", "1996-12-31")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        t.lineitem.join(promo_parts, F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t.customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(asia_cust_nations, F.col("c_nationkey") == F.col("cn_key"))
        .join(t.supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(supp_nation, F.col("s_nationkey") == F.col("sn_key"))
        .withColumn("o_year", F.year("o_orderdate").cast("long"))
        .groupBy("o_year")
        .agg(
            rnd(
                dsum(F.when(F.col("nation") == "NATION_1", vol).otherwise(F.lit(0.0)))
                / dsum(vol),
                6,
            ).alias("mkt_share")
        )
    )


@query(
    "q13_customer_distribution",
    sql="""
    SELECT c_count, count(*) AS custdist
    FROM (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer
        LEFT OUTER JOIN orders
          ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    """,
)
def q13_customer_distribution(spark, sf_dir):
    """TPC-H Q13 shape — the distribution of order counts per customer,
    zero-order customers included. The planner pattern: the priority
    predicate lives in the JOIN CONDITION, not a WHERE (a WHERE would
    silently turn the outer join inner and drop the zero bucket), and the
    two-level aggregate's first level counts the nullable join-side key so
    unmatched customers count 0. Both aggregations are partial+final; the
    second one's key space (distinct counts) is tiny."""
    t = Tables(spark, sf_dir)
    joined = t.customer.join(
        t.orders,
        (F.col("c_custkey") == F.col("o_custkey"))
        & (F.col("o_orderpriority") != "1-URGENT"),
        "left",
    )
    return (
        joined.groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


@query(
    "q15_top_supplier",
    sql="""
    WITH revenue AS (
        SELECT l_suppkey,
               (floor((CAST(sum(CAST((l_extendedprice * (1 - l_discount)) AS DECIMAL(38,6))) AS DOUBLE)) * 100 + 0.5) / 100) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier
    JOIN revenue ON s_suppkey = l_suppkey
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
)
def q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape — the supplier(s) with the maximum quarterly
    revenue. The planner pattern: lineitem is scanned and aggregated
    exactly ONCE; the max arrives as a global window over the
    already-aggregated revenue table (bounded: one row per supplier in
    the quarter, never fact-sized). The max arrives as a one-row scalar
    aggregate broadcast back against the revenue table (the q22
    pattern, r3 verdict fix): both branches hang off the SAME revenue
    aggregate, so its shuffle is computed once and reused
    (ReusedExchange) — single fact scan, and no unpartitioned WindowExec
    funneling the per-supplier table through one task. Revenue is
    rounded to cents BEFORE max/equality — on decimal-exact sums both
    engines hold bit-identical doubles, making float equality safe
    (ties all surface, deterministically)."""
    t = Tables(spark, sf_dir)
    revenue = (
        t.lineitem.where(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1996-04-01")
            # explicit, though vacuous on this data: the supplier join infers
            # isnotnull(l_suppkey) on ONE branch only, which would break the
            # canonical subtree equality that AQE stage reuse keys on
            & F.col("l_suppkey").isNotNull()
        )
        .groupBy("l_suppkey")
        .agg(
            rnd(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "total_revenue"
            )
        )
    )
    mx = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        revenue.join(
            F.broadcast(mx), F.col("total_revenue") == F.col("max_revenue")
        )
        .join(F.broadcast(t.supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "q17_small_quantity_revenue",
    sql="""
    SELECT (floor((CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) / 7.0) * 100 + 0.5) / 100) AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN (
        SELECT l_partkey AS t_partkey,
               0.2 * (CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) / count(l_quantity)) AS qty_thresh
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#1'
        GROUP BY l_partkey
    ) t ON t_partkey = l_partkey
    WHERE p_brand = 'Brand#1' AND l_quantity < qty_thresh
    """,
)
def q17_small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17 shape — revenue that would vanish without small-quantity
    orders of one brand: each lineitem compared against 20% of ITS part's
    average quantity. The planner pattern: the correlated subquery is
    decorrelated into one per-partkey aggregate joined back, and — the
    scale-critical step — the brand filter semi-reduces lineitem BEFORE
    the threshold aggregate, so the per-key average is computed only over
    the ~1/25 of the fact that can survive (per-partkey averages are
    unchanged by the restriction; the oracle SQL applies the same
    reduction). Thresholds come from decimal-exact sums so the strict
    inequality can't flip boundary rows between engines."""
    t = Tables(spark, sf_dir)
    brand_parts = F.broadcast(
        t.part.where(F.col("p_brand") == "Brand#1").select("p_partkey")
    )
    li_brand = t.lineitem.join(
        brand_parts, F.col("l_partkey") == F.col("p_partkey")
    ).select("l_partkey", "l_quantity", "l_extendedprice")
    thresh = (
        li_brand.groupBy(F.col("l_partkey").alias("t_partkey"))
        .agg((F.lit(0.2) * davg("l_quantity")).alias("qty_thresh"))
    )
    return (
        li_brand.join(thresh, F.col("l_partkey") == F.col("t_partkey"))
        .where(F.col("l_quantity") < F.col("qty_thresh"))
        .agg(rnd(dsum("l_extendedprice") / F.lit(7.0), 2).alias("avg_yearly"))
    )


@query(
    "q19_disjunctive_join",
    sql="""
    SELECT (floor((CAST(sum(CAST((l_extendedprice * (1 - l_discount)) AS DECIMAL(38,6))) AS DOUBLE)) * 100 + 0.5) / 100) AS revenue
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive_join(spark, sf_dir):
    """TPC-H Q19 shape — an OR of brand/size/quantity conjunctions spanning
    both join sides. The planner trap: evaluated only post-join, the
    disjunction forces the full fact-dim join first. The fix is writing
    the per-side weakenings explicitly — brand IN (…) AND size ≤ 35 on
    part, quantity BETWEEN 1 AND 30 on lineitem — so both scans prune
    (they are implied by the disjunction, and Spark's constraint
    propagation does not derive them across a join). The exact disjunction
    then runs as the residual filter on the (broadcast) join output."""
    t = Tables(spark, sf_dir)
    part = F.broadcast(
        t.part.where(
            F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3")
            & (F.col("p_size") >= 1)
            & (F.col("p_size") <= 35)
        ).select("p_partkey", "p_brand", "p_size")
    )
    li = t.lineitem.where(F.col("l_quantity").between(1, 30)).select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    case = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .where(case)
        .agg(
            rnd(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


@query(
    "q22_sales_opportunity",
    sql="""
    WITH avg_bal AS (
        SELECT (CAST(sum(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) / count(c_acctbal)) AS a
        FROM customer WHERE c_acctbal > 0.0
    )
    SELECT right(c_name, 2) AS cntrycode,
           count(*) AS numcust,
           (floor((CAST(sum(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE)) * 100 + 0.5) / 100) AS totacctbal
    FROM customer
    WHERE c_acctbal > (SELECT a FROM avg_bal)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT'
                        AND o_orderdate >= DATE '1999-01-01')
    GROUP BY right(c_name, 2)
    """,
)
def q22_sales_opportunity(spark, sf_dir):
    """TPC-H Q22 shape — above-average-balance customers with no recent
    urgent orders, bucketed by a name-derived code (the fixture has no
    phone column, and every customer has SOME order, so the anti-join
    side carries the selective predicate that makes it non-trivial).
    Three planner patterns in one query: an uncorrelated scalar aggregate
    delivered as a one-row broadcast (not recomputed per row), NOT EXISTS
    compiled to a LEFT ANTI join whose build side is orders AFTER its
    filters (priority + date prune at the scan), and the final aggregate
    keyed on a derived expression. The average is a decimal-exact
    sum/count so the balance cut is engine-identical."""
    t = Tables(spark, sf_dir)
    avg_bal = (
        t.customer.where(F.col("c_acctbal") > 0.0)
        .agg(davg("c_acctbal").alias("a"))
    )
    return (
        t.customer.join(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("a"))
        .join(
            t.orders.where(
                (F.col("o_orderpriority") == "1-URGENT")
                & (F.col("o_orderdate") >= "1999-01-01")
            ).select("o_custkey"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .groupBy(F.expr("right(c_name, 2)").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            rnd(dsum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


# registered after llm.py (queries/__init__ import order), so the
# relational classifier's oracle SQL is reusable verbatim — one spec,
# two engines
from pyspark.sql import types as T  # noqa: E402
from mrjob_spark.queries import REGISTRY as _REG  # noqa: E402

_CLASSIFIER_SQL = _REG["l5_text_classifier"].sql


@query("mr_text_classifier", sql=_CLASSIFIER_SQL)
def mr_text_classifier(spark, sf_dir):
    """The reference's flagship example (``mr_text_classifier.py``) run as
    a REAL two-job dataflow deployment inside one checked query: the train
    job aggregates naive-Bayes statistics through the MR engine (tagged
    keys, combiners) and writes a model file; the scoring job ships that
    file to every task as a file arg, loads it in ``mapper_init``, and
    classifies map-side. Shares the relational ``l5_text_classifier``'s
    oracle SQL verbatim — the driver's hash match proves an entire
    MapReduce train→side-file→score pipeline agrees with the Spark/DuckDB
    relational form document for document (the scoring math replicates
    the same portable rounding; see MRScoreNaiveBayes). Scale: training
    is one combiner-compressed shuffle; scoring is zero-shuffle map-side
    against the broadcast model — the same plan shape as the relational
    twin, expressed in the other engine."""
    import os

    from mrjob_spark.dataflow.examples import (
        MRScoreNaiveBayes,
        MRTrainNaiveBayes,
    )
    from mrjob_spark.operators.partitioning import parallelize_narrow_scan

    t = Tables(spark, sf_dir)
    docs = parallelize_narrow_scan(
        t.documents.select("doc_id", "lang", "text")
    ).rdd.map(
        lambda r: (
            None,
            f"{r.doc_id}\t{r.lang}\t"
            + r.text.replace("\n", " ").replace("\t", " "),
        )
    )

    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    model_dir = f"/tmp/mrjob_spark_nb/{tag}/{os.getpid()}/model"
    import shutil

    shutil.rmtree(model_dir, ignore_errors=True)
    MRTrainNaiveBayes().make_runner(
        spark, input_rdd=docs, output_dir=model_dir, max_output_files=1
    ).run()
    model_file = os.path.join(model_dir, "part-00000")

    scorer = MRScoreNaiveBayes()
    scorer._load_options(["--no-conf", "--model", model_file])
    runner = scorer.make_runner(spark, input_rdd=docs)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("pred_lang", T.StringType()),
        ]
    )
    return runner.to_dataframe(schema, row_fn=lambda k, v: (k, v[0], v[1]))


# ---------------------------------------------------------------------------
# X6 script form, driver-checked (VERDICT r4 task 6): SparkScriptStep was
# the only X6/X7-family member living in tests alone because of
# spark-submit cold-start cost; this query prices that cost honestly as a
# bench entry instead of exempting it. One script submission per run.
# ---------------------------------------------------------------------------

from mrjob_spark.queries.dataflow_queries import (  # noqa: E402
    _WORDS_SQL,
    _doc_lines,
)


@query(
    "x6_spark_script",
    sql=f"""
    SELECT upper(word) AS word, CAST(count(*) AS BIGINT) AS cnt
    FROM ({_WORDS_SQL}) GROUP BY upper(word)
    """,
)
def x6_spark_script(spark, sf_dir):
    """X6 external-script form (``mrjob/step.py:517-571``): wordcount → a
    standalone pyspark script submitted via ``spark-submit`` as its OWN
    application (uppercasing the INTERNAL-encoded stream over materialized
    step IO) → a reducer re-aggregating on the uppercased keys. Same
    oracle as ``x7_jar_step`` — upper() is injective on lowercase tokens.
    The spark-submit JVM+session cold start dominates the wall time; that
    is the true cost of the reference's script-step deployment shape and
    is deliberately visible in the bench rather than exempted."""
    import os
    import tempfile

    from mrjob_spark.dataflow.examples import (
        MRWordFreqScriptUpper,
        UPPERCASE_LINES_PYSPARK,
    )

    t = Tables(spark, sf_dir)
    scratch = os.path.join(
        tempfile.gettempdir(), f"mrjob_spark_script_{os.getpid()}"
    )
    os.makedirs(scratch, exist_ok=True)
    script = os.path.join(scratch, "upper_lines.py")
    with open(script, "w") as fh:
        fh.write(UPPERCASE_LINES_PYSPARK)

    runner = MRWordFreqScriptUpper(script).make_runner(
        spark, input_rdd=_doc_lines(t)
    )
    schema = T.StructType(
        [
            T.StructField("word", T.StringType()),
            T.StructField("cnt", T.LongType()),
        ]
    )
    return runner.to_dataframe(schema)


# ---------------------------------------------------------------------------
# L2 hot-bucket cap (round 5): the sf1 scaling run exposed uncapped LSH
# candidate generation as the registry's one super-linear operator —
# 10× docs → 113× candidate-pair slots on this data family (hot buckets
# up to 3,363 docs; SCALE.md §10). The cap is the production guard.
# Registered here, appended last, to keep bench positions comparable.
# ---------------------------------------------------------------------------

from mrjob_spark.operators.dedup import (  # noqa: E402
    minhash_lsh_pairs,
    sql_minhash_lsh_pairs,
)


@query(
    "l2_minhash_lsh_capped",
    sql=sql_minhash_lsh_pairs(threshold=0.6, max_bucket_size=32),
)
def l2_minhash_lsh_capped(spark, sf_dir):
    """L2 MinHash-LSH with the hot-bucket cutoff (``max_bucket_size=32``):
    buckets holding more than 32 docs are dropped from candidate
    generation, bounding per-bucket pair work at 32²/2 — the guard that
    keeps LSH linear when a boilerplate/template family floods a bucket
    (the same regime ``l2_span_dedup_capped`` guards for spans). Exact
    Jaccard verification over the surviving candidates is unchanged, and
    the oracle applies the identical cutoff (HAVING count(*) <= 32), so a
    divergence in WHICH buckets are dropped flips the driver hash.
    Reference parity: mrjob has no LSH; this is the scale path the
    100 TB dedup contract requires (run exact dedup first, cap buckets).
    Both regimes of the operator apply the cap: the driver path (up to
    ``dedup._DRIVER_DOCS`` documents) and the distributed plan."""
    t = Tables(spark, sf_dir)
    return minhash_lsh_pairs(
        t.documents, "doc_id", "text", threshold=0.6, max_bucket_size=32
    )


# ---------------------------------------------------------------------------
# Round 5: the remaining TPC-H shapes (Q2/Q9/Q11/Q12/Q16/Q20/Q21). The
# fixture has no partsupp table, so lineitem's (l_partkey, l_suppkey)
# pairs serve as the part↔supplier bridge wherever the namesake needs
# partsupp — the planner pattern each query exists to exercise (noted per
# query) is preserved. Appended last to keep bench positions comparable.
# ---------------------------------------------------------------------------

from mrjob_spark.functions.rounding import sql_dsum, sql_rnd  # noqa: E402
from mrjob_spark.functions.vectors import sql_cosine  # noqa: E402


@query(
    "q2_min_cost_supplier",
    sql="""
    WITH eu AS (
        SELECT s_suppkey, s_name, s_acctbal, n_name
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'
    ), pp AS (
        SELECT p_partkey FROM part WHERE p_size <= 10 AND p_type = 'PROMO'
    ), costs AS (
        SELECT l_partkey, s_name, n_name, s_acctbal,
               min(l_extendedprice) AS supply_cost
        FROM lineitem
        JOIN pp ON l_partkey = p_partkey
        JOIN eu ON l_suppkey = s_suppkey
        GROUP BY l_partkey, s_name, n_name, s_acctbal
    ), best AS (
        SELECT l_partkey AS bp, min(supply_cost) AS best_cost
        FROM costs GROUP BY l_partkey
    )
    SELECT l_partkey AS p_partkey, s_name, n_name, s_acctbal, supply_cost
    FROM costs JOIN best ON l_partkey = bp AND supply_cost = best_cost
    """,
)
def q2_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape — for each small promo part, the European supplier(s)
    offering it at the minimum price (lineitem's (partkey, suppkey) pairs
    are the partsupp stand-in; min(l_extendedprice) the supply cost). The
    planner pattern Q2 exists for: the correlated `cost = (SELECT min …)`
    subquery decorrelated into a per-part aggregate joined back, with both
    branches hanging off the SAME grouped table so its shuffle is computed
    once (ReusedExchange), and the region/size/type filters semi-reducing
    the bridge BEFORE the min — at 100 TB the aggregate runs over the ~4%
    of the fact that can survive, never the raw bridge. Supplier name and
    nation ride through the aggregate as functionally-dependent group keys
    (one supplier row each), avoiding a second dim join. The min is a raw
    data double (no arithmetic), so the equality join-back is
    engine-exact."""
    t = Tables(spark, sf_dir)
    eu = F.broadcast(
        t.supplier.join(
            F.broadcast(
                t.nation.join(
                    F.broadcast(t.region),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                ).where(F.col("r_name") == "EUROPE")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        ).select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    pp = F.broadcast(
        t.part.where((F.col("p_size") <= 10) & (F.col("p_type") == "PROMO"))
        .select("p_partkey")
    )
    costs = (
        t.lineitem.join(pp, F.col("l_partkey") == F.col("p_partkey"))
        .join(eu, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey", "s_name", "n_name", "s_acctbal")
        .agg(F.min("l_extendedprice").alias("supply_cost"))
    )
    best = costs.groupBy(F.col("l_partkey").alias("bp")).agg(
        F.min("supply_cost").alias("best_cost")
    )
    return (
        costs.join(
            best,
            (F.col("l_partkey") == F.col("bp"))
            & (F.col("supply_cost") == F.col("best_cost")),
        )
        .select(
            F.col("l_partkey").alias("p_partkey"),
            "s_name",
            "n_name",
            "s_acctbal",
            "supply_cost",
        )
    )


@query(
    "q9_product_type_profit",
    sql=f"""
    SELECT nation, o_year,
           {sql_rnd(sql_dsum("volume - supply_cost"), 2)} AS sum_profit
    FROM (
        SELECT n_name AS nation,
               year(o_orderdate) AS o_year,
               l_extendedprice * (1 - l_discount) AS volume,
               0.1 * p_retailprice * l_quantity AS supply_cost
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN orders ON o_orderkey = l_orderkey
        WHERE p_name LIKE '%widget%'
    ) profit
    GROUP BY nation, o_year
    """,
)
def q9_product_type_profit(spark, sf_dir):
    """TPC-H Q9 shape — per-nation, per-year profit on one product family
    (10% of retail price × quantity stands in for partsupp's supplycost).
    The planner pattern: a five-table star where the ONLY selective filter
    (p_name LIKE) lives on a dim — it must reduce part BEFORE part touches
    lineitem (broadcast of the filtered dim), while orders, carrying no
    filter at all, joins shuffle-side at scale; the profit expression is
    computed rowwise pre-aggregation so the group-by ships one decimal per
    row. Both terms accumulate in DECIMAL(38,6) as one summed expression,
    keeping the subtraction inside the exact accumulator."""
    t = Tables(spark, sf_dir)
    widget_parts = F.broadcast(
        t.part.where(F.col("p_name").like("%widget%")).select(
            "p_partkey", "p_retailprice"
        )
    )
    supp_nation = F.broadcast(
        t.supplier.join(
            F.broadcast(t.nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        ).select("s_suppkey", F.col("n_name").alias("nation"))
    )
    profit = (
        t.lineitem.join(widget_parts, F.col("l_partkey") == F.col("p_partkey"))
        .join(supp_nation, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            # NO broadcast hint here: orders is an unfiltered fact, so the
            # join must stay scale-adaptive (shuffle at 100 TB, AQE may
            # still downgrade to broadcast at fixture scale). A hard hint
            # would force collecting the whole fact — see q12, same policy.
            t.orders.select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            "nation",
            F.year("o_orderdate").cast("long").alias("o_year"),
            (
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
                - F.lit(0.1) * F.col("p_retailprice") * F.col("l_quantity")
            ).alias("net"),
        )
    )
    return profit.groupBy("nation", "o_year").agg(
        rnd(dsum("net"), 2).alias("sum_profit")
    )


@query(
    "q11_important_parts",
    sql=f"""
    WITH val AS (
        SELECT l_partkey, {sql_dsum("l_extendedprice * l_quantity")} AS value
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE n_regionkey = 3
        GROUP BY l_partkey
    )
    SELECT l_partkey AS part_key, {sql_rnd("value", 2)} AS value
    FROM val
    WHERE value > (SELECT {sql_dsum("value")} * 0.0001 FROM val)
    """,
)
def q11_important_parts(spark, sf_dir):
    """TPC-H Q11 shape — parts whose traded value through one region's
    suppliers exceeds a fraction of the region's total (lineitem value
    stands in for partsupp stock value). The planner pattern: the HAVING
    `> (SELECT sum(…) * fraction …)` scalar subquery must NOT rescan the
    fact — the per-part aggregate is computed once and both the threshold
    (a one-row re-aggregate of it, broadcast back) and the filtered output
    hang off that same exchange (the q15/q22 idiom). The threshold compare
    runs on the unrounded decimal-exact sums; rounding touches only the
    output column. At 100 TB the second aggregate's input is one row per
    part, never the fact."""
    t = Tables(spark, sf_dir)
    region_supp = F.broadcast(
        t.supplier.join(
            F.broadcast(t.nation.where(F.col("n_regionkey") == 3)),
            F.col("s_nationkey") == F.col("n_nationkey"),
        ).select("s_suppkey")
    )
    val = (
        t.lineitem.join(region_supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(dsum(F.col("l_extendedprice") * F.col("l_quantity")).alias("value"))
    )
    thr = val.agg((dsum("value") * F.lit(0.0001)).alias("thr"))
    return (
        val.join(F.broadcast(thr))
        .where(F.col("value") > F.col("thr"))
        .select(
            F.col("l_partkey").alias("part_key"),
            rnd("value", 2).alias("value"),
        )
    )


@query(
    "q12_priority_class",
    sql="""
    SELECT l_linestatus AS linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    WHERE l_returnflag = 'R'
      AND l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
    GROUP BY l_linestatus
    """,
)
def q12_priority_class(spark, sf_dir):
    """TPC-H Q12 shape — lines shipped in one year, classified by order
    priority and grouped by line status (the fixture's shipmode stand-in).
    The planner pattern: a genuine fact-to-fact join (orders carries no
    filter — every order's priority is needed), so no broadcast hint: the
    filtered lineitem side shuffles ~1/12 of its rows, AQE picks the
    strategy, and the priority split happens as conditional sums AFTER the
    join rather than two separate joins. The CASE counts sum as integers
    (BIGINT both sides — the span-dedup dtype lesson)."""
    t = Tables(spark, sf_dir)
    li = t.lineitem.where(
        (F.col("l_returnflag") == "R")
        & (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
    ).select("l_orderkey", "l_linestatus")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(
            t.orders.select("o_orderkey", "o_orderpriority"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(F.col("l_linestatus").alias("linestatus"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "q16_supplier_part_counts",
    sql="""
    SELECT p_brand, p_type, p_size,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) bridge
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
      AND NOT EXISTS (SELECT 1 FROM supplier
                      WHERE s_suppkey % 10 = 0 AND s_suppkey = l_suppkey)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q16_supplier_part_counts(spark, sf_dir):
    """TPC-H Q16 shape — how many distinct suppliers can furnish each
    (brand, type, size) bucket, excluding a denylist (suppkey % 10 stands
    in for the namesake's comment-LIKE complaint filter; lineitem pairs
    for partsupp). The planner pattern: the NOT EXISTS (not NOT IN, whose
    three-valued NULL semantics diverge from an anti-join — ADVICE r5)
    compiles to a LEFT ANTI join against a broadcast of the (tiny,
    already-filtered) denylist; the
    part predicates broadcast-reduce the bridge before the distinct
    aggregate; and the distinct-supplier count is a two-phase aggregate
    (partial distinct per partition, exact merge) — no global sort, no
    single-task funnel. The bridge dedup and the count-distinct both key
    on bounded dimensions of the data (parts × suppliers), not raw fact
    rows."""
    t = Tables(spark, sf_dir)
    bridge = t.lineitem.select("l_partkey", "l_suppkey").distinct()
    parts = F.broadcast(
        t.part.where(
            (F.col("p_brand") != "Brand#1")
            & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29)
        ).select("p_partkey", "p_brand", "p_type", "p_size")
    )
    denylist = F.broadcast(
        t.supplier.where(F.col("s_suppkey") % 10 == 0).select("s_suppkey")
    )
    return (
        bridge.join(parts, F.col("l_partkey") == F.col("p_partkey"))
        .join(denylist, F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "q20_dominant_suppliers",
    sql=f"""
    WITH shipped AS (
        SELECT l_partkey, l_suppkey, {sql_dsum("l_quantity")} AS qty
        FROM lineitem
        WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
        GROUP BY l_partkey, l_suppkey
    ), totals AS (
        SELECT l_partkey AS tp, {sql_dsum("qty")} AS total_qty
        FROM shipped GROUP BY l_partkey
    ), dominant AS (
        SELECT DISTINCT l_suppkey
        FROM shipped JOIN totals ON l_partkey = tp
        WHERE qty > 0.5 * total_qty
    )
    SELECT s_name, n_name
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    WHERE n_regionkey = 3
      AND s_suppkey IN (SELECT l_suppkey FROM dominant)
    """,
)
def q20_dominant_suppliers(spark, sf_dir):
    """TPC-H Q20 shape — suppliers in one region who shipped more than
    half of some part's yearly volume (the availqty > 0.5·shipped
    threshold reshaped onto the lineitem bridge). The planner pattern:
    Q20's infamous nested-subquery tower decorrelated into two stacked
    aggregates over ONE fact scan — per-(part, supplier) quantities, then
    per-part totals re-aggregated FROM the first table (ReusedExchange),
    joined back for the threshold test — with the qualifying supplier set
    applied to the dim side as a LEFT SEMI join. Quantities accumulate in
    DECIMAL(38,6), so the 0.5× comparison (an exact power-of-two scale) is
    engine-identical. At 100 TB both aggregates key on bridge
    cardinality."""
    t = Tables(spark, sf_dir)
    shipped = (
        t.lineitem.where(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            # vacuous here, but explicit on BOTH branches: the join-back
            # infers isnotnull(l_partkey) on one branch only, which breaks
            # the canonical subtree equality AQE stage reuse keys on (the
            # q15 lesson)
            & F.col("l_partkey").isNotNull()
            & F.col("l_suppkey").isNotNull()
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(dsum("l_quantity").alias("qty"))
    )
    totals = shipped.groupBy(F.col("l_partkey").alias("tp")).agg(
        dsum("qty").alias("total_qty")
    )
    dominant = (
        shipped.join(totals, F.col("l_partkey") == F.col("tp"))
        .where(F.col("qty") > F.lit(0.5) * F.col("total_qty"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        t.supplier.join(
            F.broadcast(t.nation.where(F.col("n_regionkey") == 3)),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(dominant, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_name", "n_name")
    )


@query(
    "q21_waiting_suppliers",
    sql="""
    SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM lineitem l1
    JOIN orders ON o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
    JOIN supplier ON s_suppkey = l1.l_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE l1.l_returnflag = 'R'
      AND n_regionkey = 2
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s_name
    """,
)
def q21_waiting_suppliers(spark, sf_dir):
    """TPC-H Q21 shape — suppliers in one region who were the SOLE
    returner on a finalized multi-supplier order (returnflag 'R' stands in
    for the missing receipt>commit lateness columns). The planner pattern
    Q21 is famous for: EXISTS and NOT EXISTS against the SAME fact become
    one LEFT SEMI and one LEFT ANTI join, each an equi-join on the order
    key with the supplier inequality as a residual condition — never a
    per-row subquery, never a cartesian. The fact is scanned for the two
    probe sides with only (orderkey, suppkey[, flag]) projected; order
    status filters the orders side before its join. At 100 TB all three
    lineitem branches shuffle on l_orderkey — one partitioning, reused."""
    t = Tables(spark, sf_dir)
    li = t.lineitem.select("l_orderkey", "l_suppkey", "l_returnflag")
    l1 = li.where(F.col("l_returnflag") == "R")
    f_orders = t.orders.where(F.col("o_orderstatus") == "F").select("o_orderkey")
    others = li.select(
        F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2")
    )
    other_returners = (
        li.where(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("s3"))
    )
    region_supp = F.broadcast(
        t.supplier.join(
            F.broadcast(t.nation.where(F.col("n_regionkey") == 2)),
            F.col("s_nationkey") == F.col("n_nationkey"),
        ).select("s_suppkey", "s_name")
    )
    return (
        l1.join(f_orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            others,
            (F.col("l_orderkey") == F.col("o2"))
            & (F.col("l_suppkey") != F.col("s2")),
            "left_semi",
        )
        .join(
            other_returners,
            (F.col("l_orderkey") == F.col("o3"))
            & (F.col("l_suppkey") != F.col("s3")),
            "left_anti",
        )
        .join(region_supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


_CLUSTERS_CAPPED_SQL = """
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
""".format(lsh_sql=sql_minhash_lsh_pairs(threshold=0.6, max_bucket_size=32))


@query("l1_dedup_clusters_capped", sql=_CLUSTERS_CAPPED_SQL)
def l1_dedup_clusters_capped(spark, sf_dir):
    """Duplicate clusters over the CAPPED near-dup graph — the production
    pairing of ``connected_components`` with the hot-bucket guard. The sf1
    scaling run showed the uncapped cluster query inherits LSH's
    boilerplate blowup wholesale (177 s at sf1 vs 3 s at sf0.1, ~57× for
    10× docs — the pair *verification* over quadratically-many hot-bucket
    candidates dominates, before clustering even starts), so the capped
    edge set is what the 100 TB dedup contract actually runs on. Oracle:
    the same WITH RECURSIVE closure over the identically-capped pair SQL —
    a divergence in either the cap or the clustering flips the
    hash. The uncapped twin stays registered as the correctness
    baseline. Like it, a corpus under ``dedup._DRIVER_DOCS`` documents
    gets its pairs from the driver and its labels from a union-find
    there."""
    from mrjob_spark.operators.graph import connected_components

    t = Tables(spark, sf_dir)
    pairs = minhash_lsh_pairs(
        t.documents, "doc_id", "text", threshold=0.6, max_bucket_size=32
    )
    cc = connected_components(pairs, src="doc_a", dst="doc_b")
    return cc.select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_rep")
    )


# ---------------------------------------------------------------------------
# Round 5 sf1 screen: two more scale-path twins. The 10x (sf0.1 -> sf1)
# screen measured j5_range_join at 20.2x and l2_embedding_neardup at
# 20.9x — both quadratic by construction (BNLJ band join; fixed-count IVF
# cells). These are their linear-regime replacements, appended last.
# ---------------------------------------------------------------------------


@query(
    "j5_range_join_bucketed",
    sql="""
    SELECT s_suppkey, count(*) AS n_close_customers
    FROM supplier JOIN customer
      ON c_acctbal BETWEEN s_acctbal - 100 AND s_acctbal + 100
    GROUP BY s_suppkey
    """,
)
def j5_range_join_bucketed(spark, sf_dir):
    """The band join's linear-regime form (the bucketization
    ``j5_range_join``'s own docstring prescribes): quantize the band
    width into equi-join buckets — each supplier row explodes into its
    bucket and the two adjacent ones (3 rows, the small side), customers
    carry their single bucket, the join is a plain equi hash join on the
    bucket key, and the exact BETWEEN runs as a residual filter on the
    ~3·width-bounded candidates. A (customer, supplier) pair can match in
    at most one bucket row (the three offsets are distinct), so no
    dedup is needed and the oracle is j5's verbatim. Work is
    O(rows x density-per-bucket) instead of |customer| x |supplier|: the
    10x screen measured the BNLJ twin at 20.2x per 10x data (both sides
    grow), while this plan's candidate volume grows linearly at fixed
    band width. Same answer, same oracle, by construction."""
    t = Tables(spark, sf_dir)
    supp = (
        t.supplier.select("s_suppkey", "s_acctbal")
        .withColumn(
            "_off", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1)))
        )
        .withColumn(
            "_bkt",
            (F.floor(F.col("s_acctbal") / 100) + F.col("_off")).cast("long"),
        )
    )
    cust = t.customer.select("c_acctbal").withColumn(
        "_bkt", F.floor(F.col("c_acctbal") / 100).cast("long")
    )
    return (
        cust.join(supp, "_bkt")
        .where(
            F.col("c_acctbal").between(
                F.col("s_acctbal") - 100, F.col("s_acctbal") + 100
            )
        )
        .groupBy("s_suppkey")
        .agg(F.count(F.lit(1)).alias("n_close_customers"))
    )


def _sql_neardup_ivf(seed_sql: str, probe: int, threshold: float = 0.4,
                     source: str = "embeddings",
                     source_cte: str = "") -> str:
    """DuckDB oracle for the IVF near-dup family: full quantized k-means
    (``seed_sql`` names the seed-centroid CTE body, one exact integer
    update round, ``rn <= probe`` multi-probe final assignment) +
    candidate join + cosine — parameterized so the cheap tier (k=20,
    probe=2), the production default (k=20, probe=3), the tight-radius
    sf-adaptive tier (k=⌈n/125⌉, probe=4, threshold 0.5), and the
    planted high-similarity tier (``source_cte`` unions deterministic
    perturbed twins into ``source``) share one audited template."""
    cosine = sql_rnd(sql_cosine("CAST(ea.embedding AS DOUBLE[])",
                                "CAST(eb.embedding AS DOUBLE[])"), 6)
    return f"""
    WITH {source_cte}q AS (
        SELECT vec_id,
               list_transform(CAST(embedding AS DOUBLE[]),
                              x -> CAST(floor(x * 1000 + 0.5) AS BIGINT)) AS qv
        FROM {source}
    ), c0 AS (
        {seed_sql}
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
    ), a2 AS (
        SELECT vec_id, cluster FROM (
            SELECT vec_id, cluster,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cluster) AS rn
            FROM d1) zz
        WHERE rn <= {probe}
    ), cand AS (
        SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
        FROM a2 x JOIN a2 y
          ON x.cluster = y.cluster AND x.vec_id < y.vec_id
    )
    SELECT id_a, id_b,
           {cosine} AS cosine
    FROM cand
    JOIN {source} ea ON ea.vec_id = id_a
    JOIN {source} eb ON eb.vec_id = id_b
    WHERE {cosine} >= {threshold}
"""


_NEARDUP_IVF_SQL = _sql_neardup_ivf(
    seed_sql="""SELECT vec_id AS cluster, qv AS cv FROM q
        WHERE vec_id IN (SELECT vec_id FROM q ORDER BY vec_id LIMIT 20)""",
    probe=2,
)

#: production ≥0.7-recall point: k=20 cells, 3-probe. The measured
#: frontier (tools/ivf_frontier.py, SCALE.md §11) collapses onto one
#: recall-vs-work-fraction curve (work ≈ probe²/k) at this threshold, so
#: recall is set by the FRACTION of pair-space probed, not by any
#: √-corpus k rule — k=20/probe=3 is the cheapest config holding ≥0.75
#: recall at BOTH sf0.1 and sf1.
_NEARDUP_IVF_HI_SQL = _sql_neardup_ivf(
    seed_sql="""SELECT vec_id AS cluster, qv AS cv FROM q
        WHERE vec_id IN (SELECT vec_id FROM q ORDER BY vec_id LIMIT 20)""",
    probe=3,
)


#: dimension of the fixture embeddings (tools/gen_sf.py), the one the IVF
#: tiers' verify scores at
_EMB_DIM = 64


def _ivf_neardup_pairs(t, k: int, probe: int, threshold: float,
                       emb=None):
    """Shared body of the IVF near-dup tiers: deterministic fixed-point
    k-means (k cells, 1 Lloyd round, top-``probe`` multi-probe assignment),
    same-cell candidate pairs, then an exact-cosine verify at
    ``threshold``. One corpus scan feeds clustering, and the verify stage
    touches only candidate ids — the corpus never self-joins. ``emb``
    overrides the corpus (the planted tier passes an augmented frame).

    The verify runs through :func:`similarity.arrow_cosine_verify`
    (round 12): bit-identical arithmetic to the zip_with/aggregate fold,
    but vectorized per Arrow batch instead of interpreted per pair —
    measured 8-10× on this family's million-pair candidate sets, with
    strictly fewer bytes moved (ids + per-group distinct vectors instead
    of two full vectors per pair)."""
    from mrjob_spark.operators.clustering import kmeans_assign
    from mrjob_spark.operators.partitioning import parallelize_narrow_scan
    from mrjob_spark.operators.similarity import arrow_cosine_verify

    # the k-means assignment is a MapInArrow pass over the corpus and runs
    # at SCAN parallelism — a single-row-group file would put the whole
    # distance computation on one core (measured: ivf_hi 3.7 -> 2.7 s at
    # sf0.1 from this fan-out; no-op once the layout fills the machine)
    emb_src = emb if emb is not None else parallelize_narrow_scan(
        t.embeddings.select("vec_id", "embedding")
    )
    assign = kmeans_assign(emb_src, k=k, iters=1, probe=probe).select(
        "vec_id", "cluster"
    )
    x, y = assign.alias("x"), assign.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.cluster") == F.col("y.cluster"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .select(
            F.col("x.vec_id").alias("id_a"), F.col("y.vec_id").alias("id_b")
        )
        .distinct()
    )
    return arrow_cosine_verify(
        cand, emb_src.select("vec_id", "embedding"), threshold, dim=_EMB_DIM
    )


@query("l2_embedding_neardup_ivf", sql=_NEARDUP_IVF_SQL)
def l2_embedding_neardup_ivf(spark, sf_dir):
    """Embedding near-dup over RE-CLUSTERED IVF cells with multi-probe —
    the §4 scale knob (cell count grows with the corpus) done right. The
    fixed-cell twin blocks on the 10 precomputed labels, so per-cell pair
    work is quadratic in corpus (measured 20.9× per 10× vectors) AND its
    blocking misses most true pairs (measured 0.093 recall vs the global
    all-pairs truth at sf0.1). This variant re-clusters with the
    deterministic fixed-point k-means (k=20 here; k ∝ √corpus in
    production — a config, not a code change) and assigns each vector to
    its top-2 cells (IVF multi-probe, recovering boundary pairs):
    measured 0.471 recall vs global truth at 0.20× the all-pairs work —
    5× the recall of label-blocking at bounded, k-tunable cost. Why not
    sign-bit hyperplane sub-cells: at this threshold (cosine 0.4 ≈ 66°) a
    random hyperplane separates a true pair with p ≈ 0.37 per bit, so
    4 bits keep only ~0.16 of pairs (measured 0.166 at sf1) — hyperplane
    LSH is a high-similarity tool; data-respecting centroids degrade
    gracefully instead. Oracle: the full quantized k-means (seed = 20
    smallest ids, one exact integer update round, rn ≤ 2 final assign) +
    candidate join + cosine, all in SQL — both engines must agree on
    every centroid, every top-2 assignment, and every scored pair."""
    return _ivf_neardup_pairs(Tables(spark, sf_dir), k=20, probe=2, threshold=0.4)


@query("l2_embedding_neardup_ivf_hi", sql=_NEARDUP_IVF_HI_SQL)
def l2_embedding_neardup_ivf_hi(spark, sf_dir):
    """Embedding near-dup, PRODUCTION ≥0.7-recall operating point (VERDICT
    r5 task 2). The full (k, probe, iters) frontier was measured at sf0.1
    (2k vectors) AND sf1 (20k) with exact all-pairs truth
    (tools/ivf_frontier.py; tables in SCALE.md §11), and the measurement
    REFUTED the obvious knob: a √-corpus-scaled k (k=63→198, probe=4)
    holds 0.765 recall at sf0.1 but collapses to 0.46 at sf1. At this
    threshold (cosine ≥ 0.4 — an absolute far-neighbor cut, not a
    nearest-neighbor query) every (k, probe, iters) config lands on ONE
    recall-vs-work curve with work ≈ probe²/k: recall is bought by the
    fraction of pair-space probed, scale-invariantly, so ≥0.7 recall
    costs ~0.40× all-pairs work at ANY corpus size and no blocking scheme
    makes it linear. k=20/probe=3 is the cheapest measured config holding
    the floor at both scales (0.780 @ sf0.1, 0.774 @ sf1, 0.40× work);
    extra Lloyd's rounds add ≤0.02 recall — iters=1 is the right spend.
    The cheap tier ``l2_embedding_neardup_ivf`` (k=20, probe=2: ~0.51
    recall at 0.19× work) remains for recall-tolerant passes, and the
    √-k rule stays correct where it belongs — the relative-neighbor
    ``l3_knn_*`` family. Oracle checks every centroid, every top-3
    assignment, and every scored pair."""
    return _ivf_neardup_pairs(Tables(spark, sf_dir), k=20, probe=3, threshold=0.4)


_NEARDUP_TIGHT_SQL = _sql_neardup_ivf(
    seed_sql="""SELECT vec_id AS cluster, qv AS cv FROM q
        WHERE vec_id IN (SELECT vec_id FROM q ORDER BY vec_id
            LIMIT (SELECT greatest(16, CAST(ceil(count(*) / 125.0) AS BIGINT))
                   FROM q))""",
    probe=4,
    threshold=0.5,
)


@query("l2_embedding_neardup_tight", sql=_NEARDUP_TIGHT_SQL)
def l2_embedding_neardup_tight(spark, sf_dir):
    """Embedding near-dup at the TIGHT threshold (cosine ≥ 0.5 — the top
    ~1e-5 of this family's pair space; its p9999 pair cosine is 0.44 and
    its max 0.68, so 0.5 is this data's "production near-dup cut") with an
    SF-ADAPTIVE cell count: k = max(16, ⌈n/125⌉) holds expected cell size
    constant as the corpus grows, so same-cell candidate pairs grow
    LINEARLY — measured exponent b = 1.13 for candidates over sf0.1→sf1
    (1.44M → 19.3M at 10× vectors; SCALE.md §12), vs b = 2 for every
    fixed-k tier. Probe=4 buys recall 1.000/1.000/0.612 at
    sf0.01/sf0.1/sf1 against exact all-pairs truth. Why recall can't be
    pushed much past that at sub-quadratic cost HERE: measured geometry
    (SCALE.md §12) puts true 0.5-pairs AT the nearest-neighbor distance
    scale (median pair dist 0.984 vs median 1-NN dist 1.024, random
    1.410), i.e. approximation ratio c ≈ 1.43, and the data-independent
    LSH lower bound ρ ≥ 1/(2c²-1) ≈ 0.33 says ANY hash family needs
    ≳ n^1.33 candidates for high recall on this geometry — the
    data-adapted centroids at b = 1.13 already beat what oblivious LSH
    can do, and the verify join (exact cosine over candidates only) keeps
    precision exact. In a corpus with REAL near-duplicates (cosine ≥ 0.8,
    c ≥ 2.2, ρ ≤ 0.11) the same plan goes properly sub-linear — that
    regime is unit-tested on planted pairs in tests/test_similarity.py
    since the fixtures contain none. Oracle: the same audited k-means
    template with the seed-CTE LIMIT computed from count(*), so both
    engines derive k = 16 at the driver's sf0.01 identically."""
    import math as _math

    t = Tables(spark, sf_dir)
    n = t.embeddings.count()
    k = max(16, _math.ceil(n / 125))
    return _ivf_neardup_pairs(t, k=k, probe=4, threshold=0.5)


#: planted high-similarity tier: every 20th vector gets a deterministic
#: perturbed twin (coords at 0-based positions ≡ 0 mod 5 zeroed — ~20%
#: of squared mass, so cosine(orig, twin) ≈ √0.8 ≈ 0.89, measured min
#: 0.81 on the fixtures), ids offset by 1e9 to stay disjoint. Zeroing is
#: EXACT in both engines (no float arithmetic to disagree on); DuckDB's
#: lambda index is 1-based, hence (i % 5) = 1.
_NEARDUP_PLANTED_SQL = _sql_neardup_ivf(
    seed_sql="""SELECT vec_id AS cluster, qv AS cv FROM q
        WHERE vec_id IN (SELECT vec_id FROM q ORDER BY vec_id
            LIMIT (SELECT greatest(16, CAST(ceil(count(*) / 125.0) AS BIGINT))
                   FROM q))""",
    probe=4,
    threshold=0.8,
    source="all_emb",
    source_cte="""base AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding
        FROM embeddings
    ), planted AS (
        SELECT vec_id + 1000000000 AS vec_id,
               list_transform(CAST(embedding AS DOUBLE[]),
                              (x, i) -> CASE WHEN (i % 5) = 1
                                        THEN 0.0 ELSE x END) AS embedding
        FROM embeddings WHERE vec_id % 20 = 0
    ), all_emb AS (
        SELECT * FROM base UNION ALL SELECT * FROM planted
    ), """,
)


@query("l2_embedding_neardup_planted", sql=_NEARDUP_PLANTED_SQL)
def l2_embedding_neardup_planted(spark, sf_dir):
    """The TRUE near-duplicate regime, oracle-checked (VERDICT r7 task
    4): SCALE.md §12 shows the fixtures contain no pairs above cosine
    0.68, so this query PLANTS them — every 20th vector gains a
    deterministic perturbed twin (one in five coordinates zeroed: ~20%
    of squared mass, cosine ≈ 0.89, measured min 0.81; id offset 1e9)
    — then runs the sf-adaptive tight tier at cosine ≥ 0.8. Zeroing
    involves no float arithmetic, so Spark and DuckDB derive
    bit-identical twins and the whole plan (k-means cells, candidate
    join, exact-cosine verify) must agree pair-for-pair.

    This is the c ≥ 2.2 regime (true-pair distance ≈ 0.47 vs 1-NN
    distance ≈ 1.02), where the LSH lower bound ρ ≤ 1/(2c²-1) ≈ 0.11
    permits properly sub-linear candidate generation — and the
    sf-adaptive cells deliver it: near-identical twins quantize into
    the same cell, so planted pairs survive blocking while candidate
    volume grows at the measured b ≈ 1.1 exponent of the tight tier
    (SCALE.md §12). Contrast with the 0.5-threshold tier, where true
    pairs sit AT the 1-NN scale (c ≈ 1.43) and sub-linear high recall
    is information-theoretically unavailable."""
    import math as _math

    t = Tables(spark, sf_dir)
    base = t.embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    planted = t.embeddings.where(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + F.lit(1000000000)).alias("vec_id"),
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x, i: F.when(i % 5 == 0, F.lit(0.0)).otherwise(x),
        ).alias("embedding"),
    )
    aug = base.unionByName(planted)
    n = t.embeddings.count()
    n_aug = n + -(-n // 20)  # base + planted twins, no second scan
    k = max(16, _math.ceil(n_aug / 125))
    return _ivf_neardup_pairs(t, k=k, probe=4, threshold=0.8, emb=aug)


#: SemDeDup-style pruning pairs: pure within-cluster comparison
#: (probe=1 — each vector lives in exactly ONE cell, the paper's
#: semantics) at a threshold the fixture geometry keeps non-degenerate
#: (natural pairs top out at cosine 0.68; 0.45 yields real drop sets at
#: the driver's sf0.01 and at sf0.1). Cell count is SF-ADAPTIVE like the
#: tight tier — k = max(16, ⌈n/125⌉) holds expected cell size constant,
#: so within-cell pair volume stays linear-ish in the corpus (the paper
#: scales clusters with the corpus for the same reason: ~100k clusters
#: over LAION). Fixed k=16 measured 125.9 s at sf1 vs 32.8 s adaptive.
_SEMDEDUP_PAIRS_SQL = _sql_neardup_ivf(
    seed_sql="""SELECT vec_id AS cluster, qv AS cv FROM q
        WHERE vec_id IN (SELECT vec_id FROM q ORDER BY vec_id
            LIMIT (SELECT greatest(16, CAST(ceil(count(*) / 125.0) AS BIGINT))
                   FROM q))""",
    probe=1,
    threshold=0.45,
)

_SEMDEDUP_SQL = f"""
    WITH drops AS (
        SELECT id_b AS vec_id, min(id_a) AS kept_twin,
               max(cosine) AS max_cosine
        FROM ({_SEMDEDUP_PAIRS_SQL}) p
        GROUP BY id_b
    )
    SELECT e.vec_id, (d.vec_id IS NULL) AS kept, d.kept_twin, d.max_cosine
    FROM embeddings e LEFT JOIN drops d ON d.vec_id = e.vec_id
"""


@query("l2_semdedup_prune", sql=_SEMDEDUP_SQL)
def l2_semdedup_prune(spark, sf_dir):
    """SemDeDup-style semantic pruning (Abbas et al. 2023, "SemDeDup:
    Data-efficient learning at web-scale through semantic
    deduplication"): cluster the embeddings with k-means, compare pairs
    ONLY within their cluster (probe=1 — the paper's exact blocking),
    and emit a per-item training-set verdict — ``kept`` plus, for
    dropped items, the surviving ``kept_twin`` and the ``max_cosine``
    that doomed them. The keep rule is deterministic keep-lowest-id
    (the house rule every dedup operator here uses; the paper keeps the
    item farthest from the centroid — a config choice, not a structural
    one, and RNG-free ids are what make the oracle possible).

    Scale shape: identical to the tight IVF tier — one corpus scan
    feeds the deterministic fixed-point k-means with SF-ADAPTIVE cell
    count k = max(16, ⌈n/125⌉) (expected cell size constant ⇒ within-
    cell pair volume linear-ish in the corpus; fixed k=16 measured
    125.9 s at sf1 vs 32.8 s adaptive), and the
    verdict join is drops-sized: bounded by the duplicate rate, so AQE
    broadcasts it against the corpus-sized id spine. The output is one
    row per corpus item — the artifact a training pipeline consumes
    directly as its keep-list."""
    import math as _math

    t = Tables(spark, sf_dir)
    n = t.embeddings.count()
    k = max(16, _math.ceil(n / 125))
    pairs = _ivf_neardup_pairs(t, k=k, probe=1, threshold=0.45)
    drops = pairs.groupBy(F.col("id_b").alias("vec_id")).agg(
        F.min("id_a").alias("kept_twin"),
        F.max("cosine").alias("max_cosine"),
    )
    return (
        t.embeddings.select("vec_id")
        .join(drops, "vec_id", "left")
        .select(
            "vec_id",
            F.col("kept_twin").isNull().alias("kept"),
            "kept_twin",
            "max_cosine",
        )
    )
