"""Distributed Bloom filter build + map-side probe (SURVEY.md §2.11 L8).

The decontamination operator (``queries/llm.py:l8_decontaminate``) probes
corpus shingles against the *exact* benchmark shingle set via a broadcast
hash join — correct and fast while that set broadcasts.  At 100 TB the
benchmark side can be a full eval-suite union (billions of n-grams,
tens of GB): too big for an exact broadcast, while shuffling the corpus
against it costs a corpus-sized exchange.  The standard fix is a Bloom
filter: a FIXED-size bitmap (config, not data, decides its size) that
answers "definitely not present / maybe present" with zero false
negatives, so it is a pure pre-filter — every true match survives, and
the false positives are removed by an exact join that now touches only
the candidate rows.

Scale shape:

* **Build** is one aggregation whose shuffle volume is bounded by the
  bitmap size, never the input: each value sets k bits, the bits are
  OR-combined per 64-bit word map-side (bit_or is algebraic, so Catalyst
  partial aggregation collapses each partition to ≤ m/64 rows before the
  exchange), and the collected result is m/64 longs of driver state —
  128 KiB at the default 2^20 bits, same legitimacy class as the k-means
  centroids (clustering.py).  Duplicate inputs need no pre-distinct:
  bit-OR is idempotent.
* **Probe** is map-side only: the bitmap rides a broadcast one-row
  DataFrame (BroadcastNestedLoopJoin over exactly one row) and membership
  is k JVM bit-tests — no exchange touches the probed stream.

The bloom hash family is ``xxhash64(value, seed)`` — Spark-internal and
NOT oracle-portable, which is fine *because the filter never affects
output values*: queries using it confirm candidates with an exact join,
so their DuckDB oracle is the plain exact SQL (no false negatives by
construction — property-tested in tests/test_bloom.py).

Reference basis: mrjob has no Bloom operator; this extends the L8
decontamination row (SURVEY §2.11) the way ``mrjob/examples/
mr_text_classifier.py`` extends classification — a training-pipeline
step the engine must own at scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mrjob_spark.sources import local_frame

__all__ = ["bloom_build", "bloom_filter_maybe"]

#: default bitmap size: 2^20 bits = 16384 longs = 128 KiB of driver state.
DEFAULT_M_BITS = 1 << 20
#: default hash count. With n inserted values, FP rate ~ (1-e^{-kn/m})^k:
#: at n = 100k and m = 2^20, ~0.55% — and any FP only costs one extra row
#: in the exact confirmation join, never a wrong answer.
DEFAULT_K = 5


def _pos_exprs(value_expr: str, m_bits: int, k: int) -> list[str]:
    """SQL expressions for the k bit positions of ``value_expr``.

    Seeded xxhash64 gives k independent-enough hashes from one family;
    pmod keeps positions in [0, m_bits).
    """
    return [
        f"pmod(xxhash64({value_expr}, {i}), {m_bits}L)" for i in range(k)
    ]


def bloom_build(
    df: DataFrame,
    value_expr: str,
    m_bits: int = DEFAULT_M_BITS,
    k: int = DEFAULT_K,
) -> list[int]:
    """Aggregate ``value_expr`` over ``df`` into a Bloom bitmap.

    Returns the bitmap as ``m_bits // 64`` Python ints (64-bit words,
    signed — word i holds bits [64*i, 64*i+64)).  The aggregation is
    ``groupBy(word) → bit_or(mask)``: algebraic, so the shuffle carries at
    most ``m_bits/64`` rows per upstream partition regardless of input
    size, and the single ``collect`` is the bitmap itself — fixed-size
    driver state, not data.
    """
    n_words = m_bits // 64
    pos = ", ".join(_pos_exprs(value_expr, m_bits, k))
    words = (
        df.selectExpr(f"explode(array({pos})) AS pos")
        .selectExpr(
            "CAST(pos DIV 64 AS INT) AS w",
            "shiftleft(1L, CAST(pos % 64 AS INT)) AS m",
        )
        .groupBy("w")
        .agg(F.expr("bit_or(m)").alias("bits"))
        .collect()
    )
    bitmap = [0] * n_words
    for row in words:
        bitmap[row["w"]] = row["bits"]
    return bitmap


def bloom_filter_maybe(
    df: DataFrame,
    value_expr: str,
    bitmap: list[int],
    m_bits: int = DEFAULT_M_BITS,
    k: int = DEFAULT_K,
) -> DataFrame:
    """Keep only rows whose ``value_expr`` the Bloom filter *might* contain.

    Guarantees: every row whose value was inserted at build time survives
    (no false negatives); non-members survive with the filter's FP
    probability, so a downstream exact join sees candidates, not the
    corpus.  The bitmap arrives as a broadcast one-row DataFrame — the
    same broadcast-scalar pattern as the tf-idf corpus count — and the
    membership test is k element_at + bit-AND JVM expressions; nothing
    here exchanges the probed stream.
    """
    spark = df.sparkSession
    bloom_row = local_frame(
        spark, {"__bloom_words": [bitmap]}, "__bloom_words array<bigint>"
    )
    # name the k positions once so each xxhash64 evaluates once per row
    pos_cols = {
        f"__bloom_pos_{i}": F.expr(e)
        for i, e in enumerate(_pos_exprs(value_expr, m_bits, k))
    }
    probed = df.crossJoin(F.broadcast(bloom_row)).withColumns(pos_cols)
    test: Column = F.lit(True)
    for i in range(k):
        p = f"__bloom_pos_{i}"
        test = test & (
            F.expr(
                f"element_at(__bloom_words, CAST({p} DIV 64 AS INT) + 1)"
                f" & shiftleft(1L, CAST({p} % 64 AS INT))"
            )
            != 0
        )
    return probed.where(test).drop("__bloom_words", *pos_cols)
