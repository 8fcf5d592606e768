"""Differential correctness: every registered query vs its DuckDB oracle at
sf0.001 — the same comparison the driver runs at sf0.01 (SURVEY.md §5.2).

Comparison is order-insensitive (rows sorted by all columns after sorting
columns by name), with exact value equality expected because queries round
floats explicitly (FIXTURES.md §C).
"""

from __future__ import annotations

import math

import pytest
from conftest import missing_reference_file

from mrjob_spark.queries import REGISTRY


def _canon(rows, columns):
    """Multiset of rows as sorted tuples of canonicalized values, column
    order normalized by name."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def canon_val(v):
        if v is None:
            return ("_null",)
        if isinstance(v, float):
            if math.isnan(v):
                return ("_nan",)
            return ("f", round(v, 9))
        if hasattr(v, "isoformat"):  # datetime/date
            return ("t", v.isoformat())
        if isinstance(v, bool):
            return ("b", v)
        if isinstance(v, int):
            return ("i", v)
        return ("s", str(v))

    return sorted(tuple(canon_val(r[i]) for i in order) for r in rows)


ORACLE_CASES = sorted(
    (name, spec) for name, spec in REGISTRY.items() if spec.sql is not None
)
ROWS_ONLY_CASES = sorted(
    (name, spec) for name, spec in REGISTRY.items() if spec.sql is None
)


@pytest.mark.parametrize("name,spec", ORACLE_CASES, ids=[n for n, _ in ORACLE_CASES])
def test_query_matches_oracle(spark, duck, sf_dir, name, spec):
    missing = missing_reference_file(name)
    if missing:
        pytest.skip(f"reference file not available: {missing}")
    sdf = spec.fn(spark, sf_dir)
    spark_cols = [c.lower() for c in sdf.columns]
    spark_rows = [tuple(r) for r in sdf.collect()]

    rel = duck.execute(spec.sql)
    duck_cols = [d[0].lower() for d in rel.description]
    duck_rows = rel.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column sets differ: spark={spark_cols} duck={duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row counts differ: spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    s_canon = _canon(spark_rows, spark_cols)
    d_canon = _canon(duck_rows, duck_cols)
    if s_canon != d_canon:
        diffs = [
            (a, b) for a, b in zip(s_canon, d_canon) if a != b
        ][:5]
        pytest.fail(f"{name}: value mismatch, first diffs: {diffs}")


@pytest.mark.parametrize(
    "name,spec", ROWS_ONLY_CASES, ids=[n for n, _ in ROWS_ONLY_CASES]
)
def test_rows_only_queries_run(spark, sf_dir, name, spec):
    df = spec.fn(spark, sf_dir)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(e.oracle_sql()) <= set(e.queries())
