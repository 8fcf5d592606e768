"""Declared query surface — the correctness/bench contract.

Every operator family from SURVEY.md §2 is exercised by at least one named
query here. Each query is a ``(spark, sf_dir) -> DataFrame`` callable built
with the DataFrame API (Catalyst optimizes it), paired with an ANSI-SQL
oracle string that DuckDB runs over the same parquet fixtures.

Determinism rules (FIXTURES.md §C): floating aggregates are rounded before
comparison; ranking/top-k queries always carry a unique-key tiebreak; the
driver's value hash is order-insensitive so no global ORDER BY is required,
but LIMIT queries still sort explicitly to make the *row set* deterministic.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from mrjob_spark.catalog import load_table
from mrjob_spark.session import configure_session


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    sql: str | None  # DuckDB oracle; None → driver does rows-only check
    doc: str = ""
    #: set when this query is a CORRECTNESS BASELINE whose physical form is
    #: known super-linear at scale — the value names the registered
    #: production twin that IS the shippable form. Machine-readable "don't
    #: ship this plan" (VERDICT r5 task 4); tests/test_registry.py asserts
    #: every baseline's twin exists.
    baseline_of: str | None = None


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, sql: str | None = None, baseline_of: str | None = None):
    """Register a query under ``name`` with its DuckDB oracle SQL.

    ``baseline_of="twin_name"`` marks the query as a labeled correctness
    baseline (quadratic/cartesian/uncapped form kept for oracle parity and
    honest cost comparison); ``twin_name`` is the linear-regime production
    query that replaces it at scale.
    """

    def deco(fn):
        REGISTRY[name] = QuerySpec(
            name=name, fn=fn, sql=sql, doc=fn.__doc__ or "",
            baseline_of=baseline_of,
        )
        return fn

    return deco


class Tables:
    """Lazy per-query table accessor: ``t.lineitem`` reads the parquet scan
    (column pruning + filter pushdown happen in the plan that uses it)."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self._spark = configure_session(spark)
        self._sf_dir = sf_dir

    def __getattr__(self, name: str) -> DataFrame:
        from mrjob_spark.catalog import TABLES

        if name not in TABLES:
            # dunder probes / typos must raise AttributeError, not surface a
            # confusing AnalysisException on a nonexistent parquet path
            raise AttributeError(
                f"no fixture table {name!r} (have: {', '.join(TABLES)})"
            )
        return load_table(self._spark, self._sf_dir, name)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.fn for name, spec in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: spec.sql for name, spec in REGISTRY.items() if spec.sql is not None}


# Populate the registry.
from mrjob_spark.queries import relational  # noqa: E402,F401
from mrjob_spark.queries import windows  # noqa: E402,F401
from mrjob_spark.queries import llm  # noqa: E402,F401
from mrjob_spark.queries import dataflow_queries  # noqa: E402,F401
from mrjob_spark.queries import streaming_queries  # noqa: E402,F401
from mrjob_spark.queries import io_queries  # noqa: E402,F401
from mrjob_spark.queries import udf_queries  # noqa: E402,F401
from mrjob_spark.queries import composites  # noqa: E402,F401


# ---------------------------------------------------------------------------
# Driver-visibility ordering. The correctness driver differentially checks
# the first 50 registry entries per round. As of round 4 every registered
# query has been driver-green at least once (VERDICT r4), so the window's
# job is FRESHNESS (VERDICT r4 task 2): a query whose latest driver check
# is 3 or more rounds behind the newest CORRECTNESS_r*.json must be back
# inside the window, or explicitly queued below.
# tests/test_registry.py enforces that staleness invariant from the
# CORRECTNESS files themselves. Names listed here but not (yet) registered
# are ignored, so the list can lead the code.
# ---------------------------------------------------------------------------

_DRIVER_PRIORITY = [
    # The staleness policy: CORRECTNESS_r13 is the newest file, so the
    # horizon is r11 and all 39 r10-greens lead — the 34 names the
    # round-13 queue acknowledged plus the f1-f5 rows that overflowed it.
    "a12_approx_percentiles",
    "j5_range_join",
    "u1_union",
    "f1_string_funcs",
    "f2_math_funcs",
    "f3_conditional",
    "f4_datetime",
    "f5_array_funcs",
    "f6_json",
    "f7_hash_funcs",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q18_large_volume_customer",
    "q7_volume_shipping",
    "sql3_portable_windows",
    "l1_incremental_dedup",
    "l1_dedup_clusters",
    "skew_salted_collect_set",
    "mr_wordcount",
    "mr_most_used_word",
    "l2_span_dedup",
    "l2_span_dedup_capped",
    "l2_paragraph_dedup",
    "l2_substring_dedup",
    "l2_substring_dedup_clean",
    "l5_repetition_filter",
    "l4_vocab_coverage",
    "l8_global_shuffle",
    "l8_pipeline_end_to_end",
    "l8_sequence_packing_scalable",
    "l3_embedding_quantize",
    "l3_knn_two_stage",
    "l4_bigram_lm",
    "l5_lm_perplexity",
    "a8_o3_counters_sorted",
    "st6_transform_with_state",
    "st10_stream_pipeline",
    "st11_incremental_ingest",
    "s13_bucketed_join",
    # its docstring promises a driver check EVERY round
    "mr_emr_reference_differential",
    # VERDICT r13 item 2's touched-but-unverified names that are not
    # already stale (the rest of that list leads above)
    "a1_pricing_summary",
    "l1_dedup_clusters_capped",
    "l2_minhash_lsh_capped",
    "l2_embedding_neardup_ivf",
    "l2_embedding_neardup_ivf_hi",
    # touched since r13 (ROADMAP item 5)
    "l2_minhash_lsh_pairs",
    "st12_incremental_neardup",
    "st13_incremental_embedding_neardup",
    "l3_kmeans_assign",
    "l3_knn_ivf_pq",
]


#: Queries that do NOT fit the current 50-entry driver window. Listing them
#: here is an explicit acknowledgment, enforced by tests/test_registry.py:
#: a query may sit beyond the window ONLY if it was driver-green before or
#: is queued here — so displacement is always a choice, never an accident
#: (VERDICT r2 "what's wrong" #1). The cap is the STRUCTURAL overflow the
#: registry size forces — N queries cycle through a 50-slot window against
#: a 3-round horizon, so N − 3×50 greens sit out each round — plus 4
#: slack. Empty at horizon r11: every stale green is inside the window.
#: The 40 r11-greens outside it must LEAD the next reshuffle, when
#: CORRECTNESS_r14 lands and the horizon advances to r12.
_ROTATION_QUEUE: list[str] = []


#: Registration (module) order, preserved before the driver-priority
#: reorder. bench.py iterates THIS order so per-query timings stay
#: position-comparable with BASELINE.md §4, which was recorded in module
#: order — heavy dataflow/RDD queries late, micro relational queries in a
#: fresh session. (Session state accumulated by earlier queries adds a
#: measurable fixed cost to later ones, so order changes masquerade as
#: per-query regressions.)
MODULE_ORDER: list[str] = []


def _reorder_registry() -> None:
    global REGISTRY
    MODULE_ORDER.extend(REGISTRY)
    ordered: dict[str, QuerySpec] = {}
    for name in _DRIVER_PRIORITY:
        if name in REGISTRY:
            ordered[name] = REGISTRY[name]
    for name, spec in REGISTRY.items():
        if name not in ordered:
            ordered[name] = spec
    REGISTRY = ordered


_reorder_registry()
