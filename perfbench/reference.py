"""Independent reference answers, computed by DuckDB from the registry's
oracle SQL, never by the Spark code under test.

References are pure functions of the generated inputs and the oracle
SQL, so they are cached on disk per ``(workload, seed, input digest,
oracle SQL digest)`` and computed before the timed passes start.
"""

from __future__ import annotations

import json
import os

import duckdb
import pyarrow as pa

from gen import JACCARD_THRESHOLD as THRESHOLD
from mrjob_spark.operators.dedup import sql_minhash_lsh_pairs
from mrjob_spark.queries.streaming_queries import _st12_sql, _st13_sql

MAX_BUCKET_SIZE = 32


def _con(**tables: pa.Table) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    for name, table in tables.items():
        con.register(name, table)
    return con


def _documents(rows) -> pa.Table:
    return pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": [r[1] for r in rows],
    })


def components(pairs) -> dict[int, int]:
    """Union-find over undirected pairs: node -> min id of its component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def dedup_sql() -> str:
    return sql_minhash_lsh_pairs(THRESHOLD, MAX_BUCKET_SIZE)


def stream_sql() -> list[str]:
    """The st12 (MinHash band) and st13 (IVF) oracles, in that order."""
    return [_st12_sql(), _st13_sql(probe=2, threshold=0.4)]


def dedup_reference(docs) -> dict:
    """Pairs from ``sql_minhash_lsh_pairs``, clusters from a union-find
    over them, and the kept ids: every doc that is its cluster's minimum
    or in no pair."""
    con = _con(documents=_documents(docs))
    pairs = con.execute(dedup_sql()).fetchall()
    comp = components((a, b) for a, b, _ in pairs)
    kept = sorted(i for i, _ in docs if comp.get(i, i) == i)
    return {
        "pairs": sorted([int(a), int(b), float(j)] for a, b, j in pairs),
        "kept": kept,
    }


def stream_reference(rows) -> dict:
    """Admitted arrival ids by the st12 (MinHash band) and st13 (IVF)
    oracles. A streamed run is checked on its admitted SET: a cross-batch
    near-dup reads ``dup_of_history`` in the stream where the one-shot
    oracle says ``dup_in_batch``, but rejection itself is order-invariant
    (the rule of tests/test_streaming.py's convergence tests)."""
    con = _con(
        documents=_documents(rows),
        embeddings=pa.table({
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "embedding": pa.array([r[2] for r in rows], pa.list_(pa.float32())),
        }),
    )
    band, ivf = (con.execute(sql).fetchall() for sql in stream_sql())
    return {
        "neardup_admitted": sorted(int(r[0]) for r in band if r[1] == "new"),
        "embedding_admitted": sorted(int(r[0]) for r in ivf if r[1] == "new"),
        "arrivals": sum(1 for r in rows if r[0] % 10 == 9),
    }


def cached(cache_dir: str, key: str, compute):
    """``compute()`` memoized as JSON under ``cache_dir/key.json``."""
    path = os.path.join(cache_dir, key + ".json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    value = compute()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as fh:
        json.dump(value, fh)
    os.replace(tmp, path)
    return value
