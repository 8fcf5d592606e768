from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("MRJOB_SPARK_TEST_SF_DIR", "/root/testdata/sf0.001")

#: Registry queries that execute a file of the mrjob reference tree, mapped
#: to that file inside the tree. Without it they raise FileNotFoundError.
_REFERENCE_FILES = {
    "mr_emr_reference_differential": (
        "mrjob", "examples", "mr_word_freq_count.py"
    ),
}


def missing_reference_file(name: str) -> str | None:
    """Path of the reference-tree file registry query ``name`` opens, if
    that file is absent; None when it exists or the query opens none.
    Resolved like the query resolves it, so a test that skips on this
    still runs the query wherever the file is there."""
    parts = _REFERENCE_FILES.get(name)
    if parts is None:
        return None
    reference = os.environ.get("MRJOB_REFERENCE_PATH", "/root/reference")
    path = os.path.join(reference, *parts)
    return None if os.path.isfile(path) else path


@pytest.fixture(scope="session")
def spark():
    from mrjob_spark.session import get_spark

    s = get_spark(
        app_name="mrjob_spark_tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.default.parallelism": "4"},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{name}.parquet')"
        )
    yield con
    con.close()
