"""Scalar/column function families (SURVEY.md §2.8, F1-F7) plus the text /
vector helpers the LLM-pipeline operators build on.

Everything here returns Spark ``Column`` expressions built from
``pyspark.sql.functions`` so the whole pipeline stays JVM-side inside
whole-stage codegen — no Python UDFs in any hot path.
"""

from mrjob_spark.functions.hashing import hex_hash64, hex_hash32  # noqa: F401
from mrjob_spark.functions.text import (  # noqa: F401
    tokens,
    distinct_tokens,
    char_shingles,
    normalize_text,
)
from mrjob_spark.functions.vectors import cosine_similarity, dot, l2_norm  # noqa: F401
