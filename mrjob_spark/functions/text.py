"""Text analysis column functions (SURVEY.md §2.11 L4, F1).

The tokenizer mirrors the reference's wordcount idiom
``WORD_RE = re.compile(r"[\\w']+")`` + ``lower()``
(``mrjob/examples/mr_word_freq_count.py:20-27``) but is implemented as a
JVM-side regexp split so it never leaves codegen. The regex is kept to a
dialect-portable subset (Java regex == RE2 semantics here) so the same
tokenization is expressible in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Portable token-splitting regex: runs identically under Java regex (Spark)
#: and RE2 (DuckDB's regexp_split_to_array).
TOKEN_SPLIT_RE = "[^a-z0-9']+"

#: A small English stopword list (used by quality scoring / langid
#: heuristics; cf. the stop-words side file of
#: ``mrjob/examples/mr_most_used_word.py:33-44``).
STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "this", "for", "on", "with", "as", "are", "was", "at", "by",
)


def bind1(col: Column, f) -> Column:
    """Evaluate ``col`` ONCE per row and hand it to ``f`` as a bound lambda
    variable. Spark's higher-order functions are CodegenFallback
    (interpreted), and an interpreted lambda re-evaluates every CAPTURED
    subexpression per array element — so a per-element lambda that closes
    over a heavy expression (tokenize, lower) multiplies that expression's
    cost by the array length (measured: span_hashes 17.3 s -> 5.3 s at the
    sf1 fixture from this fix alone). A lambda VARIABLE, by contrast, is a
    plain slot lookup; wrapping the heavy column as the element of a
    one-element ``transform`` turns the capture into a binding. Pure
    expression rewrite: same values, same nullability, no plan-shape
    change beyond the wrapper."""
    return F.element_at(F.transform(F.array(col), f), 1)


def simple_lower(col: Column) -> Column:
    """SQL's ``lower``, the simple one-to-one case mapping. Spark's
    ``lower`` is Java's full mapping, which differs on exactly two code
    points: U+0130 lowers to two code points, and a word-final capital
    sigma to ς. Translating those two first gives DuckDB's ``lower``
    (Java 17 and DuckDB share Unicode 13's case tables);
    ``operators/dedup.py:_SIMPLE_LOWER`` is the same mapping in
    Python."""
    return F.lower(F.translate(col, "\u0130\u03a3", "i\u03c3"))


def tokens(col: Column) -> Column:
    """lowercase word tokens, empty strings removed → array<string>."""
    arr = F.split(simple_lower(col), TOKEN_SPLIT_RE)
    return F.filter(arr, lambda x: x != "")


def distinct_tokens(col: Column) -> Column:
    return F.array_distinct(tokens(col))


def normalize_text(col: Column) -> Column:
    """Canonical form for normalized dedup: lowercase, collapse all
    non-alphanumeric runs to single spaces, trim."""
    return F.trim(F.regexp_replace(simple_lower(col), "[^a-z0-9]+", " "))


def char_shingles(text_col: Column, n: int = 8) -> Column:
    """Positional character n-gram shingles of ``lower(text)`` →
    array<string>; built with ``sequence``+``transform`` (JVM-side, no UDF).

    Texts shorter than ``n`` produce the single truncated shingle, matching
    ``substr`` semantics in the SQL oracle.
    """
    # lower(text) is bound once per row (bind1): captured directly in the
    # per-index lambda it would be re-lowered once per shingle, O(len^2)
    return bind1(
        simple_lower(text_col),
        lambda lowered: F.transform(
            F.sequence(
                F.lit(1), F.greatest(F.length(lowered) - (n - 1), F.lit(1))
            ),
            lambda i: F.substring(lowered, i, n),
        ),
    )


def sql_tokens(expr: str) -> str:
    """DuckDB list of tokens equivalent to :func:`tokens` (the apostrophe in
    the regex is doubled for SQL string quoting)."""
    sql_re = TOKEN_SPLIT_RE.replace("'", "''")
    return (
        f"list_filter(regexp_split_to_array(lower({expr}), '{sql_re}'),"
        f" x -> x <> '')"
    )


def sql_normalize_text(expr: str) -> str:
    return f"trim(regexp_replace(lower({expr}), '[^a-z0-9]+', ' ', 'g'))"
