"""DataFrame-side sources & sinks beyond parquet (SURVEY.md §2.1).

S7-rest (CSV/JSON scans), S10 (partitioned sink), S11 (file-count control),
S12 (output cat/merge) for the relational surface; the dataflow API has its
own text/compressed/part-file path in ``mrjob_spark.dataflow.runner``.

Scale notes:

- CSV/JSON scans take an explicit schema: schema inference reads the data
  twice, which is a full extra pass at 100 TB. All helpers here require or
  derive one up front.
- ``partitionBy`` on write is Hive-style layout (``col=value/part-*``) —
  the downstream read prunes partitions on a filter over the partition
  column for free (reference's nicknack multi-output,
  ``mrjob/examples/mr_nick_nack.py:30-50``).
- ``max_output_files`` maps to ``coalesce`` exactly like the reference's
  option (``mrjob/spark/harness.py:266-268``): it caps files WITHOUT a
  shuffle. It does not rebalance; for that use ``repartition``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def read_csv(
    spark: SparkSession,
    path: str,
    schema=None,
    *,
    header: bool = True,
    **options,
) -> DataFrame:
    """S7 CSV scan. Without ``schema``, falls back to inference (two passes
    over the data — acceptable locally, avoid at scale)."""
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path, **options)


def read_json(spark: SparkSession, path: str, schema=None, **options) -> DataFrame:
    """S7 JSON-lines scan (one object per line, splittable)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path, **options)


def read_hadoop_input_format(
    spark: SparkSession,
    path: str,
    input_format_class: str = "org.apache.hadoop.mapreduce.lib.input.TextInputFormat",
    key_class: str = "org.apache.hadoop.io.LongWritable",
    value_class: str = "org.apache.hadoop.io.Text",
    conf: dict | None = None,
):
    """S6: arbitrary Hadoop InputFormat scan via ``newAPIHadoopFile`` —
    the reference passes ``-inputformat`` straight to Hadoop streaming
    (``mrjob/job.py:1313-1322``); here any (K, V) InputFormat on the
    classpath yields a pair RDD. For formats Spark has a native reader for
    (text/csv/json/parquet/orc/avro), prefer ``spark.read`` — this is the
    escape hatch for custom formats only."""
    return spark.sparkContext.newAPIHadoopFile(
        path,
        inputFormatClass=input_format_class,
        keyClass=key_class,
        valueClass=value_class,
        conf=conf or {},
    )


def local_frame(
    spark: SparkSession, columns: "dict | pyarrow.Table", schema: str = ""
) -> DataFrame:
    """A small driver-built table -- centroids, a codebook, a bloom
    bitmap, a stopword list, a micro-batch's verdicts -- as an Arrow
    ``LocalRelation``.

    ``columns`` is either a ``pyarrow.Table`` (its own schema, e.g. one
    from :func:`collect_bounded`) or a dict mapping each field of the
    DDL ``schema`` to its list of values; a missing field is empty. The
    rows live in the plan itself, so collecting or broadcasting the
    frame runs no Spark job. ``createDataFrame`` over Python rows
    builds a Python-RDD scan instead, and every read of it is a job
    through a Python worker: building and collecting a 16-row, 64-dim
    centroid table took a median 678 ms that way against 63 ms here
    (local[4], 4 vCPUs)."""
    import pyarrow as pa

    if isinstance(columns, pa.Table):
        return spark.createDataFrame(columns)
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    arrow = to_arrow_schema(_parse_datatype_string(schema))
    table = pa.table(
        [pa.array(columns.get(f.name, []), f.type) for f in arrow],
        schema=arrow,
    )
    return spark.createDataFrame(table)


def collect_bounded(df: DataFrame, limit: int) -> "pyarrow.Table | None":
    """``df``'s rows as a ``pyarrow.Table`` when there are at most
    ``limit`` of them, else ``None`` -- one action either way.

    The driver-side twin of :func:`local_frame`: an operator that can
    finish a small input in Python asks for it here and falls back to
    its distributed plan on ``None``. Collecting ``limit + 1`` rows is
    what keeps an input above the bound off the driver. Two hazards:

    - Bound the SOURCE rows, not a plan derived from them. The limit
      scans partitions incrementally: one job over the first
      partition, then rounds over more partitions
      (``spark.sql.limit.scaleUpFactor``) until it holds ``limit + 1``
      rows, so over a post-shuffle plan each round is one more job
      after the shuffle's own. Above the bound the derived plan has
      then run once for nothing before the fallback runs it again.
      The streaming admission bounds a micro-batch's documents, not
      its band rows (16 per document).
    - Accumulators upstream of the limit under-count. A Python worker
      whose output the limit stops reading loses its accumulator
      updates (a counting UDF read through ``limit(1)`` reported 0 of
      40 rows). Count before an exchange, or count on the fallback.

    The limit may also stop reading a partition early, so persist
    ``df`` first if the fallback reads it again: a persisted partition
    is computed whole, once."""
    table = df.limit(limit + 1).toArrow()
    return table if table.num_rows <= limit else None


def write_table(
    df: DataFrame,
    path: str,
    *,
    fmt: str = "parquet",
    partition_by: list[str] | None = None,
    max_output_files: int | None = None,
    compression: str | None = None,
    mode: str = "overwrite",
    header: bool = True,
) -> None:
    """S8/S9/S10/S11 sink: format + codec + Hive partitioning + file cap."""
    if max_output_files is not None:
        df = df.coalesce(max_output_files)
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if compression:
        writer = writer.option("compression", compression)
    if fmt == "csv":
        writer = writer.option("header", str(header).lower())
    writer.format(fmt).save(path)


def cat_output(
    spark: SparkSession, path: str, *, fmt: str = "parquet", schema=None
) -> DataFrame:
    """S12 output cat/merge: read a job's output directory back as one
    DataFrame. Spark's committed-output readers already skip ``_SUCCESS``
    and hidden ``_``/``.`` files — the same convention the reference's
    ``cat_output`` implements by hand (``mrjob/runner.py:512-556``)."""
    if fmt == "csv":
        return read_csv(spark, path, schema)
    if fmt == "json":
        return read_json(spark, path, schema)
    if fmt == "text":
        return spark.read.text(path)
    return spark.read.parquet(path)


def write_bucketed_table(
    df: DataFrame,
    spark: SparkSession,
    table_name: str,
    *,
    buckets: int,
    bucket_cols: list[str],
    sort_cols: list[str] | None = None,
    path: str | None = None,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Bucketed (hash-clustered, optionally sorted) table write — the
    co-located-join layout.

    Both sides of a recurring join written with the same ``buckets`` /
    ``bucket_cols`` join WITHOUT any exchange: each task reads matching
    bucket files from both tables, so the shuffle is paid once at write
    time instead of on every query. At 100 TB this is the difference
    between re-shuffling the fact table per query and never shuffling it;
    aggregations on the bucket key skip their exchange the same way.
    ``sort_cols`` additionally pre-sorts within buckets (shuffle-free
    sort-merge join). ``path`` makes the table external (data at ``path``,
    metadata in the session catalog); bucketing metadata lives in the
    catalog, which is why this is ``saveAsTable``, not ``save``.
    """
    writer = df.write.mode(mode).format(fmt).bucketBy(buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)
