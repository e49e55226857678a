"""The persisted-index format (engine-scope addition): one parquet table
partitioned by one int column, plus a ``_stats`` parameter sidecar.

Every serving index kept on disk builds, appends and opens through this
module: vector LSH and IVF (operators/similarity.py), MinHash-LSH
buckets (operators/text_dedup.py), positional and frequency postings
with the latter's ``_forward`` twin (operators/search.py), and the BPE
model's sidecar (operators/bpe.py). At 100 TB each is an asset that is
appended to, not rebuilt, so a fix to the layout must reach all of them.

Layout under ``path``: the index rows ``partitionBy(part_col)`` — a
probe that knows its partition values (LSH table, IVF cell, MinHash
band, token or doc-id bucket) is a partition-pruned scan — and
``_stats/``, the build parameters that serving and appends reuse and a
caller never re-supplies, so an append cannot drift from the stored
layout (the underscore hides it from the main table's listing).

Jobs: ``spark.read.parquet`` infers a schema with one Spark job. The
sidecar is read with its DDL given, and a frame read back after a
write (``read_written``) with the schema the written rows imply, so
neither pays it (tests/test_index_table.py pins jobs per build, append
and open). Other writers that read their own output again use
``read_written`` too: the streaming drain's batches, PageRank's round
tables and sidecar, and the registry's stored sketch and fingerprint
tables.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from finlogic_spark.session import local_frame

STATS = "_stats"


def _nullable(t: T.DataType) -> T.DataType:
    """``t`` with every field and array element nullable — the schema
    Spark gives a parquet file it reads back."""
    if isinstance(t, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _nullable(f.dataType), True) for f in t.fields]
        )
    if isinstance(t, T.ArrayType):
        return T.ArrayType(_nullable(t.elementType), True)
    return t


def write_params(spark: SparkSession, path: str, ddl: str, rows) -> None:
    """Write ``rows`` (tuples in ``ddl`` order) as the ``_stats``
    sidecar of the index under ``path``."""
    local_frame(spark, rows, ddl).write.mode("overwrite").parquet(
        os.path.join(path, STATS)
    )


def params_frame(spark: SparkSession, path: str, ddl: str) -> DataFrame:
    """The ``_stats`` sidecar as a frame, read with its schema given."""
    return spark.read.schema(ddl).parquet(os.path.join(path, STATS))


def read_params(spark: SparkSession, path: str, ddl: str) -> list[Row]:
    """The ``_stats`` sidecar's rows: one job, no schema inference."""
    return params_frame(spark, path, ddl).collect()


def read_written(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """The parquet table under ``path`` that was written from a frame
    of ``schema``, read with that schema in the nullable form parquet
    gives it back — the same frame as ``spark.read.parquet(path)``
    without its schema-inference job. Partition columns discovered
    under ``path`` and absent from ``schema`` are appended as Spark
    infers them."""
    return spark.read.schema(_nullable(schema)).parquet(path)


def write_index(
    rows: DataFrame,
    path: str,
    part_col: str,
    *,
    sort_col: str | None = None,
    n_parts: int | None = None,
    params: tuple[str, list] | None = None,
    mode: str = "overwrite",
) -> DataFrame:
    """Write ``rows`` as the index table under ``path`` and return its
    serving frame.

    ``mode="overwrite"`` builds; ``"append"`` adds files to the
    partitions of an existing index and leaves its files untouched.
    ``n_parts`` repartitions by ``part_col`` first, so each partition
    value is written by one task; ``sort_col`` sorts the rows of each
    file by it (row-group min/max skipping for selective lookups).
    ``params`` is a ``(ddl, rows)`` pair written as the ``_stats``
    sidecar.

    The serving frame is read with the schema the written ``rows``
    imply — every column nullable, as parquet reads it back, then
    ``part_col`` as the int that partition discovery infers for small
    ids — so it equals a fresh open without the inference job."""
    if n_parts is not None:
        rows = rows.repartition(n_parts, F.col(part_col))
    if sort_col is not None:
        rows = rows.sortWithinPartitions(part_col, sort_col)
    rows.write.partitionBy(part_col).mode(mode).parquet(path)
    spark = rows.sparkSession
    if params is not None:
        write_params(spark, path, *params)
    data = [f for f in rows.schema.fields if f.name != part_col]
    schema = T.StructType(data + [T.StructField(part_col, T.IntegerType(), True)])
    return read_written(spark, path, schema)
