"""Table loaders for the engine.

The reference ingests remote Parquet eagerly into module globals
(reference: src/finlogic/data.py:16-25,44-58). Here ingestion is a lazy
``spark.read.parquet`` with explicit schemas where the engine owns the
table (FinLogic-shaped fixtures), or schema-on-read for the driver's
TPC-H-ish test tables. Nothing is collected at load time; callers decide
when to ``.cache()``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def fetch_to_cache(
    url: str, cache_dir: str, filename: str | None = None, refresh: bool = False
) -> str:
    """Download a remote parquet once into a local cache and return the
    local path (the reference reads parquet straight off HTTPS,
    src/finlogic/data.py:16-19,44,49,58; Spark cannot scan ``https:``
    URIs, so ingestion is download-once → ``spark.read.parquet``).

    The cache key is the URL's md5 plus its basename, so distinct URLs
    never collide and re-loads are free. ``file://`` URLs work too
    (hermetic tests). Downloads go to a ``.part`` temp name and rename
    atomically — a crashed download never poisons the cache.

    Scale note: this is the DRIVER-side ingestion path for small dim
    tables (the reference's entire dataset is a few hundred MB). Bulk
    100 TB data should land in object storage reachable by executors
    (s3a/abfss/hdfs) and be scanned directly — see load_table.
    """
    import hashlib
    import urllib.request
    from urllib.parse import urlparse

    os.makedirs(cache_dir, exist_ok=True)
    base = filename or os.path.basename(urlparse(url).path) or "data.parquet"
    key = hashlib.md5(url.encode()).hexdigest()[:12]
    local = os.path.join(cache_dir, f"{key}-{base}")
    if refresh or not os.path.exists(local):
        tmp = f"{local}.part"
        urllib.request.urlretrieve(url, tmp)
        os.replace(tmp, local)
    return local


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy Parquet scan of one driver table.

    Filters/projections applied downstream reach this scan via Catalyst
    pushdown — check ``PushedFilters`` / ``ReadSchema`` in ``.explain``.
    """
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def write_fact_layout(
    df: DataFrame,
    table: str,
    keys: list[str],
    time_col: str,
    num_buckets: int = 128,
    grain: str = "day",
    tiebreak_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> str:
    """Materialize a time-series fact table in the layout every
    keyed-window/agg/join over it can ride exchange-free: the truncated
    timestamp stored as a column ``bkt_<grain>``, ONE file per bucket,
    bucketed AND sorted by (keys..., bkt, time_col, tiebreaks...).
    Returns the bucket column's name.

    This is the measured sf100 recipe behind the zero-exchange TWAP
    plan (0.25x vs DuckDB where the flat layout sits at 1.99x — the
    window's hash exchange and 100M-row sort both disappear into the
    write) and the bucketed TPC-H join wins: pay one shuffle at write
    time, amortized across every downstream plan keyed the same way.
    Why each piece matters:

    - stored ``bkt_<grain>`` column: a derived date_trunc(ts) is opaque
      to the planner; a stored column participates in bucket pruning
      and lets HashPartitioning(keys..., bkt) be PROVEN satisfied.
    - repartition before write: exactly one file per bucket, so the
      bucket's sortBy order is the file's physical order and
      ``read_fact_layout`` may report it (multi-file buckets would need
      a merge, which is why the reporting conf is off by default).
    - sort (keys..., bkt, time, tiebreaks): the exact required ordering
      of per-(key, bucket) windows — lead/lag, keep-last, resample.

    Use for fact tables re-read many times (the 100 TB norm); for
    one-shot scans the write cost doesn't amortize. The plan proof is
    pinned in tests/test_storage.py::test_fact_layout_twap_rides_api.
    """
    tiebreaks = list(tiebreak_cols or [])
    bkt = f"bkt_{grain}"
    bucket_keys = [*keys, bkt]
    write_bucketed(
        df.withColumn(bkt, F.date_trunc(grain, F.col(time_col))).repartition(
            num_buckets, *[F.col(c) for c in bucket_keys]
        ),
        table,
        bucket_keys,
        num_buckets,
        sort_cols=[*bucket_keys, time_col, *tiebreaks],
        mode=mode,
    )
    return bkt


def read_fact_layout(spark: SparkSession, table: str) -> DataFrame:
    """Read back a ``write_fact_layout`` table with sort-order
    reporting enabled (spark.sql.legacy.bucketedTableScan.
    outputOrdering): the layout's one-file-per-bucket writes are
    exactly the case the conf exists for, and without it the planner
    re-sorts what the files already guarantee. Session-wide conf — set
    here rather than per-plan because Spark has no narrower knob."""
    spark.conf.set(
        "spark.sql.legacy.bucketedTableScan.outputOrdering", "true"
    )
    return spark.table(table)


def write_financials_layout(
    financials: DataFrame,
    path: str,
    mode: str = "overwrite",
) -> None:
    """Materialize the financials fact table in its 100 TB layout:
    hive-partitioned by report year, files sorted by (cvm_id,
    period_end) within each partition.

    - Partition by year → per-period queries (quarterly keep-last,
      report tail-k, date-range scans) prune whole directories; the
      scan's PartitionFilters line is the proof (tests/test_storage.py).
    - Sort by cvm_id within files → parquet row-group min/max statistics
      turn per-company point lookups (Company._set_df's cvm_id filter)
      into row-group skips instead of full scans.

    The long-form canonical table stays the source of truth; this is a
    storage projection of it. For shuffle-free repeated joins on cvm_id
    use sources.write_bucketed instead (bucketing needs the table
    catalog; partitioning works on plain paths).
    """
    (
        financials.withColumn("report_year", F.year("period_end"))
        .repartition("report_year")
        .sortWithinPartitions("cvm_id", "period_end")
        .write.mode(mode)
        .partitionBy("report_year")
        .parquet(path)
    )


def parse_size_bytes(size: str, default: int = 128 * 1024 * 1024) -> int:
    """Tolerant Spark size-conf parser: '134217728b', '128m', '128MB',
    '1g', or a bare number. Unparseable values fall back to the 128 MiB
    Spark default rather than raising."""
    s = str(size).strip().lower()
    mult = 1
    for suffix, m in (("kb", 2**10), ("mb", 2**20), ("gb", 2**30), ("tb", 2**40),
                      ("k", 2**10), ("m", 2**20), ("g", 2**30), ("t", 2**40),
                      ("b", 1)):
        if s.endswith(suffix):
            s, mult = s[: -len(suffix)], m
            break
    try:
        return int(float(s) * mult)
    except ValueError:
        return default


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Fan a narrow scan out to cluster parallelism when the source
    cannot be split (single-row-group Parquet, gzip text, tiny files).

    At 100 TB scans carry thousands of row-group splits and this is a
    no-op; the repartition only fires when the scan has fewer partitions
    than the cluster can run concurrently — there, one small shuffle
    unlocks N-way parallelism for all downstream per-row compute
    (tokenization, hashing, vector math), which otherwise serializes on
    the scan stage's single task.

    The split estimate comes from the scan's file metadata
    (``df.inputFiles`` + maxPartitionBytes), NOT ``df.rdd`` — converting
    the plan to an RDD on the driver forces a full physical-planning
    pass (and pins the un-adaptive plan), pure waste for a size probe.
    Non-file sources (no inputFiles) conservatively repartition.
    """
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if files:
        max_split = parse_size_bytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
        )
        total = 0
        for f in files:
            p = f.removeprefix("file:")
            if os.path.isfile(p):
                total += os.path.getsize(p)
            else:  # non-local store: can't stat -> assume unsplittable
                total = 0
                break
        est_splits = max(len(files), int(total // max_split)) if total else len(files)
        if est_splits >= target:
            return df
    return df.repartition(target)


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Materialize a derived table (the reference has no sinks; the engine
    does — e.g. the indicators table, reference src/finlogic/data.py:66,
    is better written back than recomputed).

    ``partition_by`` is the 100 TB lever: partition fact tables by a
    low-cardinality time column so per-period queries prune files.
    """
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 16,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Materialize a bucketed (and optionally sorted) table.

    Bucketing is the co-located-join lever at 100 TB: two tables
    bucketed by the same key into the same bucket count join with NO
    exchange — each task reads matching buckets from both sides. Sorted
    buckets additionally drop the sort from sort-merge joins. See
    tests/test_storage.py for the plan proof.
    """
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # A crashed prior session can leave the managed location behind with
    # no catalog entry; saveAsTable refuses to reuse it.
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "").removeprefix("file:")
    if warehouse:
        import shutil

        shutil.rmtree(os.path.join(warehouse, table), ignore_errors=True)
    writer = df.write.mode(mode).format("parquet").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


# ---------------------------------------------------------------------------
# Text formats (CSV / JSON lines) — schema-explicit ingest + sinks
# ---------------------------------------------------------------------------

def read_csv(
    spark: SparkSession,
    path: str,
    schema: str,
    header: bool = True,
    **options,
) -> DataFrame:
    """CSV scan with a REQUIRED explicit schema.

    Schema inference reads the data twice and guesses types per-file —
    at 100 TB that is a full extra pass and a correctness hazard
    (inference can disagree across files). An explicit DDL string makes
    the scan single-pass and the types stable. Malformed rows land in
    the PERMISSIVE default's null columns; pass mode='FAILFAST' to make
    ingest strict instead."""
    return (
        spark.read.options(header=str(header).lower(), **options)
        .schema(schema)
        .csv(path)
    )


def read_json(
    spark: SparkSession, path: str, schema: str, **options
) -> DataFrame:
    """JSON-lines scan with a REQUIRED explicit schema (same
    single-pass / type-stability rationale as read_csv). Fields absent
    from the schema are pruned at parse time — Jackson never
    materializes them."""
    return spark.read.options(**options).schema(schema).json(path)


def write_csv(
    df: DataFrame, path: str, header: bool = True, mode: str = "overwrite"
) -> None:
    """CSV sink (interchange edge — parquet stays the analytic
    format; CSV carries no types, no stats, no pruning)."""
    df.write.mode(mode).option("header", str(header).lower()).csv(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-lines sink (interchange edge, same caveats as CSV)."""
    df.write.mode(mode).json(path)


def read_orc(spark: SparkSession, path: str, **options) -> DataFrame:
    """ORC scan — the columnar interchange format for Hive-era lakes.
    ORC files carry their own schema + stripe-level min/max stats, so
    (unlike CSV/JSON) no explicit DDL is needed and predicate pushdown
    works like parquet's (Spark's vectorized ORC reader honors
    PushedFilters)."""
    return spark.read.options(**options).orc(path)


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """ORC sink, optionally hive-partitioned — for pipelines whose
    downstream is an ORC-native warehouse. Parquet remains this
    engine's analytic default; both carry types, stats, and pruning."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def read_evolved(
    spark: SparkSession,
    paths: list[str],
    renames: dict[str, str] | None = None,
    casts: dict[str, str] | None = None,
) -> DataFrame:
    """Read parquet written under an EVOLVING schema as one DataFrame —
    the add-column / rename-column / widen-type story a long-lived
    table accumulates (what Delta/Iceberg call schema evolution,
    expressed with Spark primitives).

    - Added columns: ``mergeSchema`` unions the file schemas; files
      written before a column existed yield NULL for it — one footer
      read per file, no data rewrite.
    - Renamed columns: parquet matches by name, so a rename looks like
      drop+add. ``renames`` maps old→new; each old column's values are
      coalesced into the new name (old files populate it, new files
      already carry it), then the old name is dropped.
    - Widened types: ``casts`` maps column→target type, applied last
      (e.g. int→bigint, float→double — the lossless widenings).

    At 100 TB none of this touches data files: schema reconciliation is
    footer metadata + per-row projection in the scan. The rewrite-free
    property is exactly why evolution beats migration for big tables.
    """
    df = spark.read.option("mergeSchema", "true").parquet(*paths)
    for old, new in (renames or {}).items():
        if old in df.columns and new in df.columns:
            df = df.withColumn(new, F.coalesce(F.col(new), F.col(old))).drop(
                old
            )
        elif old in df.columns:
            df = df.withColumnRenamed(old, new)
    for col, dtype in (casts or {}).items():
        if col in df.columns:
            df = df.withColumn(col, F.col(col).cast(dtype))
    return df
