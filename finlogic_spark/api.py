"""Top-level query API (reference entry points: src/finlogic/data.py:28-201).

An ``Engine`` instance replaces the reference's module globals: it holds
lazy, cached DataFrames for financials / trades / language / indicators.
Module-level ``load/info/search_company/search_segment/rank`` keep the
reference's ergonomic surface by delegating to a default engine.

Scale design:
- trades and language are small dimensions → broadcast joins.
- the traded-company restriction is a left-semi join, never a collected
  id list (reference collected to a Python list,
  src/finlogic/data.py:55-56 — a driver OOM at 100 TB).
- indicators are built lazily and cached; on a cluster you would
  ``write_parquet`` them back partitioned by period instead.
- the cached trades and indicators are stored at a partition count
  derived from the input size (``_cache_partitions``), not at the
  shuffle default: AQE cannot shrink the output of a cached plan, and
  every later scan of the cache pays one task per stored partition.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from finlogic_spark import indicators as ind
from finlogic_spark.operators.dedup import keep_first, keep_last
from finlogic_spark.operators.topk import top_k
from finlogic_spark.session import local_frame

SEARCH_COLS = ("name_id", "cvm_id", "tax_id")
SHOW_COLS = (
    "name_id",
    "cvm_id",
    "tax_id",
    "segment",
    "is_restructuring",
    "most_traded_stock",
)


class Engine:
    """Holds the four loaded tables and answers the reference queries."""

    def __init__(
        self,
        spark: SparkSession,
        financials: DataFrame,
        trades: DataFrame,
        language: DataFrame,
        is_traded: bool = True,
        min_volume: float = 100_000,
        entry_order_col: str | None = None,
        cache: bool = True,
        data_url: str | None = None,
    ):
        self.spark = spark
        self.data_url = data_url or "(in-memory)"
        self.entry_order_col = entry_order_col
        trades = trades.filter(F.col("volume") >= min_volume)
        order = [entry_order_col] if entry_order_col else []
        # One row per company. Sized before the semi-join below uses it,
        # so the cached trades plan is the one inside financials and
        # filling the financials cache fills it too.
        trades = keep_last(trades, ["cvm_id"], ["trade_date", *order])
        self.trades = trades.coalesce(_cache_partitions(trades))
        if is_traded:
            financials = financials.join(
                self.trades.select("cvm_id"), "cvm_id", "left_semi"
            )
        self.financials = financials
        self.language = language
        self.indicators = ind.build_indicators(financials, entry_order_col)
        if cache:
            self.financials = self.financials.cache()
            self.trades = self.trades.cache()
            # The indicators follow the financials scan they derive from.
            self.indicators = self.indicators.coalesce(
                _cache_partitions(financials)
            ).cache()

    @functools.cached_property
    def language_names(self) -> dict[str, str]:
        """PT → EN account names, collected once on first use (a small
        dimension, which the reference also holds in memory)."""
        t = self.language.select("pt", "en").toArrow()
        return {p: e for p, e in zip(t["pt"].to_pylist(), t["en"].to_pylist()) if e is not None}

    @classmethod
    def from_urls(
        cls,
        spark: SparkSession,
        financials_url: str,
        trades_url: str,
        language_url: str,
        cache_dir: str | None = None,
        refresh: bool = False,
        **kwargs,
    ) -> "Engine":
        """Reference-parity remote ingestion (``fl.load()`` needs no
        local files — src/finlogic/data.py:16-19,44,49,58): download
        each parquet once into a local cache, then scan lazily. Works
        with https:// and file:// URLs; repeat loads hit the cache."""
        from finlogic_spark.sources import fetch_to_cache

        cache_dir = cache_dir or os.path.join(
            os.path.expanduser("~"), ".cache", "finlogic_spark"
        )
        paths = {
            name: fetch_to_cache(url, cache_dir, f"{name}.parquet", refresh)
            for name, url in (
                ("financials", financials_url),
                ("trades", trades_url),
                ("language", language_url),
            )
        }
        kwargs.setdefault("data_url", financials_url)
        return cls(
            spark,
            spark.read.parquet(paths["financials"]),
            spark.read.parquet(paths["trades"]),
            spark.read.parquet(paths["language"]),
            **kwargs,
        )

    @classmethod
    def from_parquet_dir(
        cls, spark: SparkSession, data_dir: str, **kwargs
    ) -> "Engine":
        read = lambda n: spark.read.parquet(os.path.join(data_dir, f"{n}.parquet"))
        kwargs.setdefault(
            "data_url", os.path.join(data_dir, "financials.parquet")
        )
        return cls(
            spark, read("financials"), read("trades"), read("language"), **kwargs
        )

    # ---- reference: info() (src/finlogic/data.py:70-95) ----
    def info(self) -> DataFrame:
        """Key/value summary, the reference's full 7-key contract
        (data_url, memory_usage, accounting_entries, number_of_reports,
        first_report, last_report, number_of_companies). One Spark job:
        all scalar aggregates are computed in a single ``agg`` pass, not
        one job per stat, and the result rows come back as a local
        frame, so collecting it runs no job. memory_usage is the
        Catalyst size estimate of financials + trades (the distributed
        analogue of the reference's ``estimated_size()`` — driver RAM is
        not where the data lives)."""
        stats = self.financials.agg(
            F.count("*").alias("entries"),
            F.count_distinct("cvm_id", "is_annual", "period_end").alias("reports"),
            F.min("period_end").alias("first_report"),
            F.max("period_end").alias("last_report"),
            F.count_distinct("cvm_id").alias("companies"),
        ).first()
        data_size = _estimated_size(self.financials) + _estimated_size(self.trades)
        rows = [
            ("data_url", self.data_url),
            ("memory_usage", f"{data_size / 1024**2:.1f} MB"),
            ("accounting_entries", str(stats["entries"])),
            ("number_of_reports", str(stats["reports"])),
            ("first_report", str(stats["first_report"])),
            ("last_report", str(stats["last_report"])),
            ("number_of_companies", str(stats["companies"])),
        ]
        return local_frame(self.spark, rows, "key string, `FinLogic Info` string")

    # ---- reference: search_segment (src/finlogic/data.py:98-100) ----
    def search_segment(self, search_value: str) -> DataFrame:
        return (
            self.trades.select("segment")
            .distinct()
            .filter(F.col("segment").contains(search_value))
            .orderBy("segment")
        )

    # ---- reference: search_company (src/finlogic/data.py:103-149) ----
    def search_company(self, search_value, search_by: str = "name_id") -> DataFrame:
        # Deterministic one-row-per-company: the reference keeps the
        # first row in stable file order (data.py:124-126); Spark has no
        # physical order, so pin an explicit tiebreak. dropDuplicates
        # would pick an arbitrary (name_id, tax_id) row.
        ids = keep_first(
            self.financials.select(*SEARCH_COLS), ["cvm_id"], ["name_id", "tax_id"]
        )
        df = ids.join(F.broadcast(self.trades), "cvm_id")
        match search_by:
            case "name_id":
                # The reference upper-cases the needle only (stored names
                # are upper-case) — preserved verbatim.
                df = df.filter(F.col("name_id").contains(str(search_value).upper()))
            case "cvm_id":
                df = df.filter(F.col("cvm_id") == int(search_value))
            case "tax_id":
                df = df.filter(F.col("tax_id") == search_value)
            case "segment":
                df = df.filter(F.col("segment").contains(search_value))
            case _:
                raise ValueError("Invalid value for 'search_by' argument.")
        return df.select(*SHOW_COLS)

    # ---- reference: rank (src/finlogic/data.py:152-201) ----
    def rank(
        self,
        segment: str | None = None,
        n: int = 10,
        rank_by: str = "operating_margin",
        is_consolidated: bool = True,
    ) -> DataFrame:
        """Latest report row per company ⋈ trades ⋈ indicators →
        filter → top-n. Plan: one dedup window shuffle + two broadcast
        hash joins + TakeOrderedAndProject."""
        seg_filter = (
            F.lit(True) if segment is None else F.col("segment").contains(segment)
        )
        latest = keep_last(
            self.financials.select("cvm_id", "name_id", "period_end", "is_consolidated"),
            ["cvm_id"],
            ["period_end", "is_consolidated"],
        )
        joined = (
            latest.join(F.broadcast(self.trades.drop("volume", "trade_date")), "cvm_id")
            .join(
                self.indicators.select("cvm_id", rank_by, "is_consolidated", "period_end"),
                ["cvm_id", "period_end", "is_consolidated"],
            )
            .filter(seg_filter & (F.col("is_consolidated") == is_consolidated))
        )
        return top_k(joined, rank_by, n).select(
            "name_id",
            "most_traded_stock",
            "cvm_id",
            "is_restructuring",
            "is_consolidated",
            "segment",
            "period_end",
            rank_by,
        )


def _estimated_size(df: DataFrame) -> int:
    """Catalyst's optimized-plan size estimate in bytes (for file
    sources this is the on-disk footprint; for cached plans the
    in-memory stats)."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def _cache_partitions(df: DataFrame) -> int:
    """Partitions to store a cached ``df`` in: one per
    ``spark.sql.files.maxPartitionBytes`` of the analyzed plan's size
    estimate (the rule a file scan splits its input by), capped at the
    shuffle-partition default. The analyzed plan already exists, so this
    costs no planning and no job; a source without a size estimate gets
    the cap."""
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    size = int(df._jdf.queryExecution().analyzed().stats().sizeInBytes())
    per_part = int(conf.filesMaxPartitionBytes())
    return max(1, min(-(-size // per_part), int(conf.numShufflePartitions())))


# ---- module-level convenience mirroring the reference API ----
_DEFAULT: Engine | None = None


def load(
    spark: SparkSession,
    data_dir: str,
    is_traded: bool = True,
    min_volume: float = 100_000,
    **kwargs,
) -> Engine:
    """Load the dataset and set it as the default engine.

    ``data_dir`` may be a local directory OR a remote base URL
    (https:// or file://) holding ``financials/trades/language.parquet``
    — the reference's ``load()`` needs no local files
    (src/finlogic/data.py:16-19,44,49,58); remote parquet is downloaded
    once into a local cache (see ``Engine.from_urls``)."""
    global _DEFAULT
    if data_dir.startswith(("http://", "https://", "file://")):
        base = data_dir.rstrip("/")
        _DEFAULT = Engine.from_urls(
            spark,
            f"{base}/financials.parquet",
            f"{base}/trades.parquet",
            f"{base}/language.parquet",
            is_traded=is_traded,
            min_volume=min_volume,
            **kwargs,
        )
    else:
        _DEFAULT = Engine.from_parquet_dir(
            spark, data_dir, is_traded=is_traded, min_volume=min_volume, **kwargs
        )
    return _DEFAULT


def _engine() -> Engine:
    if _DEFAULT is None:
        raise RuntimeError("call finlogic_spark.load(spark, data_dir) first")
    return _DEFAULT


def info() -> DataFrame:
    return _engine().info()


def search_company(search_value, search_by: str = "name_id") -> DataFrame:
    return _engine().search_company(search_value, search_by)


def search_segment(search_value: str) -> DataFrame:
    return _engine().search_segment(search_value)


def rank(
    segment: str | None = None,
    n: int = 10,
    rank_by: str = "operating_margin",
    is_consolidated: bool = True,
) -> DataFrame:
    return _engine().rank(segment, n, rank_by, is_consolidated)
