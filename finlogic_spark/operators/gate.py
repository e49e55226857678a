"""Size gate shared by the regime-choosing operators: connected
components and PageRank (small graph → driver, else distributed
rounds) and the bloom-pruned join (broadcast-sized dim → plain
broadcast join, else the bloom filter).

Each of them decides from the same measurement: one aggregate job over
the candidate frame that returns its row count and, when the caller has
a byte budget, the MEASURED ``octet_length`` sums of its string and
binary columns. The estimate is rows × the planner's fixed per-type
widths (``est_row_bytes``) plus those measured bytes. The widths alone
(20 bytes per string) would let a frame of long strings pass a budget on
paper and then force a driver collect or an explicit broadcast far
larger than the budget allows; the fixed widths stay on top as per-row
overhead.

The budgets themselves stay with the operators: the session's
``spark.sql.autoBroadcastJoinThreshold`` (``broadcast_threshold``) for
the join and the PageRank rank table, and
``graph.SMALL_GRAPH_MAX_BYTES`` for the driver-side graph kernels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from finlogic_spark.sources import parse_size_bytes

_WIDTHS = {
    T.BooleanType: 1, T.ByteType: 1, T.ShortType: 2, T.IntegerType: 4,
    T.FloatType: 4, T.DateType: 4, T.LongType: 8, T.DoubleType: 8,
    T.TimestampType: 8,
}


def est_row_bytes(schema: T.StructType) -> int:
    """Planner-style per-row width estimate (the same fixed per-type
    defaults Spark's own stats estimation uses when it has no column
    stats: 20 bytes for a string, the physical width for fixed types)."""
    return max(sum(_WIDTHS.get(type(f.dataType), 20) for f in schema.fields), 1)


def broadcast_threshold(spark: SparkSession) -> int:
    """The session's ``spark.sql.autoBroadcastJoinThreshold`` in bytes;
    ``<= 0`` means broadcasting is off."""
    return parse_size_bytes(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760"),
        default=10 * 1024 * 1024,
    )


def measure(df: DataFrame, budget: int) -> tuple[int, int]:
    """(rows, estimated bytes) of ``df`` from ONE aggregate job. The
    string/binary ``octet_length`` sums are only computed when
    ``budget > 0`` — with no budget nothing can fit, and the callers
    only need the count."""
    var_cols = (
        [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, (T.StringType, T.BinaryType))
        ]
        if budget > 0
        else []
    )
    row = df.agg(
        F.count(F.lit(1)),
        *[F.sum(F.octet_length(F.col(c))) for c in var_cols],
    ).collect()[0]
    n = row[0] or 0
    return n, n * est_row_bytes(df.schema) + sum(v or 0 for v in row[1:])
