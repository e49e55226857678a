"""SparkSession factory tuned for the engine.

Local-mode defaults match the driver harness (local[$SPARK_GRAFT_CPUS]);
on a real cluster the same builder flags hold: AQE for runtime re-plan
(skew joins, partition coalescing), Arrow for any pandas interchange,
UTC session timezone so date semantics are deterministic.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "finlogic-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Honors ``SPARK_GRAFT_CPUS`` for local parallelism. All settings are
    cluster-safe: nothing here assumes single-node execution except the
    ``master`` default, which an existing session (e.g. driver-provided)
    overrides entirely.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    n_shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # local[N] puts driver AND all executor threads in ONE heap —
        # size it for the biggest local workload, not a cluster driver.
        # 8g OOM'd the sf100 dedup-clustering probe (118M-edge graph);
        # the harness box has 128 GiB, so 24g is still conservative.
        # On a real cluster this knob is the driver only and executors
        # are sized by the submitter.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        # Input split size stays at Spark's 128m default: halving it to
        # 64m/32m was measured on the sf100 scan-bound skyline query
        # (1.75 GB orders file) and changed nothing (1.21/1.20/1.40 s) —
        # the env override exists for experiments, not because a
        # different default earned its place.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "128m"),
        )
        # Warehouse for saveAsTable (bucketed tables); keep out of the repo.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/finlogic_spark_warehouse"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """Rows held on the driver → an Arrow-backed ``LocalRelation``.

    ``createDataFrame(list)`` parallelizes a Python RDD, so every action
    on the frame (a broadcast, a collect) runs a Spark job. Passing a
    ``pyarrow.Table`` instead makes a ``LocalRelation`` when the batches
    fit under ``spark.sql.execution.arrow.localRelationThreshold``
    (48 MB by default; larger inputs fall back to an RDD, same rows):
    a collect, a broadcast, or a Project that the optimizer folds into
    the relation then run on the driver with no job. ``schema`` is a
    ``StructType`` or a DDL string; ``rows`` are tuples in its order."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    rows = list(rows)
    table = pa.Table.from_arrays(
        [
            pa.array([r[i] for r in rows], type=f.type)
            for i, f in enumerate(arrow_schema)
        ],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
