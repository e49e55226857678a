"""Distributed Lloyd's k-means over an embedding column (engine-scope
addition): trains the centroid table that ``similarity.ivf_topk``
partitions by, turning IVF from seed-vector cells into data-adaptive
cells.

Shape per iteration (the canonical distributed k-means layout):
- assignment: broadcast the k×dim centroid table against the corpus —
  embarrassingly parallel, no shuffle;
- update: one partial-aggregated groupBy(cluster) computing per-dimension
  means (dim avg() columns — stays in whole-stage codegen, no UDF);
- the k×dim result is collected to the driver (centroids are driver-side
  state in every distributed k-means; k·dim ≪ data size).

Iterations are driver-side Python over lazy plans — each iteration is
one Spark job; the corpus should be cached by the caller for multi-pass
training.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from finlogic_spark.operators.similarity import _sql_vec

# Above this many folded literals, switch from the Catalyst-expression
# argmin to the Arrow-vectorized mapInPandas one: a k×dim literal plan
# grows linearly in k and blows up analysis/codegen time at IVF-scale
# cell counts (thousands), while numpy matmul is flat.
EXPR_LITERAL_BUDGET = 8192


def assign_clusters(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    method: str = "auto",
) -> DataFrame:
    """Append a __cluster column: index of the nearest centroid
    (squared-L2, lowest index wins ties). Both methods are narrow,
    shuffle-free maps over the corpus:

    - ``expr``   — the centroid table folds into ONE SQL expression
      (single parse; array_min over (dist, index) structs). Right for
      small k; plan size is O(k·dim) literals.
    - ``pandas`` — Arrow-batched ``mapInPandas`` with a numpy distance
      matmul; the centroid matrix ships in the serialized closure
      (broadcast-equivalent). Right for large k where a literal plan
      would explode.
    - ``auto``   — expr iff k·dim ≤ EXPR_LITERAL_BUDGET.
    """
    k, dim = len(centroids), len(centroids[0])
    if method == "auto":
        method = "expr" if k * dim <= EXPR_LITERAL_BUDGET else "pandas"
    if method == "expr":
        elems = ", ".join(
            f"named_struct('i', {i}, 'cv', {_sql_vec(c)})"
            for i, c in enumerate(centroids)
        )
        scored = (
            f"transform(array({elems}), c -> named_struct("
            f"'d', aggregate(zip_with(`{vec_col}`, c.cv, "
            f"(x, y) -> (x - y) * (x - y)), 0.0D, (acc, v) -> acc + v), "
            f"'i', c.i))"
        )
        return df.withColumn("__cluster", F.expr(f"array_min({scored}).i"))

    import numpy as np

    C = np.asarray(centroids, dtype=np.float64)  # k×dim
    c_sq = (C * C).sum(axis=1)
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField("__cluster", T.IntegerType())]
    )

    def assign(batches):
        for pdf in batches:
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            # ||v-c||² = ||v||² - 2 v·c + ||c||²; ||v||² is constant per
            # row and drops out of the argmin.
            d = c_sq[None, :] - 2.0 * (V @ C.T)
            pdf = pdf.copy()
            pdf["__cluster"] = d.argmin(axis=1).astype("int32")
            yield pdf

    return df.mapInPandas(assign, out_schema)


def kmeans_fit(
    df: DataFrame,
    k: int,
    dim: int,
    max_iters: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    tol: float = 1e-6,
) -> list[list[float]]:
    """Train k centroids; returns them as plain lists (driver-side by
    design — feed them to ``assign_clusters`` or build a (cid, cv)
    DataFrame for ``similarity.ivf_topk``). Initialization is the k
    lowest-id vectors (deterministic, no RNG state)."""
    init = (
        df.orderBy(id_col).limit(k).select(vec_col).collect()
    )
    centroids = [list(map(float, r[vec_col])) for r in init]
    for _ in range(max_iters):
        assigned = assign_clusters(df, centroids, vec_col)
        new_rows = (
            assigned.groupBy("__cluster")
            .agg(
                *[
                    F.avg(F.element_at(F.col(vec_col), i + 1)).alias(f"c{i}")
                    for i in range(dim)
                ]
            )
            .collect()
        )
        new_centroids = list(centroids)  # empty clusters keep their seat
        shift = 0.0
        for r in new_rows:
            c = [float(r[f"c{i}"]) for i in range(dim)]
            old = centroids[r["__cluster"]]
            shift = max(shift, sum((x - y) ** 2 for x, y in zip(c, old)))
            new_centroids[r["__cluster"]] = c
        centroids = new_centroids
        if shift < tol:
            break
    return centroids


def centroids_df(
    spark, centroids: list[list[float]], id_name: str = "cid", vec_name: str = "cv"
) -> DataFrame:
    """Package trained centroids as the (cid, cv) table ivf_topk takes."""
    rows = [(i, c) for i, c in enumerate(centroids)]
    return spark.createDataFrame(rows, f"{id_name} int, {vec_name} array<double>")
